package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reusable skew-salted equi-join — the generic form of the technique
  * the KG linker applies to Zipf-headed mention surfaces
  * (kg/Linker.scala `linkSaltedCarry`): without salting, every row of a
  * heavy key lands on ONE reduce task and the job runs at the speed of
  * its hottest key.
  *
  * Only HEAVY keys are salted: fact rows of a heavy key scatter across
  * `salts` sub-keys (salt derived from the input partition id — cheap,
  * and spreads as long as input partitions ≫ salts), and the dim rows
  * of those keys are replicated `salts`×; everything else joins
  * unreplicated on salt 0, so dim-side blowup is O(heavy keys · salts),
  * never O(dim). The join RESULT is salt-invariant — verified by the
  * plain-join oracle — salting only reroutes rows.
  *
  * Heavy-key detection here is an exact count threshold (deterministic,
  * auditable — [[Diagnostics.skewReport]] is its reporting twin); at
  * 100 TB swap in a sampled head like `Linker.inferSkewKeysNorm` — a Zipf
  * head survives 1% sampling, and a missed head key costs only the
  * unsalted slow path, never correctness.
  */
object SaltedJoin {

  /** Inner equi-join fact ⋈ dim on `key` with heavy-key salting.
    * `dim` must be unique per key (replication would otherwise duplicate
    * matches). Output columns: fact's then dim's (minus the join key).
    */
  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, key: String,
                     heavyThreshold: Long, salts: Int = 8): DataFrame = {
    // the two working columns are part of the contract — fail loudly on
    // collision instead of an opaque AMBIGUOUS_REFERENCE mid-plan
    Seq("_heavy", "_salt").foreach { c =>
      require(!fact.columns.contains(c) && !dim.columns.contains(c),
        s"saltedEquiJoin reserves working column '$c'; rename it in the input")
    }
    // the head stays distributed: a broadcast left join marks heavy rows
    // at O(1) per probed row — no driver collect, no literal key array
    // in the plan (which would codegen O(|head|) comparisons per row and
    // blow up the plan when the head isn't tiny). Materialized once
    // (tiny), read by both the fact and dim flagging joins.
    val heavy = fact.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .where(col("n") >= heavyThreshold)
      .select(col(key), lit(true).as("_heavy"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    def flag(df: DataFrame): DataFrame =
      df.join(broadcast(heavy), Seq(key), "left")
        .withColumn("_heavy", coalesce(col("_heavy"), lit(false)))
    val factS = flag(fact).withColumn("_salt",
        when(col("_heavy"), pmod(spark_partition_id(), lit(salts)))
          .otherwise(lit(0)))
      .drop("_heavy")
    val dimS = flag(dim).withColumn("_salt",
        explode(when(col("_heavy"), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("_heavy")
    factS.join(dimS, Seq(key, "_salt")).drop("_salt")
  }
}
