package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-parallelism repair for CPU-heavy per-row kernels (guide §2.5
  * "input skew" / §1.2 "choose a partitioning").
  *
  * A scan of one small (or unsplittable) file yields a single input
  * partition, so every downstream per-row kernel — shingling, minhash,
  * hyperplane projections, regex scans, media decode — runs on ONE core
  * no matter how many the session has; measured on the sf0.1 bench these
  * single-task stages are 60-90% of the hot queries' wall time. The fix
  * is the guide's: repartition right after the read, BUT only when the
  * scan actually under-provisions the session — at production scale a
  * parquet scan already carries ≥ parallelism splits and a blanket
  * repartition would shuffle the whole corpus for nothing, so the
  * fan-out is gated on the observed partition count and is the identity
  * on any well-partitioned input.
  *
  * Round-robin repartition is safe here: every kernel downstream is a
  * per-row pure function feeding order-insensitive aggregations/joins,
  * and Spark's sort-before-repartition (SPARK-23207) keeps the row→
  * partition assignment stable under task retries.
  */
object Par {

  /** Storage level for multi-consumer localCheckpoint reuse cuts
    * (r8 third pass): SERIALIZED, not the deserialized default. Storing
    * deserialized blocks routes every put through
    * `SizeTracker`/`SizeEstimator`, whose object-graph sampling walks
    * were the TOP sampled frame of the checkpoint-heavy queries once
    * shuffle I/O was fixed (379/≈1100 runnable task samples on q73);
    * serialized blocks have exact byte sizes (no estimation) and
    * UnsafeRow payloads serialize as length+bytes. Measured on q73:
    * 17 → 19 runs per 20 s window.
    */
  val cutLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** `df` redistributed to the session's parallelism iff its physical
    * plan yields fewer partitions (single-file scan, generated range);
    * identity otherwise. Results are partition-independent for every
    * caller by contract.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** [[fanOut]] with an OPTIMIZER BARRIER for callers that apply an
    * EXPENSIVE filter right after the fan-out: Catalyst pushes Filter
    * through Repartition, which would drag the predicate back into the
    * single-task scan stage and undo the fan-out (measured on the bloom
    * probe: the whole md5 membership test ran below the exchange). The
    * RDD round-trip pins the repartition; rows pay one ser/de.
    */
  def fanOutBarrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p)
      spark.createDataFrame(df.repartition(p).rdd, df.schema)
    else df
  }
}
