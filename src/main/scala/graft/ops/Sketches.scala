package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import TextOps.hexInt

/** Deterministic sketches for 100 TB-scale approximate analytics.
  *
  * Unlike approx_count_distinct (HLL++ — implementation-defined binary
  * state, not replayable cross-engine), these sketches derive every draw
  * from md5, so the DuckDB oracle reproduces the ESTIMATE bit-for-bit:
  * the approximation is deterministic, auditable, and testable — the
  * property a production data-quality pipeline wants from its sketches.
  */
object Sketches {

  /** KMV (k-minimum-values) distinct-count estimator per group
    * (Bar-Yossef et al. 2002, public algorithm): keep the k smallest
    * distinct 60-bit hashes; if fewer than k exist the count is exact,
    * else estimate = (k-1) · 2^60 / h_k.
    *
    * PRODUCTION PATH — no exact distinct aggregation anywhere in this
    * plan (that is the whole point of the sketch: it replaces
    * COUNT(DISTINCT) when the group no longer fits anywhere; asserted in
    * PlanSpec). The k smallest are found scalably: after the distinct,
    * every partition keeps at most k candidates per group (bounded
    * max-heap — state is groups×k per task), so the final per-group
    * selection runs over ≤ partitions·k rows instead of sorting the
    * group's entire hash set.
    */
  def kmvEstimate(docs: DataFrame, k: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val h = docs.select(col("source"), hexInt(col("text")).as("h")).distinct()
    val cand = h.as[(String, Long)]
      .mapPartitions { it =>
        val heaps = new java.util.HashMap[String,
          java.util.PriorityQueue[java.lang.Long]]()
        it.foreach { case (src, v) =>
          val pq = heaps.computeIfAbsent(src, _ =>
            new java.util.PriorityQueue[java.lang.Long](
              k + 1, java.util.Collections.reverseOrder()))
          if (pq.size < k) pq.add(v)
          else if (pq.peek() > v) { pq.poll(); pq.add(v) }
        }
        import scala.jdk.CollectionConverters._
        heaps.entrySet().iterator().asScala.flatMap(e =>
          e.getValue.iterator().asScala.map(v => (e.getKey, v.longValue())))
      }
      .toDF("source", "h")
    val w = Window.partitionBy("source").orderBy("h")
    val kmin = cand.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .groupBy("source")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n_kept"))
    val est = when(col("n_kept") < k, col("n_kept"))
      .otherwise(floor(lit((k - 1).toDouble * 1152921504606846976.0) / col("hk"))
        .cast("long"))
    kmin.select(col("source"), est.as("kmv_estimate"))
  }

  /** Count-min sketch over word frequencies (Cormode & Muthukrishnan
    * 2005, public algorithm) with deterministic md5 row-hashes, so the
    * DuckDB oracle reproduces every counter bit-for-bit. The sketch is
    * built from the word-count table — the corpus is aggregated ONCE and
    * only the vocab-sized table fans out ×depth; counters merge
    * associatively (the property that lets a 1000-executor job build one
    * global sketch with a tiny final reduce). Returns the evaluation
    * view: top-k words with exact count and CMS estimate — estimate ≥
    * exact by construction (one-sided error), asserted in OpsSpec.
    */
  def cmsWordCounts(docs: DataFrame, depth: Int = 4, width: Int = 64,
                    topK: Int = 20): DataFrame = {
    def bucket = pmod(hexInt(concat(col("j"), lit("_"), col("word"))), lit(width))
    val wc = docs.select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "") // same guard as buildVocab: irregular
      // spacing must not let '' claim a top-k probe slot
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // counters AND the top-k probe set read it
    val seeded = wc
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("h", bucket)
    val counters = seeded.groupBy("j", "h").agg(sum("cnt").as("c"))
    val probes = wc.orderBy(desc("cnt"), asc("word")).limit(topK)
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("h", bucket)
    probes.join(counters, Seq("j", "h"))
      .groupBy("word")
      .agg(max("cnt").as("exact_count"), min("c").as("cms_estimate"))
      .select(col("word"), col("exact_count"), col("cms_estimate"))
  }

  /** Mergeable KMV approximate-distinct AGGREGATE — [[kmvEstimate]]'s
    * estimator packaged as a groupBy-able aggregate function with
    * BOUNDED state (a ≤ k sorted distinct hash array), so partial
    * aggregation combines map-side and the exchange carries k longs per
    * group instead of the group's whole key set. This is the lineage
    * commit path's distinct-doc counter: at 100 TB an exact
    * COUNT(DISTINCT doc_id) per bucket per micro-batch is a corpus-keyed
    * shuffle every commit; the sketch is one bounded merge. Same md5
    * hash family as everything else → the estimate is deterministic
    * under any partitioning, and EXACT whenever the true count < k
    * (toy-scale batches — parity asserted in tests).
    */
  private[graft] class KmvDistinctAgg(k: Int)
      extends Aggregator[String, Array[Long], Long] {
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], v: String): Array[Long] = {
      // COUNT(DISTINCT) null semantics: a NULL input contributes nothing
      // (the exact aggregate this sketch replaces silently ignored NULLs;
      // mirrored in the q94 DuckDB oracle's `uid IS NOT NULL` guard)
      if (v == null) return b
      val h = TextOps.h60(md, v)
      val pos = java.util.Arrays.binarySearch(b, h)
      if (pos >= 0) b // already present
      else {
        val ins = -pos - 1
        if (b.length >= k && ins >= k) b // worse than the kept k
        else {
          val n = math.min(b.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // merge two sorted distinct arrays, keep the k smallest
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < a.length || j < b.length)) {
        val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
        val v = if (takeA) a(i) else b(j)
        if (takeA) i += 1 else j += 1
        if (i < a.length && a(i) == v) i += 1 // cross-array duplicate
        if (j < b.length && b(j) == v) j += 1
        out(o) = v; o += 1
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
    def finish(b: Array[Long]): Long =
      if (b.length < k) b.length.toLong
      // double math like [[kmvEstimate]]: (k-1)·2^60 overflows a long
      else math.floor((k - 1).toDouble * 1152921504606846976.0 /
        b(b.length - 1)).toLong
    def bufferEncoder: Encoder[Array[Long]] =
      SparkSession.active.implicits.newLongArrayEncoder
    def outputEncoder: Encoder[Long] = SparkSession.active.implicits.newLongEncoder
  }

  /** [[KmvDistinctAgg]] as a UserDefinedFunction over one string column. */
  def approxDistinctUdaf(k: Int = 64)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new KmvDistinctAgg(k), org.apache.spark.sql.Encoders.STRING)

  /** Per-source count-min sketch — the grouped face of [[cmsWordCounts]]:
    * a 100 TB curation run always slices by source, so the sketch must
    * exist per slice. One counter table keyed (source, j, h) — sketches
    * of ALL sources build in a single aggregation pass (counters still
    * merge associatively within each source), and the probe set is the
    * per-source top-k over the source×vocab-sized word-count table (a
    * window over vocab-sized data, never over the corpus). Same
    * deterministic md5 bucketing, same one-sided error per source.
    */
  def cmsWordCountsGrouped(docs: DataFrame, depth: Int = 4, width: Int = 64,
                           topK: Int = 5): DataFrame = {
    def bucket = pmod(hexInt(concat(col("j"), lit("_"), col("word"))), lit(width))
    // NOT fanned out (r8): the split+count kernel is too light — the
    // repartition's fixed cost exceeded the parallelism gain in a
    // same-window A/B (0.29 -> 0.49 s); contrast the md5/shingle
    // kernels where fan-out wins 4-10x
    val wc = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "") // buildVocab's empty-token guard
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // counters AND the probe set read it
    val seeded = wc
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("h", bucket)
    val counters = seeded.groupBy("source", "j", "h").agg(sum("cnt").as("c"))
    val w = Window.partitionBy("source").orderBy(desc("cnt"), asc("word"))
    val probes = wc.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK).drop("rn")
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("h", bucket)
    probes.join(counters, Seq("source", "j", "h"))
      .groupBy("source", "word")
      .agg(max("cnt").as("exact_count"), min("c").as("cms_estimate"))
      .select(col("source"), col("word"), col("exact_count"),
        col("cms_estimate"))
  }

  /** WINDOWED KMV: approximate distinct users per (1-hour event-time
    * window, event_type) via the mergeable [[approxDistinctUdaf]] — the
    * time-sliced face of the sketch family (a streaming quality monitor
    * asks exactly this, with bounded ≤k-long state per window instead
    * of a distinct-user shuffle per slice). Window starts are exact
    * integer epoch arithmetic (the q81 discipline) so the layout and —
    * because the sketch is md5-deterministic — the ESTIMATES replay
    * bit-for-bit in the DuckDB oracle.
    */
  def kmvWindowed(events: DataFrame, k: Int = 16): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 3600000000 * 3600000000").as("window_us"),
        col("user_id").cast("string").as("uid"))
      .groupBy("window_us", "event_type")
      .agg(approxDistinctUdaf(k)(col("uid")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window_us"), col("event_type"), col("n_events"),
        col("approx_users"))

  /** Evaluation query (q39): [[kmvEstimate]] joined with the exact
    * COUNT(DISTINCT) it approximates — the accuracy report, NOT the
    * production operator (the exact side deliberately pays the cost the
    * estimate avoids).
    */
  def kmvDistinct(docs: DataFrame, k: Int = 16): DataFrame = {
    val exact = docs.groupBy("source")
      .agg(countDistinct(col("text")).as("exact_distinct"))
    kmvEstimate(docs, k).join(exact, "source")
      .select(col("source"), col("exact_distinct"), col("kmv_estimate"))
  }
}
