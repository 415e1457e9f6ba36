package graft.streaming

import graft.model.{Alias, Doc, LineageRow, Triple}
import graft.pipeline.KgPipeline
import graft.store.LineageStore
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingestion of interleaved documents → incremental
  * triple materialization.
  *
  * The reference is request/response + batch (SURVEY §2.9) — its closest
  * analogs map here: per-request micro-batch with result cache (ST2) →
  * foreachBatch with idempotent batch commits; epoch-checkpoint resume
  * (ST3) → batch-id-keyed lineage rows.
  *
  * Exactly-once contract: each micro-batch writes its triples under
  * `triples_stream/batch=<id>/` with DYNAMIC partition overwrite (a
  * replayed batch rewrites the same partition with identical content —
  * the pipeline is deterministic), then appends one lineage row per
  * bucket keyed `snapshot_id = "batch-<id>"`. A batch whose snapshot is
  * already in lineage is skipped entirely.
  */
object StreamIngest {

  def streamPath(root: String) = s"$root/triples_stream"
  def canonPath(root: String) = s"$root/canon_stream"
  def qualityPath(root: String) = s"$root/_quality"

  /** Start the ingestion query over a parquet-directory doc stream. */
  def run(spark: SparkSession, docsStream: Dataset[Doc], root: String,
          ctx: KgPipeline.LinkContext,
          aliases: Dataset[Alias],
          cfg: KgPipeline.Config = KgPipeline.Config(),
          checkpoint: String): StreamingQuery = {
    docsStream.writeStream
      .queryName("graft-kg-ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        commitBatch(spark, batch, batchId, root, ctx, aliases, cfg)
      }
      .start()
  }

  /** Idempotent micro-batch commit (also usable directly in tests). */
  def commitBatch(spark: SparkSession, batch: Dataset[Doc], batchId: Long,
                  root: String, ctx: KgPipeline.LinkContext,
                  aliases: Dataset[Alias], cfg: KgPipeline.Config): Unit = {
    import spark.implicits._
    val snap = s"batch-$batchId"
    val done = LineageStore.readLineage(spark, root)
      .filter(l => l.stage == "stream_triples" && l.snapshot_id == snap)
      .limit(1).count() > 0
    if (done) return
    // the whole batch commit runs under stage-metrics capture (north
    // rule: lineage rows carry stage metrics) — totals land as a
    // `_metrics` sidecar keyed by the same snapshot id
    // the stream owns a DictStore under its root: in the no-broadcast
    // regime every micro-batch reads the snapshot-keyed scored
    // dictionary (built once by the first batch over a given dictionary
    // snapshot) instead of re-running the O(dictionary) canon+scoring
    // slice per batch — with ctx.dictSnapshotId present the freshness
    // check is a pure path probe, zero extra jobs
    val cfgS = cfg.copy(dictStore = cfg.dictStore.orElse(Some(root)))
    val (rows, metrics) = graft.store.StageMetrics.capture(spark) {
      LineageStore.withDynamicOverwrite(spark) {
        // persisted: the canon map and the quality sidecar read the batch
        // after the write
        val persisted = KgPipeline.run(spark, batch, aliases, cfg = cfgS, ctx = Some(ctx))
          .withColumn("batch", lit(batchId)).persist()
        // the SAME per-bucket lineage recipe as the batch store, observed
        // on the write (LineageStore.writeObserved — one copy, the two
        // paths cannot drift)
        val stats = LineageStore.writeObserved(persisted) {
          _.write.mode(SaveMode.Overwrite)
            .partitionBy("batch", "bucket")
            .parquet(streamPath(root))
        }
        val now = System.currentTimeMillis()
        // An all-empty batch still commits ONE marker row (partition_id =
        // -1, zero counts): without it the idempotency probe above never
        // finds the snapshot and a replayed empty batch re-runs the
        // pipeline on every restart.
        val rws = if (stats.nonEmpty) stats.map(_.lineageRow("stream_triples", snap, now))
          else Seq(LineageRow("stream_triples", -1, 0L, 0L, 0L, 0L, snap, now))
        updateCanonMap(spark, persisted, batchId, root)
        writeQuality(spark, persisted, batchId, root)
        persisted.unpersist()
        rws
      }
    }
    graft.store.StageMetrics.write(spark, root, "stream_triples", snap, metrics)
    LineageStore.appendLineage(spark, root, rows)
    graft.store.Snapshots.commitStreamBatch(spark, root, batchId,
      rows.map(_.triple_count).sum,
      graft.store.Snapshots.configHash(
        cfg.toString, s"buckets=${cfg.buckets}"))
  }

  /** Sentinel pred written for an ALL-EMPTY batch (no real predicate
    * can collide — preds are word tokens). Without it an empty batch
    * would leave no quality rows at all, making the batch invisible to
    * [[qualityDrift]]'s adjacent-pair logic — the most drastic drift
    * (volume crashing to zero) would raise NO alert, and a first-empty
    * batch would leave the sidecar dir schema-less.
    */
  private[graft] val QualityMarker = "\u0000batch"

  /** Per-batch streaming QUALITY MONITOR sidecar: the mergeable KMV
    * sketch ([[graft.ops.Sketches.approxDistinctUdaf]] — the same
    * bounded-state aggregator behind [[graft.ops.Sketches.kmvWindowed]])
    * tracks distinct-doc and distinct-entity cardinality per predicate
    * for every micro-batch, so drift (a source suddenly emitting
    * few-doc/many-triple spam, an entity explosion after a bad
    * dictionary push) is visible per commit without any doc-keyed
    * shuffle. The doc stream carries no event time, so the micro-batch
    * IS the window (under AvailableNow each batch is a bounded slice of
    * the source); event-time streams monitor with kmvWindowed directly.
    *
    * Snapshot-keyed layout like the lineage/metrics sidecars:
    * `_quality/batch=<id>/` immutable partitions — rows ACCUMULATE per
    * batch and are time-travel readable with the same partition-pruned
    * batch<=N predicate as the triple store.
    */
  private def writeQuality(spark: SparkSession, triples: DataFrame,
                           batchId: Long, root: String): Unit = {
    val k = 64
    val out =
      if (triples.isEmpty) // cheap: the batch is persisted by the caller
        spark.range(1).select(lit(QualityMarker).as("pred"),
          lit(0L).as("n_triples"), lit(0L).as("approx_docs"),
          lit(0L).as("approx_subjects"), lit(0L).as("approx_objects"),
          lit(batchId).as("batch"))
      else triples.groupBy(col("pred"))
        .agg(count(lit(1)).as("n_triples"),
          graft.ops.Sketches.approxDistinctUdaf(k)(col("doc_id")).as("approx_docs"),
          graft.ops.Sketches.approxDistinctUdaf(k)(col("subj")).as("approx_subjects"),
          graft.ops.Sketches.approxDistinctUdaf(k)(col("obj")).as("approx_objects"))
        .withColumn("batch", lit(batchId))
    out.write.mode(SaveMode.Overwrite) // dynamic mode: replays overwrite their own partition
      .partitionBy("batch")
      .parquet(qualityPath(root))
  }

  /** Quality sidecar rows up to (and including) `asOfBatch` — the
    * time-travel read; None = everything.
    */
  def readQuality(spark: SparkSession, root: String,
                  asOfBatch: Option[Long] = None): DataFrame = {
    // empty-batch marker rows are an internal presence signal for
    // qualityDrift, not data — consumers see real predicates only
    val df = spark.read.parquet(qualityPath(root))
      .where(col("pred") =!= lit(QualityMarker))
    asOfBatch match {
      case Some(b) => df.where(col("batch") <= b) // partition pruning
      case None => df
    }
  }

  /** Drift ALERTS over the quality sidecar: batch-over-batch ratio
    * checks per predicate — a batch whose triple volume or distinct-doc
    * cardinality moves more than `tolerance`× against the previous
    * batch (either direction), or a predicate that appears/disappears
    * entirely, yields one alert row. Runs off the tiny sidecar table
    * only (O(batches × preds) rows — never the triple store), so an
    * operator can evaluate it after every commit for free.
    */
  def qualityDrift(spark: SparkSession, root: String,
                   tolerance: Double = 4.0): DataFrame = {
    val raw = spark.read.parquet(qualityPath(root))
      .select(col("pred"), col("batch").cast("long").as("batch"),
        col("n_triples"), col("approx_docs"))
    val q = raw.where(col("pred") =!= lit(QualityMarker))
    val prev = q.select(col("pred"), (col("batch") + 1).as("batch"),
      col("n_triples").as("prev_triples"), col("approx_docs").as("prev_docs"))
    // batch PRESENCE comes from raw (incl. empty-batch markers): the
    // pairs around an all-empty batch are compared — its predicates
    // surface as vanishing alerts, the rebound as appearing ones —
    // instead of being silently dropped from the adjacency list
    val batches = raw.select("batch").distinct()
      .join(raw.select((col("batch") + 1).as("batch")).distinct(),
        Seq("batch"), "inner")
    // full outer per (pred, adjacent-batch pair): appearing/vanishing
    // predicates surface as infinite-ratio alerts
    q.join(prev, Seq("pred", "batch"), "full_outer")
      .join(batches, Seq("batch"), "left_semi") // only true adjacent pairs
      .withColumn("triple_ratio",
        col("n_triples").cast("double") / col("prev_triples"))
      .withColumn("doc_ratio",
        col("approx_docs").cast("double") / col("prev_docs"))
      .where(col("n_triples").isNull || col("prev_triples").isNull ||
        col("triple_ratio") > tolerance || col("triple_ratio") < 1.0 / tolerance ||
        col("doc_ratio") > tolerance || col("doc_ratio") < 1.0 / tolerance)
      .select(col("batch"), col("pred"), col("prev_triples"),
        col("n_triples"), col("triple_ratio"), col("prev_docs"),
        col("approx_docs"), col("doc_ratio"))
  }

  /** Incrementally-maintained canonical entity map: the co-mention
    * components of every triple streamed so far (the streaming face of the
    * north rule's "canonicalization via connected components").
    *
    * Each micro-batch folds ONLY its new subj–obj edges into the previous
    * batch's converged assignment via
    * [[graft.kg.ConnectedComponents.incremental]] — the old assignment
    * re-enters as its star edges (|entities| rows, already a fixpoint), so
    * untouched components contract in one round and per-batch cost is
    * O(new edges + affected clusters), NOT O(all triples ever streamed).
    *
    * Snapshot-per-commit layout (Iceberg copy-on-write analog): the FULL
    * updated assignment lands under `canon_stream/batch=<id>/` with
    * dynamic partition overwrite, so a replayed batch deterministically
    * rewrites its own partition (it reads state from the latest batch
    * BELOW its own id, never its own possibly-torn output) and the map is
    * time-travelable per batch like the triple partitions.
    */
  private def updateCanonMap(spark: SparkSession, triples: DataFrame,
                             batchId: Long, root: String): Unit = {
    val newEdges = triples
      .where(col("subj") =!= col("obj"))
      .select(least(col("subj"), col("obj")).as("src"),
        greatest(col("subj"), col("obj")).as("dst"))
      .distinct()
    val updated = readCanonBefore(spark, root, batchId) match {
      case Some(prev) =>
        graft.kg.ConnectedComponents.incremental(spark, prev, newEdges)
      case None => graft.kg.ConnectedComponents.run(spark, newEdges)
    }
    updated.withColumn("batch", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("batch")
      .parquet(canonPath(root))
  }

  /** Latest committed canon snapshot strictly below `batchId` (None before
    * the first batch). Partition pruning keeps this a single-partition read.
    */
  private def readCanonBefore(spark: SparkSession, root: String,
                              batchId: Long): Option[DataFrame] = {
    if (!graft.store.Fs.exists(spark, canonPath(root))) return None
    val snaps = spark.read.parquet(canonPath(root))
    val prior = snaps.select(col("batch").cast("long")).where(col("batch") < batchId)
      .agg(max("batch")).head()
    if (prior.isNullAt(0)) None
    else Some(snaps.where(col("batch") === prior.getLong(0))
      .select(col("node"), col("component")))
  }

  /** Current canonical map (latest batch), or as-of a given batch id —
    * the latest committed snapshot AT OR BELOW `asOfBatch` (time-travel
    * semantics matching [[readQuality]] and [[Snapshots.readStreamAsOf]];
    * an exact-id probe would silently return an EMPTY map for any batch
    * id without its own canon partition, e.g. a replay-skipped batch).
    * Throws if no snapshot exists at or below the requested batch.
    */
  def readCanonMap(spark: SparkSession, root: String,
                   asOfBatch: Option[Long] = None): DataFrame = {
    val snaps = spark.read.parquet(canonPath(root))
    val eligible = asOfBatch match {
      case Some(b) => snaps.where(col("batch").cast("long") <= b)
      case None => snaps
    }
    val head = eligible.agg(max(col("batch").cast("long"))).head()
    require(!head.isNullAt(0),
      s"no canon snapshot at or below batch ${asOfBatch.getOrElse("latest")}")
    eligible.where(col("batch") === head.getLong(0))
      .select(col("node"), col("component"))
  }

  /** Columns later engine versions ADDED to the triple schema, with the
    * value old partitions implicitly carry — the Iceberg add-column
    * evolution contract (old data reads back with the default, no
    * rewrite). `conf` predates nothing today; it is the registered
    * example so the mechanism stays exercised.
    */
  private val evolvedDefaults: Map[String, org.apache.spark.sql.Column] =
    Map("conf" -> lit(0.0))

  /** Schema-evolution-safe read of the streamed triple store:
    * `mergeSchema` reconciles partitions written by different engine
    * versions, and columns absent from old partitions (or from the whole
    * store) resolve to their registered defaults instead of failing the
    * analyzer or surfacing nulls.
    */
  def readStreamTriples(spark: SparkSession, root: String): Dataset[Triple] = {
    import spark.implicits._
    val df = spark.read.option("mergeSchema", "true")
      .parquet(streamPath(root))
    val cols = Seq("subj", "pred", "obj", "doc_id", "bucket", "conf",
      "span_offset", "sentence_idx").map { c =>
      evolvedDefaults.get(c) match {
        case Some(d) if !df.columns.contains(c) => d.as(c)
        case Some(d) => coalesce(col(c), d).as(c)
        case None => col(c)
      }
    }
    df.select(cols: _*).as[Triple]
  }

  /** Streaming windowed aggregation over the events table (watermark +
    * tumbling window — SURVEY §2.9 note): the generic streaming-agg
    * operator of the engine.
    */
  def eventsHourly(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time type
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
  }
}
