package graft.store

import graft.kg.Triples
import graft.model._
import graft.ops.Sketches
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Iceberg-style checkpoint/lineage layer on Parquet (no Iceberg jar in
  * /opt/spark/jars — SURVEY.md §7.3).
  *
  * Contract (north rule; reference analog: epoch-checkpoint resume,
  * models/bert.py:147-162, 171-173):
  *  - triples are written partitioned by `bucket = hash(doc_id) % B`;
  *  - the per-bucket stats (triple count, span-offset range, KMV
  *    distinct-doc estimate) are an observed metric of that write: the
  *    write's own tasks compute them, with no second pass over the data;
  *  - after the data lands, one lineage row per bucket is APPENDED:
  *    (stage, partition_id, offset range, triple_count, rows_in,
  *    snapshot_id);
  *  - on restart, buckets already present in lineage are skipped via a
  *    LEFT ANTI join; pending buckets are recomputed and their partitions
  *    idempotently overwritten (dynamic partition overwrite), so a kill
  *    BETWEEN data write and lineage append cannot double-count — the
  *    bucket is simply rewritten with identical content (deterministic
  *    generator + deterministic pipeline).
  */
object LineageStore {

  def lineagePath(root: String) = s"$root/_lineage"
  def triplesPath(root: String) = s"$root/triples"

  /** Lineage rows, read with the [[LineageRow]] schema: no footer-reading
    * schema-inference job. */
  def readLineage(spark: SparkSession, root: String): Dataset[LineageRow] = {
    import spark.implicits._
    val p = lineagePath(root)
    if (Fs.exists(spark, p))
      spark.read.schema(Encoders.product[LineageRow].schema).parquet(p).as[LineageRow]
    else spark.emptyDataset[LineageRow]
  }

  /** Lineage is O(buckets × commits) rows: collected and de-duplicated
    * on the driver, one job and no shuffle. */
  def committedBuckets(spark: SparkSession, root: String, stage: String): Set[Int] = {
    import spark.implicits._
    readLineage(spark, root).where(col("stage") === stage)
      .select(col("partition_id")).as[Int].collect().toSet
  }

  /** One bucket's lineage stats while they are being aggregated, and
    * when done: triple count, span-offset min/max, KMV state or estimate
    * of its distinct docs. */
  private[graft] case class BucketAcc(n: Long, omin: Int, omax: Int, kmv: Array[Long])
  private[graft] case class BucketStat(bucket: Int, n: Long, omin: Int, omax: Int, docs: Long) {
    def lineageRow(stage: String, snapshotId: String, now: Long): LineageRow =
      LineageRow(stage, bucket, omin.toLong, omax.toLong, n, docs, snapshotId, now)
  }

  /** The per-bucket lineage stats of a triple set as ONE ungrouped
    * aggregate over (bucket, span_offset, doc_id), so they can be
    * observed on the write itself: state is bucket → (count, span-offset
    * min/max, KMV sketch of the doc ids), O(buckets × k) longs whatever
    * the data size. The sketch is [[Sketches.KmvDistinctAgg]]'s insert,
    * merge and estimate with k = 64 (exact below 64 distinct docs per
    * bucket), not a COUNT(DISTINCT): no doc-keyed shuffle per commit.
    */
  private class BucketLineageAgg(k: Int)
      extends Aggregator[(Int, Int, String), Map[Int, BucketAcc], Seq[BucketStat]] {
    private val kmv = new Sketches.KmvDistinctAgg(k)
    def zero: Map[Int, BucketAcc] = Map.empty
    def reduce(b: Map[Int, BucketAcc], v: (Int, Int, String)): Map[Int, BucketAcc] = {
      val (bucket, off, doc) = v
      b.updated(bucket, b.get(bucket) match {
        case Some(a) => BucketAcc(a.n + 1, math.min(a.omin, off),
          math.max(a.omax, off), kmv.reduce(a.kmv, doc))
        case None => BucketAcc(1L, off, off, kmv.reduce(kmv.zero, doc))
      })
    }
    def merge(x: Map[Int, BucketAcc], y: Map[Int, BucketAcc]): Map[Int, BucketAcc] =
      y.foldLeft(x) { case (m, (bucket, b)) =>
        m.updated(bucket, m.get(bucket).fold(b)(a => BucketAcc(a.n + b.n,
          math.min(a.omin, b.omin), math.max(a.omax, b.omax), kmv.merge(a.kmv, b.kmv))))
      }
    def finish(b: Map[Int, BucketAcc]): Seq[BucketStat] =
      b.toSeq.sortBy(_._1).map { case (bucket, a) =>
        BucketStat(bucket, a.n, a.omin, a.omax, kmv.finish(a.kmv))
      }
    def bufferEncoder = ExpressionEncoder[Map[Int, BucketAcc]]()
    def outputEncoder = ExpressionEncoder[Seq[BucketStat]]()
  }

  private val bucketLineage = udaf(new BucketLineageAgg(64),
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.STRING))

  /** Bound on the wait for a write's observed stats. Spark delivers them
    * through its listener bus once the write has succeeded, so the wait
    * is normally a few milliseconds. */
  private val observationWait = 60.seconds

  /** Run `write` over `triples` with the per-bucket lineage stats
    * observed on it, and return them — the recipe of the batch and
    * streaming commits both, so the two cannot drift.
    *
    * The stats come back from the tasks of the write job itself
    * (`Dataset.observe`): no persist and no second pass over the data.
    * `write` must write the dataset it is given with no shuffle above
    * it (a partitioned write only sorts), so the observation sits in
    * the result stage, where Spark applies each partition's update
    * exactly once. Throws if the stats are not delivered within
    * [[observationWait]], so the caller appends no lineage.
    */
  private[graft] def writeObserved(triples: DataFrame)
                                  (write: DataFrame => Unit): Seq[BucketStat] = {
    val obs = Observation()
    write(triples.observe(obs,
      bucketLineage(col("bucket"), col("span_offset"), col("doc_id")).as("buckets")))
    // an observation Spark could not fill completes with an empty row
    // (CommitSpec has one), or not at all
    val stats =
      try Some(Await.result(obs.future, observationWait)).filter(_.size == 1)
      catch { case _: java.util.concurrent.TimeoutException => None }
    stats.getOrElse(throw new IllegalStateException("the write's lineage " +
      s"stats were not observed within $observationWait; no lineage appended"))
      .getSeq[Row](0).map(r =>
      BucketStat(r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
  }

  /** Append lineage rows as ONE file, so `_lineage` grows by one file
    * per commit however many cores the session has. */
  private[graft] def appendLineage(spark: SparkSession, root: String,
                                   rows: Seq[LineageRow]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Append)
      .parquet(lineagePath(root))
  }

  /** Run `body` with dynamic partition overwrite, then RESTORE the
    * session's previous mode — a leaked session-wide "dynamic" would
    * silently change every later Overwrite+partitionBy in the session
    * from full-table replacement to partial overwrite.
    */
  private[graft] def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Write triples for (possibly a subset of) buckets + lineage rows.
    * snapshotId should be a content/config hash — the Spark analog of the
    * reference's request-hash memoization key (webapp/app.py:157-158).
    * One commit is one data write plus one lineage append: the lineage
    * stats are observed on the data write ([[writeObserved]]).
    *
    * `processedBuckets`, when given, is the FULL set of buckets this
    * commit covers: buckets in it that produced ZERO triples still get a
    * lineage row (triple_count = 0) — without one, resume would treat a
    * legitimately-empty bucket as pending and reprocess it on every
    * restart, never converging to zero work. A triple in a bucket
    * outside it fails the commit before any lineage row is appended.
    */
  def commit(spark: SparkSession, root: String, stage: String,
             triples: Dataset[Triple], snapshotId: String,
             processedBuckets: Option[Set[Int]] = None): Unit = {
    val stats = withDynamicOverwrite(spark) {
      writeObserved(triples.toDF()) {
        _.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(triplesPath(root))
      }
    }
    val written = stats.map(_.bucket).toSet
    val covered = processedBuckets.getOrElse(written)
    val outside = written -- covered
    require(outside.isEmpty, s"$stage/$snapshotId: triples written to " +
      s"buckets ${outside.toSeq.sorted.mkString(",")} outside the commit's " +
      "buckets; no lineage appended")
    val empty = (covered -- written).toSeq.sorted.map(BucketStat(_, 0L, 0, 0, 0L))
    val now = System.currentTimeMillis()
    val rows = (stats ++ empty).map(_.lineageRow(stage, snapshotId, now))
    if (rows.nonEmpty) appendLineage(spark, root, rows)
  }

  /** Resumable run: process only buckets NOT yet in lineage. Returns the
    * number of buckets processed this invocation — every pending bucket,
    * as the commit appends a lineage row for each.
    */
  def runResumable(spark: SparkSession, root: String, stage: String,
                   docs: Dataset[Doc],
                   pipeline: Dataset[Doc] => Dataset[Triple],
                   buckets: Int, snapshotId: String): Int = {
    recoverCompaction(spark, root) // heal an interrupted compaction first
    val done = committedBuckets(spark, root, stage)
    val pendingBuckets = (0 until buckets).toSet -- done
    if (pendingBuckets.isEmpty) return 0
    // left-anti-join semantics against the lineage table (SURVEY §2.9 ST3);
    // the committed set is dictionary-sized (≤ buckets), so a filter
    // closing over it replaces the shuffle an actual anti join would cost.
    val pending = docs.filter(d => !done.contains(Triples.bucketOf(d.doc_id, buckets)))
    // even a doc-less / triple-less pending set commits: every pending
    // bucket gets its lineage row (possibly zero-count), so resume
    // CONVERGES instead of re-examining empty buckets forever
    commit(spark, root, stage, pipeline(pending), snapshotId, Some(pendingBuckets))
    pendingBuckets.size
  }

  /** Iceberg-style small-file compaction (the `rewrite_data_files`
    * maintenance action): every bucket partition's accumulated part
    * files are rewritten as ONE file per bucket, STAGED to a sibling
    * temp location first — the old store is only replaced after the
    * compacted copy is fully durable on storage and its row count
    * verified, so a crash or lost executor mid-compaction never loses
    * data: at every instant a complete copy exists on storage (the only
    * window without a LIVE path is between the two renames, healed by
    * [[recoverCompaction]] which rolls forward/back from the surviving
    * copy). The
    * swap is two renames (mirroring Iceberg's snapshot-pointer flip);
    * lineage (the resume source of truth) is untouched because no row
    * changes. Returns (files before, files after).
    */
  /** `maxRecordsPerFile`, when set, splits each bucket's subj-sorted
    * run into MULTIPLE successive files: the writer cuts the sorted
    * stream every N records, so sibling files within a bucket cover
    * DISJOINT subj ranges — which is what makes the file manifest's
    * min/max actually selective (with one file per bucket, every file
    * spans the whole subject alphabet because buckets hash doc_ids,
    * and only row-group pruning can help). At 100 TB this is the
    * mandatory shape — a bucket partition is terabytes, never one
    * file; the local default (None → one file per bucket) keeps the
    * small-file-compaction story.
    */
  def compactTriples(spark: SparkSession, root: String,
                     rowGroupBytes: Option[Long] = None,
                     maxRecordsPerFile: Option[Long] = None): (Long, Long) = {
    val path = triplesPath(root)
    def dataFiles(): Long = Fs.listFiles(spark, path)
      .count(_.endsWith(".parquet"))
    val before = dataFiles()
    val expected = spark.read.parquet(path).count()
    val tmp = path + "__compact_tmp"
    val old = path + "__compact_old"
    // hash-repartition on bucket: each bucket's rows land in exactly one
    // task, so partitionBy(bucket) emits exactly one file per bucket.
    // sortWithinPartitions(subj): the compacted file's parquet row groups
    // carry NARROW subj min/max ranges (the Iceberg zone-map rung), so a
    // subject point lookup ([[lookupBySubject]] — the access path every
    // KG consumer hits first) prunes to ~one row group per bucket file
    // instead of decoding the whole store. rowGroupBytes bounds the
    // pruning granule (parquet.block.size; None = parquet's default —
    // at 100 TB the default 128 MB granule over subj-sorted files is the
    // right trade; tests shrink it to force many groups per file).
    // sorted by (bucket, subj), NOT subj alone: FileFormatWriter requires
    // each task's rows ordered by the partition columns and would inject
    // its own non-stable sort on `bucket` otherwise — silently discarding
    // the subj order. With bucket as the sort prefix the writer's
    // requirement is already satisfied and the subj order survives into
    // the file (verified by the row-group min/max assert in
    // StoreLookupSpec).
    val writer = spark.read.parquet(path)
      .repartition(col("bucket"))
      // pred as SECONDARY sort under subj: a (subj, pred) composite
      // lookup ([[lookupBySubjectPred]]) then prunes row groups on BOTH
      // stats when a hot subject spans groups; the subj-only order (and
      // q101's hash) is unchanged
      .sortWithinPartitions(col("bucket"), col("subj"), col("pred"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
    val w1 = rowGroupBytes.fold(writer)(b => writer.option("parquet.block.size", b))
    maxRecordsPerFile.fold(w1)(n => w1.option("maxRecordsPerFile", n))
      .parquet(tmp)
    val staged = spark.read.parquet(tmp).count()
    require(staged == expected,
      s"compaction row-count mismatch: staged $staged, expected $expected — " +
        s"store untouched, staging left at $tmp")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    require(fs.rename(hp, new org.apache.hadoop.fs.Path(old)),
      s"could not move the live store aside ($path)")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), hp),
      s"could not install the compacted store ($tmp -> $path)")
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    writeFileManifest(spark, root)
    (before, dataFiles())
  }

  def fileManifestPath(root: String) = s"$root/_file_manifest"

  /** Iceberg-style FILE manifest over the compacted store: one row per
    * data file — (relative path, subj min/max, pred min/max, row
    * count). [[lookupBySubject]] / [[lookupBySubjectPred]] prune FILES
    * from this table before any parquet footer is opened — the rung
    * ABOVE row-group zone maps, and at 100 TB the difference between
    * reading one manifest and opening 10^5 footers. Written by
    * [[compactTriples]] after the swap (one extra store read here; a
    * production writer collects these stats in the commit protocol,
    * Iceberg-manifest style). A crash between swap and manifest write —
    * or any later non-compacting commit — leaves the manifest STALE;
    * lookups detect that (file-set mismatch vs the live listing) and
    * fall back to the full-path scan, so the manifest is a pure
    * optimization that can never change results.
    */
  private def writeFileManifest(spark: SparkSession, root: String): Unit = {
    val path = triplesPath(root)
    spark.read.parquet(path)
      .groupBy(substring_index(input_file_name(), "/triples/", -1).as("file"))
      .agg(min(col("subj")).as("subj_min"), max(col("subj")).as("subj_max"),
        min(col("pred")).as("pred_min"), max(col("pred")).as("pred_max"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).parquet(fileManifestPath(root))
  }

  /** Data files (paths relative to `dataPath`) whose manifest ranges
    * may contain (key[, pred]) — None when no manifest exists at
    * `manifestPath` or it is stale (its file set differs from the live
    * listing): callers fall back to the full scan. The manifest is
    * O(files) and tiny next to the store; at lookup time it is the
    * ONLY thing read before the matched files' footers. `keyCols` are
    * the manifest's (min, max) column names for the sorted key — the
    * subj-side and obj-side manifests share this machinery.
    */
  private case class ManifestRow(file: String, kMin: String, kMax: String,
                                 pMin: String, pMax: String)
  // per-JVM manifest memo keyed by the manifest DIR's metadata
  // signature (Fs.signature: names+lengths+mtimes, no Spark job) — a
  // point lookup otherwise pays a full parquet-read Spark job per call
  // for a table that only changes at compaction time. The liveness
  // guard below stays PER CALL: memoizing the manifest rows is safe
  // (signature changes when the manifest is rewritten), memoizing the
  // live data listing would not be (any commit invalidates it).
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[ManifestRow])]()
  /** Actual manifest parquet reads — observable by tests asserting the
    * memo (and reset-able between scenarios). */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** UTF-8 byte comparison matching Spark's UTF8String ordering — the
    * order the manifest's min()/max() were computed in. Java String
    * `<`/`>` compares UTF-16 code units, which DISAGREES with code-point
    * order for keys mixing supplementary-plane characters with
    * U+E000—U+FFFF: a file containing the subject could be wrongly
    * pruned and the lookup would silently return missing rows.
    */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The manifest rows iff the manifest exists AND matches the live data
    * file set (fresh); None otherwise — shared by file pruning and the
    * metadata-only min queries, one staleness rule for both.
    */
  private def freshManifestRows(spark: SparkSession, manifestPath: String,
                                dataPath: String, keyCols: (String, String))
      : Option[Seq[ManifestRow]] = {
    if (!Fs.exists(spark, manifestPath)) return None
    val sig = Fs.signature(spark, manifestPath)
    val rows = Option(manifestMemo.get(manifestPath))
      .filter(_._1 == sig).map(_._2).getOrElse {
        manifestReads.incrementAndGet()
        val r = spark.read.parquet(manifestPath)
          .select("file", keyCols._1, keyCols._2, "pred_min", "pred_max")
          .collect().toSeq.map(x => ManifestRow(x.getString(0),
            x.getString(1), x.getString(2), x.getString(3), x.getString(4)))
        manifestMemo.put(manifestPath, (sig, r))
        r
      }
    val live = Fs.listFilesRelative(spark, dataPath)
      .filter(_.endsWith(".parquet")).toSet
    // staleness guard on RELATIVE paths (base names repeat across
    // bucket dirs) — any commit since compaction invalidates the
    // manifest and drops lookups back to the full scan
    if (rows.map(_.file).toSet != live) None else Some(rows)
  }

  private def manifestPrunedFilesAt(spark: SparkSession, manifestPath: String,
                                    dataPath: String,
                                    keyCols: (String, String),
                                    key: String, pred: Option[String])
      : Option[Seq[String]] =
    freshManifestRows(spark, manifestPath, dataPath, keyCols).map { rows =>
      rows.filter { r =>
        utf8Cmp(key, r.kMin) >= 0 && utf8Cmp(key, r.kMax) <= 0 &&
          pred.forall(p => utf8Cmp(p, r.pMin) >= 0 && utf8Cmp(p, r.pMax) <= 0)
      }.map(_.file)
    }

  /** Store-wide minimum subject — the Iceberg-style METADATA-ONLY query:
    * with a fresh manifest the answer is min(subj_min) over the file
    * rows (each file's subj_min was computed by Spark in UTF8 binary
    * order; [[utf8Cmp]] reproduces it), zero data files opened, zero
    * Spark jobs. Stale/absent manifest → one pushed full scan, the
    * exact value `readTriples.agg(min("subj"))` returns either way.
    */
  def minSubject(spark: SparkSession, root: String): Option[String] = {
    recoverCompaction(spark, root)
    freshManifestRows(spark, fileManifestPath(root), triplesPath(root),
        ("subj_min", "subj_max"))
      .filter(_.nonEmpty)
      .map(rows => rows.map(_.kMin).min(Ordering.comparatorToOrdering(
        (a: String, b: String) => utf8Cmp(a, b))))
      .orElse(Option(readTriples(spark, root).toDF()
        .agg(min(col("subj"))).head.getString(0)))
  }

  /** Obj-side twin of [[minSubject]] over the inverted index's manifest;
    * falls back to the PRIMARY store scan (the obj index may not exist —
    * same fallback rule as [[lookupByObject]]).
    */
  def minObject(spark: SparkSession, root: String): Option[String] = {
    recoverCompaction(spark, root)
    freshManifestRows(spark, objManifestPath(root), objIndexPath(root),
        ("obj_min", "obj_max"))
      .filter(_.nonEmpty)
      .map(rows => rows.map(_.kMin).min(Ordering.comparatorToOrdering(
        (a: String, b: String) => utf8Cmp(a, b))))
      .orElse(Option(readTriples(spark, root).toDF()
        .agg(min(col("obj"))).head.getString(0)))
  }

  private def manifestPrunedFiles(spark: SparkSession, root: String,
                                  subj: String, pred: Option[String])
      : Option[Seq[String]] =
    manifestPrunedFilesAt(spark, fileManifestPath(root), triplesPath(root),
      ("subj_min", "subj_max"), subj, pred)

  /** The store reader for a point lookup: manifest-pruned file list
    * when available (zero files touched when no range matches), full
    * path otherwise. basePath keeps the partition column.
    */
  private def lookupBaseAt(spark: SparkSession, path: String,
                           pruned: Option[Seq[String]])
      : org.apache.spark.sql.DataFrame = {
    pruned match {
      case Some(files) if files.isEmpty =>
        // no file can match: answer from the manifest alone — zero
        // parquet footers opened
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.Encoders.product[Triple].schema)
      case Some(files) =>
        spark.read.option("basePath", path)
          .parquet(files.map(f => s"$path/$f"): _*)
      case None => spark.read.parquet(path)
    }
  }

  private def lookupBase(spark: SparkSession, root: String, subj: String,
                         pred: Option[String]): org.apache.spark.sql.DataFrame =
    lookupBaseAt(spark, triplesPath(root),
      manifestPrunedFiles(spark, root, subj, pred))

  /** Roll an interrupted [[compactTriples]] forward/back: the only
    * non-durable instant is between the two renames (live moved to
    * `__compact_old`, compacted copy not yet installed). If the live
    * path is missing, reinstall whichever complete copy exists —
    * the verified staging (`__compact_tmp`, roll forward) or the
    * original (`__compact_old`, roll back); leftover side dirs are
    * cleaned either way. Invoked automatically at store-open time
    * ([[readTriples]], [[runResumable]]) and by `Main compact` on entry,
    * so ANY verb heals a root that died mid-compaction.
    */
  def recoverCompaction(spark: SparkSession, root: String): Unit = {
    val path = triplesPath(root)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val oldP = new org.apache.hadoop.fs.Path(path + "__compact_old")
    if (!fs.exists(hp)) {
      if (fs.exists(tmpP)) require(fs.rename(tmpP, hp),
        s"recovery: could not roll the compacted staging forward ($tmpP)")
      else if (fs.exists(oldP)) require(fs.rename(oldP, hp),
        s"recovery: could not roll the original store back ($oldP)")
      fs.delete(tmpP, true)
    }
    // NB: when the live store exists, a leftover __compact_tmp is the
    // DIAGNOSTIC artifact a failed row-count verification deliberately
    // preserves — leave it for inspection (compactTriples' own
    // Overwrite replaces it on retry). The old-copy dir is always
    // redundant once a live store exists.
    fs.delete(oldP, true)
  }

  /** Subject point lookup — the entity-page / API access path. Pruning
    * rungs, outermost first: (1) FILE pruning from the compaction-time
    * manifest — non-matching files' footers are never opened (asserted
    * via inputFiles in StoreLookupSpec); (2) parquet row-group min/max
    * skipping on the pushed EqualTo within surviving files (the
    * compacted subj sort); so the lookup cost is O(row group), not
    * O(store). The OBJ-side path (inbound edges of an entity) gets the
    * same rungs from the inverted twin index — [[buildObjIndex]] /
    * [[lookupByObject]].
    */
  def lookupBySubject(spark: SparkSession, root: String,
                      subj: String): Dataset[Triple] = {
    import spark.implicits._
    recoverCompaction(spark, root)
    lookupBase(spark, root, subj, None)
      .select("subj", "pred", "obj", "doc_id", "bucket", "conf",
        "span_offset", "sentence_idx")
      .as[Triple].filter(col("subj") === subj)
  }

  /** (subject, predicate) composite point lookup — the next consumer
    * query after the entity page (one property of one entity). Same
    * pruning rungs as [[lookupBySubject]]: manifest file pruning on
    * BOTH ranges, then row-group skipping on the compacted
    * (subj, pred) sort — pred stats prune further when a hot subject
    * spans row groups.
    */
  def lookupBySubjectPred(spark: SparkSession, root: String,
                          subj: String, pred: String): Dataset[Triple] = {
    import spark.implicits._
    recoverCompaction(spark, root)
    lookupBase(spark, root, subj, Some(pred))
      .select("subj", "pred", "obj", "doc_id", "bucket", "conf",
        "span_offset", "sentence_idx")
      .as[Triple].filter(col("subj") === subj && col("pred") === pred)
  }

  def objIndexPath(root: String) = s"$root/obj_index"
  def objManifestPath(root: String) = s"$root/_obj_file_manifest"

  /** Build (or rebuild) the inverted obj-side twin of the triple store —
    * the index behind "inbound edges of an entity" (who links TO X?),
    * the second KG consumer query after the entity page. Same shape as
    * the subj-side compaction, inverted: rows bucketed by hash(obj)
    * (`obucket`, pmod so it is never negative), sorted
    * (obucket, obj, pred) — obucket prefixes the sort for the
    * FileFormatWriter requirement exactly like compactTriples — with
    * its own file manifest for manifest-level pruning. DERIVED data:
    * the subj store stays the source of truth, and the build is an
    * idempotent full rewrite via the same two-rename swap (a crash
    * mid-build leaves either the old index or none; [[lookupByObject]]
    * falls back to a full pushed-filter scan of the PRIMARY store when
    * the index is absent or its manifest is stale, so results never
    * depend on index freshness). At 100 TB this is the standard
    * secondary-index trade: one extra store-sized write at compaction
    * time buys O(row group) inbound-edge lookups forever after.
    */
  def buildObjIndex(spark: SparkSession, root: String, nBuckets: Int = 8,
                    rowGroupBytes: Option[Long] = None,
                    maxRecordsPerFile: Option[Long] = None): Unit = {
    val path = objIndexPath(root)
    val tmp = path + "__build_tmp"
    val old = path + "__build_old"
    val writer = readTriples(spark, root).toDF()
      .withColumn("obucket", pmod(hash(col("obj")), lit(nBuckets)))
      .repartition(col("obucket"))
      .sortWithinPartitions(col("obucket"), col("obj"), col("pred"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("obucket")
    val w1 = rowGroupBytes.fold(writer)(b => writer.option("parquet.block.size", b))
    maxRecordsPerFile.fold(w1)(n => w1.option("maxRecordsPerFile", n))
      .parquet(tmp)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    if (fs.exists(hp)) require(fs.rename(hp, new org.apache.hadoop.fs.Path(old)),
      s"could not move the live obj index aside ($path)")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), hp),
      s"could not install the obj index ($tmp -> $path)")
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    spark.read.parquet(path)
      .groupBy(substring_index(input_file_name(), "/obj_index/", -1).as("file"))
      .agg(min(col("obj")).as("obj_min"), max(col("obj")).as("obj_max"),
        min(col("pred")).as("pred_min"), max(col("pred")).as("pred_max"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).parquet(objManifestPath(root))
  }

  /** Object point lookup — inbound edges of an entity. Pruning rungs
    * when the obj index exists with a fresh manifest: (1) FILE pruning
    * from the obj manifest; (2) row-group min/max skipping on the
    * pushed EqualTo within surviving files (the (obucket, obj, pred)
    * sort). Absent or stale index → full pushed-filter scan of the
    * PRIMARY store (correct, just unpruned), so the index can never
    * change results.
    */
  def lookupByObject(spark: SparkSession, root: String,
                     obj: String): Dataset[Triple] = {
    import spark.implicits._
    recoverCompaction(spark, root)
    val idx = objIndexPath(root)
    val base =
      if (Fs.exists(spark, idx))
        manifestPrunedFilesAt(spark, objManifestPath(root), idx,
          ("obj_min", "obj_max"), obj, None) match {
          case Some(files) => lookupBaseAt(spark, idx, Some(files))
          case None => spark.read.parquet(triplesPath(root)) // stale index
        }
      else spark.read.parquet(triplesPath(root))
    base
      .select("subj", "pred", "obj", "doc_id", "bucket", "conf",
        "span_offset", "sentence_idx")
      .as[Triple].filter(col("obj") === obj)
  }

  def readTriples(spark: SparkSession, root: String): Dataset[Triple] = {
    import spark.implicits._
    // store-open healing: a crash between compactTriples' two renames
    // leaves the live path missing while lineage still says committed —
    // roll the interrupted compaction forward/back before reading so
    // EVERY verb heals the store, not just an explicit `compact`
    recoverCompaction(spark, root)
    spark.read.parquet(triplesPath(root))
      .select("subj", "pred", "obj", "doc_id", "bucket", "conf",
        "span_offset", "sentence_idx")
      .as[Triple]
  }
}
