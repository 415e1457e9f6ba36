package graft.store

import graft.model.Triple
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style snapshot chain on Parquet (no Iceberg jar ships in
  * /opt/spark/jars — hand-rolled manifest per SURVEY §7.3).
  *
  * Each commit appends one row to `_snapshots`: (snapshot_id, parent_id,
  * stage, created_at, n_rows, config_hash). Streaming batch partitions
  * (`triples_stream/batch=<id>/`) are immutable, so "read table AS OF
  * snapshot" is a partition-pruned union of batches ≤ the snapshot's
  * batch id — genuine time travel with no data copies. The config hash
  * is the memoization key pattern of the reference's request cache
  * (webapp/app.py:157-158): identical stage config + input snapshot →
  * identical snapshot id → skip recompute.
  */
object Snapshots {

  case class SnapshotRow(
      snapshot_id: String, parent_id: String, stage: String,
      created_at: Long, n_rows: Long, config_hash: String)

  def snapshotsPath(root: String) = s"$root/_snapshots"

  def read(spark: SparkSession, root: String): Dataset[SnapshotRow] = {
    import spark.implicits._
    val p = snapshotsPath(root)
    if (Fs.exists(spark, p)) spark.read.parquet(p).as[SnapshotRow]
    else spark.emptyDataset[SnapshotRow]
  }

  def current(spark: SparkSession, root: String, stage: String): Option[SnapshotRow] = {
    // tie-break within one created_at millisecond by id LENGTH before
    // lexical order: ids are unpadded ("batch-9" vs "batch-10"), so a
    // plain string sort would rank batch-9 above batch-10 and corrupt
    // the parent chain of fast same-ms commits
    val rows = read(spark, root).filter(col("stage") === stage)
      .orderBy(col("created_at").desc, length(col("snapshot_id")).desc,
        col("snapshot_id").desc)
      .limit(1).collect()
    rows.headOption
  }

  /** sha-256 config hash — F9, the cache-key function of the reference.
    * Each part is length-prefixed before hashing so distinct part LISTS
    * can never collide (a bare separator would make ("a|b","c") and
    * ("a","b|c") the same memoization key, silently skipping a
    * recompute).
    */
  def configHash(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      val b = p.getBytes("UTF-8")
      md.update(s"${b.length}:".getBytes("UTF-8"))
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def append(spark: SparkSession, root: String, row: SnapshotRow): Unit = {
    import spark.implicits._
    spark.createDataset(Seq(row)).write.mode(SaveMode.Append)
      .parquet(snapshotsPath(root))
  }

  /** Record a streaming batch commit in the snapshot chain. */
  def commitStreamBatch(spark: SparkSession, root: String, batchId: Long,
                        nRows: Long, cfgHash: String): Unit = {
    val parent = current(spark, root, "stream_triples")
      .map(_.snapshot_id).getOrElse("none")
    append(spark, root, SnapshotRow(s"batch-$batchId", parent,
      "stream_triples", System.currentTimeMillis(), nRows, cfgHash))
  }

  /** Time travel: the stream table AS OF a snapshot — partition-pruned
    * union of immutable batch partitions up to that batch id.
    */
  def readStreamAsOf(spark: SparkSession, root: String, snapshotId: String): Dataset[Triple] = {
    import spark.implicits._
    // "none" is the stored parent_id of the FIRST snapshot — walking the
    // chain past the beginning reads an empty table, not a crash
    if (snapshotId == "none") return spark.emptyDataset[Triple]
    val batchId = snapshotId.stripPrefix("batch-").toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"not a stream snapshot id: '$snapshotId' (expected batch-<n>)"))
    spark.read.parquet(graft.streaming.StreamIngest.streamPath(root))
      .where(col("batch") <= batchId) // partition pruning on batch=
      .select("subj", "pred", "obj", "doc_id", "bucket", "conf",
        "span_offset", "sentence_idx")
      .as[Triple]
  }
}
