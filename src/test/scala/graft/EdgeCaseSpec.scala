package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input hardening for the late round-3 operators: empty
  * tables and singleton inputs must yield empty/valid results, never
  * throw — at 10^12-document scale SOME partition, source or snapshot
  * is always empty, and an operator that dies on it kills the job.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType))))

  test("set-similarity join: empty corpus and singleton corpus") {
    assert(graft.ops.Dedup.setSimJoinPrefix(emptyDocs).count() == 0)
    val one = Seq((1L, "a b c d e", "s")).toDF("doc_id", "text", "source")
    assert(graft.ops.Dedup.setSimJoinPrefix(one).count() == 0)
  }

  test("fuzzy join, histogram quantiles, inverted index, BPE on empty input") {
    assert(graft.ops.FuzzyJoin.nearTokens(emptyDocs).count() == 0)
    assert(graft.ops.Scans.histogramQuantiles(
      emptyDocs.selectExpr("source", "doc_id AS len"),
      "source", "len", 64L, Seq(0.5)).count() == 0)
    assert(graft.ops.VocabOps.invertedIndex(emptyDocs).count() == 0)
    assert(graft.ops.VocabOps.bpeMergePairs(emptyDocs).count() == 0)
  }

  test("k-hop BFS and neighbourhood jaccard on an empty triple store") {
    val none = spark.emptyDataset[graft.model.Triple]
    assert(graft.kg.GraphOps.kHopDistances(none).count() == 0)
    assert(graft.kg.GraphOps.neighborhoodJaccard(none).count() == 0)
    assert(graft.kg.GraphOps.clusteringCoefficient(none).count() == 0)
  }

  test("range join and snapshot diff with one empty side") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val some = Seq((1L, 10L, t(1000))).toDF("k", "lid", "lts")
    val none = some.where("false")
    assert(graft.ops.RangeJoin.windowJoin(some,
      none.toDF("k", "rid", "rts"), "k", "lid", "rid", "lts", "rts",
      100L).count() == 0)
    assert(graft.ops.RangeJoin.windowJoin(none, some.toDF("k", "rid", "rts"),
      "k", "lid", "rid", "lts", "rts", 100L).count() == 0)
    val diff = graft.ops.SnapshotDiff.diff(
      none.selectExpr("k", "lid AS v"), some.selectExpr("k", "lid AS v"),
      "k", "v").collect()
    assert(diff.map(_.getString(1)).toSeq == Seq("added"))
  }

  test("salted join with an empty fact side") {
    val fact = Seq(("u", 1L)).toDF("uid", "event_id").where("false")
    val dim = Seq(("u", "a")).toDF("uid", "attr")
    assert(graft.ops.SaltedJoin
      .saltedEquiJoin(fact, dim, "uid", heavyThreshold = 1L).count() == 0)
  }

  test("skew report, co-occurrence lift and k-means survive empty input") {
    assert(graft.ops.Diagnostics.skewReport(emptyDocs, "source").count() == 0)
    val none = spark.emptyDataset[graft.model.Triple]
    assert(graft.kg.GraphOps.cooccurrenceLift(none).count() == 0)
    val noVecs = Seq((1L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
      .where("false")
    val (cents, objs) = graft.ops.Kmeans.train(noVecs, k = 3, iters = 2)
    assert(cents.isEmpty && objs.forall(_ == 0.0))
  }

  test("snapshot diff classifies NULL values by presence, not nullness") {
    val a = Seq(("k1", null: String), ("k2", "x"), ("k3", null: String))
      .toDF("key", "v")
    val b = Seq(("k1", "y"), ("k2", null: String), ("k3", null: String))
      .toDF("key", "v")
    val got = graft.ops.SnapshotDiff.diff(a, b, "key", "v")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // NULL→y and x→NULL are CHANGED (key present in both snapshots)
    assert(got == Map("k1" -> "changed", "k2" -> "changed"), got)
  }

  test("range join pairs pre-1970 timestamps straddling epoch zero") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // left at +30s, right at -50s: within the 100s window but the rows
    // straddle zero — truncating division would misalign their buckets
    val left = Seq((1L, 10L, t(30))).toDF("k", "lid", "lts")
    val right = Seq((1L, 20L, t(-50))).toDF("k", "rid", "rts")
    val got = graft.ops.RangeJoin
      .windowJoin(left, right, "k", "lid", "rid", "lts", "rts", 100L)
      .collect()
    assert(got.length == 1 && got(0).getLong(3) == 80L * 1000000L, got.toSeq)
  }

  test("config hash: part boundaries are injective, not separator-based") {
    import graft.store.Snapshots.configHash
    // length-prefixed parts: shifting bytes across a part boundary or
    // splitting differently must change the key — a separator-join hash
    // would memoize ("a|b","c") and ("a","b|c") identically
    assert(configHash("a|b", "c") != configHash("a", "b|c"))
    assert(configHash("ab", "") != configHash("a", "b"))
    assert(configHash("ab") != configHash("a", "b"))
    assert(configHash("", "a") != configHash("a", ""))
    // deterministic across calls
    assert(configHash("x", "y") == configHash("x", "y"))
  }

  test("novelty emits explicit zero rows for docs shorter than the gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" "), "s"),
      (2L, "too short", "s")). // 2 words < n=8 → zero 8-grams
      toDF("doc_id", "text", "source")
    val got = graft.ops.TextOps.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == Set(1L, 2L)) // short doc present, not dropped
    assert(got(2L) == ((0L, 0L, 0L)))
    assert(got(1L)._3 == 1000000L)
  }

  test("as-of join carries the matched row atomically when a field is NULL") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, t(100))).toDF("key", "t")
    // older right row has v=old; the MATCHED (latest prior) row has v=NULL:
    // the output must be NULL, never back-filled from the older row
    val right = Seq((1L, t(10), "old"), (1L, t(50), null: String))
      .toDF("key", "t", "v")
    val got = graft.ops.AsofJoin.lastPrior(left, right, "key", "t").collect()
    assert(got.length == 1)
    assert(got(0).isNullAt(got(0).fieldIndex("asof_v")), got.toSeq)
    assert(got(0).getTimestamp(got(0).fieldIndex("asof_t")) == t(50))
  }

  test("round-7 curation ops survive degenerate input") {
    import org.apache.spark.sql.functions.col
    // semanticDedup: singleton (one vector, no pair) and zero-norm
    val one = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val r1 = graft.ops.Dedup.semanticDedup(one, k = 2).collect()
    assert(r1.length == 1 && r1(0).getLong(2) == 0L)
    val zeros = Seq((1L, Array.fill(64)(0.0f)), (2L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    // two zero vectors: dot = 0 → never "similar", both kept
    assert(graft.ops.Dedup.semanticDedup(zeros, k = 1)
      .where(col("is_dup") === 1L).count() == 0)
    // a repeated vec_id is one vector: the oracle pairs on a strict
    // a.vec_id < b.vec_id, so no (id, id) pair and no dup
    val rep = Seq((1L, Array.fill(64)(0.1f)), (1L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val (_, repPairs) = graft.ops.Dedup.semanticPairs(rep, 1, 2, 950L, 100)
    assert(repPairs.where(col("vec_a") === col("vec_b")).count() == 0)
    assert(graft.ops.Dedup.semanticDedup(rep, k = 1)
      .where(col("is_dup") === 1L).count() == 0)
    // dsirSelect: empty target set (tt = 0) must not throw — weights
    // become log2((raw_b+1)/(R+1))-shaped, still a total order
    val d = Seq((1L, "a b c", "s"), (2L, "d e f", "s"))
      .toDF("doc_id", "text", "source")
    assert(graft.ops.Filters.dsirSelect(d, col("doc_id") < 0L).count() == 2)
    // curationFunnel: empty corpus and an empty-text doc (zero words →
    // length stage, never a divide-by-zero in the repetition rule)
    assert(graft.ops.Filters.curationFunnel(emptyDocs).count() == 0)
    val et = Seq((1L, "", "s")).toDF("doc_id", "text", "source")
    val v = graft.ops.Filters.curationFunnel(et).collect()
    assert(v.length == 1 && v(0).getString(1) == "length")
  }
}
