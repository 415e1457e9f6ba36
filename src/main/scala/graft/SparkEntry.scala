package graft

import graft.gen.CorpusGen
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator family from SURVEY.md §2; keys
  * with an `oracleSql` twin are verified value-for-value against DuckDB
  * on the same parquet; KG-pipeline keys (no SQL equivalent) get the
  * rows-only check and are verified exactly in `sbt -batch test`
  * (golden-fixture P/R — see PipelineSpec).
  */
object SparkEntry {

  /** Smoke-run cap (the reference's `--dry_run` truncation,
    * models/bert.py:165-169): when `graft.limit` is set (Main's
    * `--limit N`), every driver-table read is capped to N rows — the
    * whole query surface runs end-to-end on a sliver. Results under a
    * limit are for smoke only (the DuckDB oracle reads full tables).
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    sys.props.get("graft.limit").fold(df)(n => df.limit(n.toInt))
  }

  /** q101's per-JVM store root (built+compacted once, lookups repeat).
    * Guarded by a plain lock, NOT AtomicReference.updateAndGet: the
    * update function of a CAS loop may run more than once under
    * contention, and this one has side effects (store build + temp
    * dir) that must happen exactly once.
    */
  private val q101Lock = new Object
  @volatile private var q101Root: String = null

  private def q101StoreRoot(build: () => String): String = q101Lock.synchronized {
    if (q101Root == null) q101Root = build()
    q101Root
  }

  /** The compacted lookup store q101/q105 read: golden corpus → lineage
    * run → compaction (tiny row groups so pruning has granules to skip).
    */
  private def buildLookupStore(s: SparkSession): String = {
    val dir0 = java.nio.file.Files
      .createTempDirectory("graft_subj_lookup_q").toString
    val docs = CorpusGen.docs(s, 500, parts = 8)
    graft.store.LineageStore.runResumable(s, dir0, "triples", docs,
      ds => KgPipeline.run(s, ds, CorpusGen.aliases(s)),
      KgPipeline.Config().buckets, "q101")
    graft.store.LineageStore.compactTriples(s, dir0,
      rowGroupBytes = Some(16L * 1024), maxRecordsPerFile = Some(128L))
    // the obj-side inverted twin (q106) — built at compaction time,
    // exactly as a production compactor would
    graft.store.LineageStore.buildObjIndex(s, dir0,
      rowGroupBytes = Some(16L * 1024), maxRecordsPerFile = Some(128L))
    dir0
  }

  /** Flagship: the end-to-end KG construction pipeline on a generated
    * interleaved corpus (BASELINE.json north rule). Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = CorpusGen.docs(spark, 200, parts = 8)
    KgPipeline.run(spark, docs, CorpusGen.aliases(spark)).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.3/2.6): agg with map-side combine ----
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // ---- filter + projection pushdown (SURVEY §2.3 P2/P6) ----
    "q02_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_discount") >= 0.05 && col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- broadcast equi-join + agg (SURVEY §2.4) ----
    "q03_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
        .orderBy("c_mktsegment")
    }),
    // ---- semi-join (selection filter, SURVEY §2.4 J3) ----
    "q04_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    // ---- anti-join (resume semantics, SURVEY §2.9 ST3) ----
    "q05_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    // ---- running-sum window (sentence segmentation analog, W1) ----
    "q06_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_total", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
    }),
    // ---- lag window (I-without-B repair analog, W3) ----
    "q07_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_type", lag("event_type", 1, "NONE").over(w))
        .select("event_id", "user_id", "event_type", "prev_type")
        .orderBy("event_id")
    }),
    // ---- distinct + sort (label-map inference, A2) ----
    "q08_distinct" -> ((s, dir) => {
      t(s, dir, "events").select("event_type").distinct().orderBy("event_type")
    }),
    // ---- union (GT union, U1) ----
    "q09_union" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.where(col("event_type") === "click").select("event_id", "user_id")
        .unionByName(
          e.where(col("event_type") === "view").select("event_id", "user_id"))
        .orderBy("event_id")
    }),
    // ---- top-k (O-ops) ----
    "q10_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(10)
    }),
    // ---- grouped top-k via row_number ----
    "q11_grouped_topk" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(desc("value"), asc("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"),
          col("rn").cast("long").as("rn"))
        .orderBy("event_type", "rn")
    }),
    // ---- exact dedup by content hash (training-data op) ----
    "q12_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))
        .orderBy("keep_doc_id")
    }),
    // ---- token count (whitespace tokens, text-analysis op) ----
    "q13_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))
        .orderBy("doc_id")
    }),
    // ---- document fingerprint (md5, shared with DuckDB) ----
    "q14_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- text analysis (training-data ops) ----
    "q15_langid" -> ((s, dir) =>
      graft.ops.TextOps.langId(t(s, dir, "documents")).orderBy("doc_id")),
    "q16_quality" -> ((s, dir) =>
      graft.ops.TextOps.qualityScore(t(s, dir, "documents")).orderBy("doc_id")),
    "q17_fp_shingle" -> ((s, dir) =>
      graft.ops.TextOps.fingerprintShingles(t(s, dir, "documents")).orderBy("doc_id")),
    // ---- dedup family ----
    "q18_minhash_sig" -> ((s, dir) =>
      graft.ops.Dedup.minhashSignatures(t(s, dir, "documents"))
        .orderBy("doc_id", "h")),
    "q19_minhash_pairs" -> ((s, dir) =>
      graft.ops.Dedup.minhashPairs(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    "q20_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhash(t(s, dir, "documents")).orderBy("doc_id")),
    "q56_simhash_pairs" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairs(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    "q21_jaccard" -> ((s, dir) =>
      graft.ops.Dedup.ngramJaccardPairs(t(s, dir, "documents"), 0.05)
        .orderBy("doc_a", "doc_b")),
    "q22_embed_neardup" -> ((s, dir) =>
      graft.ops.Dedup.embeddingNearDup(t(s, dir, "embeddings"), 0.35)
        .orderBy("vec_a", "vec_b")),
    // ---- similarity search ----
    "q23_ann_top1" -> ((s, dir) =>
      graft.ops.Ann.bruteTop1(t(s, dir, "embeddings")).orderBy("q_id")),
    "q24_ann_lsh" -> ((s, dir) =>
      graft.ops.Ann.lshTop1(t(s, dir, "embeddings")).orderBy("q_id")),
    "q29_ann_ivf" -> ((s, dir) =>
      graft.ops.Ann.ivfTop1(t(s, dir, "embeddings")).orderBy("q_id")),
    "q30_ann_topk" -> ((s, dir) =>
      graft.ops.Ann.bruteTopK(t(s, dir, "embeddings"), k = 5)
        .orderBy("q_id", "rank")),
    "q31_ann_lsh_topk" -> ((s, dir) =>
      graft.ops.Ann.lshTopK(t(s, dir, "embeddings"), k = 5)
        .orderBy("q_id", "rank")),
    "q32_ann_ivf_probe" -> ((s, dir) =>
      graft.ops.Ann.ivfTopK(t(s, dir, "embeddings"), k = 5, probes = 2)
        .orderBy("q_id", "rank")),
    "q36_ann_recall" -> ((s, dir) =>
      graft.ops.Ann.recallAtK(t(s, dir, "embeddings"), k = 5)
        .orderBy("method", "q_id")),
    "q41_ann_lsh_multi" -> ((s, dir) =>
      graft.ops.Ann.lshTopKMulti(t(s, dir, "embeddings"), k = 5)
        .orderBy("q_id", "rank")),
    // ---- time-window aggregation (events) ----
    "q25_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
        .orderBy("hour", "event_type")),
    // ---- SQL front end: the same engine through spark.sql text ----
    "q28_sql_revenue" -> ((s, dir) => {
      Seq("lineitem", "orders", "customer", "nation").foreach { n =>
        t(s, dir, n).createOrReplaceTempView(n)
      }
      s.sql(
        """SELECT n_name, count(*) AS n_items,
          | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),
    // ---- correlated EXISTS subquery (TPC-H Q4 shape): Catalyst
    //      decorrelates it into a left-semi join — the SQL front end's
    //      subquery path, not just flat joins ----
    "q84_exists_subquery" -> ((s, dir) => {
      Seq("lineitem", "orders").foreach { n =>
        t(s, dir, n).createOrReplaceTempView(n)
      }
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |    AND l_discount > 0.05)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),
    // ---- set operations: INTERSECT and EXCEPT over key sets ----
    "q85_set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def ids(tpe: String) = ev.where(col("event_type") === tpe)
        .select(col("user_id")).distinct()
      val clicks = ids("click")
      val purchases = ids("purchase")
      val both = clicks.intersect(purchases)
        .select(col("user_id"), lit("click_and_purchase").as("cohort"))
      val lapsed = clicks.except(purchases)
        .select(col("user_id"), lit("click_no_purchase").as("cohort"))
      both.unionByName(lapsed).orderBy("cohort", "user_id")
    }),
    // ---- scale-path dedup: LSH candidates + exact Jaccard verify ----
    "q27_lsh_jaccard" -> ((s, dir) =>
      graft.ops.Dedup.lshJaccardPairs(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    // ---- masked-LM pregeneration plumbing (M5,
    //      pregenerate_training_data.py:42-58,102-131) ----
    "q34_mlm_pairs" -> ((s, dir) =>
      graft.ops.MlmGen.nspPairs(t(s, dir, "documents")).orderBy("doc_id")),
    "q35_mlm_masks" -> ((s, dir) =>
      graft.ops.MlmGen.maskedLm(t(s, dir, "documents")).orderBy("doc_id", "pos")),
    // ---- contrastive-pair negative sampling (rank-space md5 draws) ----
    "q57_neg_sampling" -> ((s, dir) =>
      graft.ops.MlmGen.negativeSamples(t(s, dir, "documents"))
        .orderBy("doc_id", "j")),
    // ---- dedup cluster collapse: LSH pairs → connected components ----
    "q33_dedup_clusters" -> ((s, dir) =>
      graft.ops.Dedup.duplicateClusters(s, t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- AS-OF join (Spark has no native form; DuckDB's ASOF JOIN is
    //      the independent oracle): each click matched to the user's
    //      latest view at-or-before it ----
    "q53_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      // right side unique per (user, ts): keep the max event id
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("event_id").as("view_event_id"))
      graft.ops.AsofJoin.lastPrior(clicks, views, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").cast("long").as("click_epoch"),
          col("asof_view_event_id").as("view_event_id"),
          col("asof_ts").cast("timestamp").cast("long").as("view_epoch"))
        .orderBy("event_id")
    }),
    // ---- gap-based sessionization (window lag + running sum) ----
    "q26_sessionize" -> ((s, dir) =>
      graft.ops.Sessionize.sessions(t(s, dir, "events"))
        .orderBy("user_id", "session_id")),
    // ---- multimodal: REAL PNG encode (ImageIO, JDK built-in) → batched
    //      REAL decode; the encoded dimensions follow an md5 rule, so the
    //      DuckDB oracle predicts exactly what ImageIO must decode ----
    "mm_features" -> ((s, dir) => {
      val media = graft.ops.Multimodal.pngMediaTable(t(s, dir, "documents"))
      graft.ops.Multimodal.decodeFeatures(s, media).toDF()
        .select(col("doc_id"), col("media_ref"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          (col("width") * col("height")).cast("long").as("n_pixels"))
        .orderBy("doc_id")
    }),

    // ---- langid accuracy eval: confusion counts vs the lang labels.
    //      (The driver's synthetic documents carry English-ish filler text
    //      under every lang label, so the matrix collapses onto the 'en'
    //      column by construction — the operator is the confusion-count
    //      evaluation shape, the data has no real signal to detect.) ----
    "q44_langid_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextOps.langId(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),
    // ---- langid eval with REAL planted signal: the generator plants a
    //      language-consistent vocabulary per doc; DuckDB recomputes the
    //      full confusion matrix from the text independently (the input
    //      corpus is dumped at verify time, never the predictions) ----
    "q45_langid_planted" -> ((s, dir) => {
      graft.gen.Goldens.writeLangDocs(s, 500)
      val docs = graft.gen.CorpusGen.langDocs(s, 500, parts = 8)
      graft.ops.TextOps.langId(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),
    // ---- remaining star-schema dims: 3-level dim chain + pushdown agg ----
    "q42_supplier_region" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"),
          round(avg("s_acctbal"), 4).as("avg_bal"))
        .orderBy("r_name")
    }),
    "q43_part_stats" -> ((s, dir) =>
      t(s, dir, "part")
        .where(col("p_size").between(1, 25))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          round(avg("p_retailprice"), 4).as("avg_price"))
        .orderBy("p_brand")),
    // ---- corpus-curation filters (Gopher/C4-family, decontamination) ----
    "q46_repetition" -> ((s, dir) =>
      graft.ops.Filters.repetitionStats(t(s, dir, "documents"))
        .orderBy("doc_id")),
    "q47_sample_budget" -> ((s, dir) =>
      graft.ops.Filters.sampleToBudget(t(s, dir, "documents"), budgetTokens = 1000)
        .orderBy("source")),
    "q48_contamination" -> ((s, dir) =>
      graft.ops.Filters.contamination(t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- vocabulary construction + coverage (tokenizer preparation) ----
    "q49_vocab_build" -> ((s, dir) =>
      graft.ops.VocabOps.buildVocab(t(s, dir, "documents"), k = 1000)
        .orderBy("rank")),
    "q50_oov_rate" -> ((s, dir) =>
      graft.ops.VocabOps.oovRate(t(s, dir, "documents"), k = 100)
        .orderBy("source")),
    // ---- KG graph analytics over the materialized triple store; the
    //      oracle reads the SAME co-occurrence graph from the sequential
    //      golden (hash-verified identical to the pipeline's output) ----
    "q51_kg_degrees" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.degreeDistribution(triples).orderBy("degree")
    }),
    "q52_kg_pagerank" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.pageRank(triples, iters = 3).orderBy("entity")
    }),
    // ---- triangle counts (degree-ordered orientation; oracle uses the
    //      orientation-free naive a<b<c triple-join — same counts) ----
    "q58_kg_triangles" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.triangleCounts(triples).orderBy("entity")
    }),
    // ---- integer-math co-occurrence lift (relation-strength score) ----
    "q59_kg_lift" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.cooccurrenceLift(triples).orderBy("subj", "obj")
    }),
    // ---- deterministic label-propagation communities (sync updates,
    //      count-desc/label-asc ties — replayable, unlike async LPA) ----
    "q65_kg_communities" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.labelPropagation(triples, iters = 2)
        .orderBy("entity")
    }),
    // ---- key-skew diagnostics (top-N heavy keys, integer ppm share) ----
    "q66_skew_report" -> ((s, dir) =>
      graft.ops.Diagnostics.skewReport(t(s, dir, "events"), "user_id",
        topN = 10)),
    // ---- BPE-ish regex token counting (whitespace twin: q13) ----
    "q40_token_bpe" -> ((s, dir) =>
      graft.ops.TextOps.bpeTokenCount(t(s, dir, "documents")).orderBy("doc_id")),
    // ---- grouped k-fold assignment via the range-partitioned rank scan
    //      (the distributed ntile the MLM sampler and cross-validation
    //      are built on — verified against SQL ntile directly) ----
    "q55_cv_folds" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id").distinct()
      graft.ops.Scans.ntileFolds(ids, "doc_id", 5)
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .select(col("fold").cast("long").as("fold"), col("n_docs"),
          col("min_doc"), col("max_doc"))
        .orderBy("fold")
    }),
    // ---- exact global percentiles via the range-partitioned
    //      rank-select scan (no global sort / single-partition window;
    //      the exact-at-scale twin of approx_percentile) ----
    "q60_percentiles" -> ((s, dir) => {
      val lens = t(s, dir, "documents")
        .select(length(col("text")).cast("long").as("len"))
      graft.ops.Scans
        .exactPercentiles(lens, "len", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("p")
    }),
    // ---- map-side-pruned grouped top-k (bounded heaps before the
    //      exchange; output identical to the q11 window form) ----
    "q63_topk_pruned" -> ((s, dir) =>
      graft.ops.TopK.groupedTopK(
        t(s, dir, "events").select(col("event_type").as("grp"),
          col("event_id").as("id"), col("value").as("v")), k = 3)
        .select(col("grp").as("event_type"), col("id").as("event_id"),
          col("v").as("value"), col("rn").cast("long").as("rn"))
        .orderBy("event_type", "rn")),
    // ---- deterministic uniform k-sample per group (md5-rank order,
    //      same map-side heap pruning as q63) ----
    "q64_group_sample" -> ((s, dir) =>
      graft.ops.TopK.sampleKPerGroup(t(s, dir, "documents"),
          "source", "doc_id", k = 5)
        .select(col("grp").as("source"),
          col("id").cast("long").as("doc_id"),
          col("rn").cast("long").as("rn"))
        .orderBy("source", "rn")),
    // ---- deterministic Bloom-filter membership pruning: the output is
    //      the bloom-passing SUPERSET (false positives included — both
    //      engines derive the same md5 bit positions) ----
    "q61_bloom_prune" -> ((s, dir) => {
      import s.implicits._
      val smallKeys = t(s, dir, "customer").where(col("c_nationkey") < 5)
        .select(col("c_custkey").cast("string")).distinct().as[String]
      // fan the single-file fact scan out before the per-row md5
      // membership probes; barrier form — the bloom predicate is a
      // pushable filter that would otherwise sink below the repartition
      val large = graft.ops.Par.fanOutBarrier(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_custkey").cast("string").as("key")))
      graft.ops.Bloom.prune(large, "key", smallKeys, m = 1 << 12, k = 4)
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    }),
    // ---- FP-free integer-quantized k-means (trained IVF quantizer,
    //      fully DuckDB-replayed: quantize → 2 Lloyd updates → assign) ----
    "q62_kmeans_int" -> ((s, dir) =>
      graft.ops.Kmeans.assignQuantized(t(s, dir, "embeddings"),
        k = 4, updates = 2).orderBy("vec_id")),
    // ---- end-to-end integer IVF ANN: trained quantizer + cell-
    //      restricted search, ranked by exact integer L2 (bit-exact
    //      replay of index build AND search) ----
    "q67_ann_ivf_int" -> ((s, dir) =>
      graft.ops.Kmeans.ivfSearchQuantized(t(s, dir, "embeddings"),
          k = 4, updates = 2, nQueries = 10, topK = 3)
        .orderBy("q_id", "rank")),
    // ---- per-source exact percentiles (grouped rank-select scan) ----
    "q68_percentiles_by_src" -> ((s, dir) =>
      graft.ops.Scans.groupedExactPercentiles(
          t(s, dir, "documents")
            .select(col("source"), length(col("text")).as("len")),
          "source", "len", Seq(0.5, 0.9, 0.99))
        .select(col("grp").as("source"), col("p"), col("value"))
        .orderBy("source", "p")),
    // ---- breadth-first k-hop reachability from a deterministic seed
    //      set (frontier BFS; oracle = recursive CTE + min(hops)) ----
    "q69_kg_khop" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.kHopDistances(triples, maxHops = 3, seedMod = 16)
        .orderBy("entity")
    }),
    // ---- entity-neighbourhood Jaccard (integer ppm; wedge join with
    //      the hub-degree cap replayed by the oracle) ----
    "q72_kg_nbr_jaccard" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.neighborhoodJaccard(triples)
        .orderBy("a", "b")
    }),
    // ---- personalized (seed-teleport) integer PageRank: relevance to
    //      the q69 seed set rather than global centrality ----
    "q83_kg_ppr" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.personalizedPageRank(triples, iters = 3, seedMod = 16)
        .orderBy("entity")
    }),
    // ---- bounded-state histogram quantiles per group (the approximate
    //      twin of q68's exact rank-select scan) ----
    "q70_hist_quantile" -> ((s, dir) =>
      graft.ops.Scans.histogramQuantiles(
          t(s, dir, "documents").select(col("source"),
            length(col("text")).as("len")),
          "source", "len", binWidth = 64L, ps = Seq(0.5, 0.9))
        .select(col("grp").as("source"), col("p"), col("bin"),
          col("lo"), col("hi"))
        .orderBy("source", "p")),
    // ---- edit-distance-1 token pairs via (first char, length)
    //      blocking + levenshtein verify (fuzzy linking primitive);
    //      universe = document vocabulary ∪ md5-derived OCR variants ----
    "q71_fuzzy_tokens" -> ((s, dir) => {
      // r8: fan the single-file scan out before the explode+regex token
      // kernel (§2.5), and cut the two-consumer subtree (the clean union
      // side AND ocrVariants read `words`) so the kernel runs once —
      // profiled as two serialized single-task stages (111+313 ms)
      val words = graft.ops.Par.fanOut(
          t(s, dir, "documents").select(col("text")))
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word").rlike("^[a-z]{4,}$")).distinct()
        .localCheckpoint(eager = false, graft.ops.Par.cutLevel)
      graft.ops.FuzzyJoin.nearTokenPairs(
          words.unionByName(graft.ops.FuzzyJoin.ocrVariants(words)))
        .orderBy("a", "b")
    }),
    // ---- EXACT Jaccard-threshold set-similarity join via prefix
    //      filtering (no false negatives — oracle is the naive
    //      all-pairs join, which must agree exactly) ----
    "q73_setsim_prefix" -> ((s, dir) =>
      graft.ops.Dedup.setSimJoinPrefix(t(s, dir, "documents"),
          tPpm = 700000L)
        .orderBy("doc_a", "doc_b")),
    // ---- dedup-first set-similarity join: exact-dup families collapse
    //      to keepers BEFORE the prefix join, results expand back to
    //      members — pair set must equal the naive all-pairs join over
    //      the replicated corpus (every third doc gets an exact copy:
    //      intra-family, cross-family and rep-pair paths all exercised) ----
    "q104_setsim_dedup_first" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = d.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      graft.ops.Dedup.setSimJoinDedupFirst(d.unionByName(copies),
          tPpm = 700000L)
        .orderBy("doc_a", "doc_b")
    }),
    // ---- SemDeDup semantic dedup: integer k-means cells, within-cell
    //      first-wins cosine pruning (every fifth vector gets an exact
    //      copy — same cell by construction, cosine exactly 1.0, so
    //      each copy must flag is_dup while random pairs stay well
    //      below the 0.95 threshold) ----
    "q108_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val copies = emb.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.ops.Dedup.semanticDedup(emb.unionByName(copies))
        .orderBy("vec_id")
    }),
    // ---- SemDeDup cluster-keeper variant: the same within-cell pairs
    //      become ε-graph edges, connected components collapse each
    //      similar group (TRANSITIVE) to its min-id keeper ----
    "q111_semantic_clusters" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val copies = emb.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.ops.Dedup.semanticClusters(emb.unionByName(copies))
        .orderBy("vec_id")
    }),
    // ---- DSIR importance-resampling selection: hashed-unigram
    //      target/raw distributions (target = lang='en'), fixed-point
    //      log2 importance weights, deterministic top-k ----
    "q109_dsir_select" -> ((s, dir) =>
      graft.ops.Filters.dsirSelect(t(s, dir, "documents"),
        col("lang") === "en", nBuckets = 64, topDocs = 50)),
    // ---- CCNet/RedPajama curation cascade with first-fail accounting:
    //      planted German prefixes (15%), planted contact lines (30%,
    //      the q93 recipe) and exact copies (doc_id % 7) give every
    //      stage real drops; dedup keepers are computed among the
    //      survivors of the earlier stages only ----
    "q110_curation_funnel" -> ((s, dir) => {
      import graft.ops.TextOps.hexInt
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = d.select(col("doc_id"),
          when(pmod(hexInt(concat(col("doc_id").cast("string"),
              lit("_lang"))), lit(100)) < 15,
            concat(lit("der und das der und das der und das der und das " +
              "der und das der und das "), col("text")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"),
          when(pmod(hexInt(concat(col("doc_id").cast("string"),
              lit("_pii"))), lit(100)) < 30,
            concat(col("text"), lit(" kontakt nutzer"),
              pmod(col("doc_id"), lit(97)), lit("@beispiel.de tel +4930"),
              pmod(col("doc_id"), lit(100000)) + 1000000))
            .otherwise(col("text")).as("text"))
      val corpus = planted.unionByName(
        planted.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      graft.ops.Filters.curationFunnel(corpus).orderBy("doc_id")
    }),
    // ---- one BPE-trainer step: top-k adjacent char-pair merges over
    //      the word-frequency table ----
    "q74_bpe_merges" -> ((s, dir) =>
      graft.ops.VocabOps.bpeMergePairs(t(s, dir, "documents"), k = 20)
        .orderBy("rank")),
    // ---- local clustering coefficient (integer ppm) ----
    "q75_kg_clustering" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val triples = KgPipeline.run(s, docs, CorpusGen.aliases(s))
      graft.kg.GraphOps.clusteringCoefficient(triples).orderBy("entity")
    }),
    // ---- change-data capture between two dimension snapshots (both
    //      snapshots derived from customer by md5 rules both engines
    //      replay; unchanged keys dropped) ----
    "q76_snapshot_diff" -> ((s, dir) => {
      import graft.ops.TextOps.hexInt
      val base = t(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("ck"),
          col("c_mktsegment").as("seg"))
      val a = base.where(hexInt(concat(col("ck"), lit("_add"))) % 10 =!= 0)
      val b = base.where(hexInt(concat(col("ck"), lit("_rm"))) % 10 =!= 0)
        .select(col("ck"),
          when(hexInt(concat(col("ck"), lit("_chg"))) % 7 === 0,
            concat(col("seg"), lit("_v2"))).otherwise(col("seg")).as("seg"))
      graft.ops.SnapshotDiff.diff(a, b, "ck", "seg").orderBy("ck")
    }),
    // ---- generic skew-salted equi-join (events fact × derived dim);
    //      the oracle is the PLAIN join — salting must not change the
    //      result, only the partitioning ----
    "q77_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("uid"), col("event_id"))
      val dim = ev.select(col("uid")).distinct()
        .withColumn("attr",
          expr("substring(md5(concat(uid, '_attr')), 1, 4)"))
      graft.ops.SaltedJoin.saltedEquiJoin(ev, dim, "uid",
          heavyThreshold = 50L, salts = 8)
        .groupBy("attr").agg(count(lit(1)).as("n_events"),
          sum(expr("event_id % 1000")).as("id_sum"))
        .orderBy("attr")
    }),
    // ---- bucketed range join: purchases ⋈ same-user clicks within
    //      the preceding hour (integer-microsecond attribution lag) ----
    "q78_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("cts"))
      graft.ops.RangeJoin.windowJoin(purchases, clicks, "user_id",
          "purchase_id", "click_id", "ts", "cts", windowSec = 3600L)
        .orderBy("user_id", "purchase_id", "click_id")
    }),
    // ---- inverted-index posting statistics (retrieval-stack prep) ----
    "q79_inverted_index" -> ((s, dir) =>
      graft.ops.VocabOps.invertedIndex(t(s, dir, "documents"))
        .orderBy("word", "doc_id")),
    // ---- hierarchical ROLLUP aggregate (OLAP subtotals; quantities
    //      summed as exact integers) ----
    "q80_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),
    // ---- SLIDING event-time windows (1h window, 30min slide) via the
    //      native window() function; every event lands in exactly two
    //      windows, epochs compared in integer microseconds ----
    "q81_sliding_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts").cast("timestamp"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          unix_micros(col("window.end")).as("w_end_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")),
    // ---- PIVOT (wide counts per event type; explicit value list keeps
    //      the plan single-pass — no extra distinct-values job) ----
    "q82_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("bucket")),
    // ---- deterministic train/valid/test split (md5 draw vs integer
    //      cumulative ppm buckets; assignment stable under ingest) ----
    "q86_split_assign" -> ((s, dir) =>
      graft.ops.Filters.splitAssign(t(s, dir, "documents"), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("split")),
    // ---- windowed KMV distinct-user sketch over event time ----
    "q94_kmv_windowed" -> ((s, dir) =>
      graft.ops.Sketches.kmvWindowed(t(s, dir, "events"))
        .orderBy("window_us", "event_type")),
    // ---- real WAV audio decode (javax.sound.sampled): per-clip stats
    //      from actually reading every PCM frame; the oracle replays the
    //      closed-form seed rule from md5(text) ----
    "q95_audio_stats" -> ((s, dir) => {
      val media = graft.ops.Multimodal.wavMediaTable(t(s, dir, "documents"))
      graft.ops.Multimodal.audioStats(s, media).toDF()
        .select(col("doc_id"), col("media_ref"), col("sample_rate"),
          col("n_samples"), col("duration_ms"), col("peak"),
          col("sum_samples"))
        .orderBy("doc_id")
    }),
    // ---- PII detection + redaction (planted deterministic signal) ----
    "q93_pii_redact" -> ((s, dir) =>
      graft.ops.Filters.piiRedact(t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- frame-level audio feature extraction: per-window PCM energy
    //      (decoder squares every sample; oracle = sawtooth closed form) ----
    "q96_audio_energy" -> ((s, dir) => {
      val media = graft.ops.Multimodal.wavMediaTable(t(s, dir, "documents"))
      graft.ops.Multimodal.audioEnergy(s, media).toDF()
        .orderBy("doc_id", "window_idx")
    }),
    // ---- product-quantization ADC search: per-subspace integer
    //      codebooks + table-lookup distances, bit-exact replay of
    //      index build AND search ----
    "q97_pq_adc" -> ((s, dir) =>
      graft.ops.Ann.pqSearchAdc(t(s, dir, "embeddings"),
          m = 2, k = 4, updates = 2, nQueries = 8, topK = 3)
        .orderBy("q_id", "rank")),
    // ---- int8 scalar quantization + integer-L2 top-k (SQ8) ----
    "q99_sq8_ann" -> ((s, dir) =>
      graft.ops.Ann.sq8TopK(t(s, dir, "embeddings"))
        .orderBy("q_id", "rank")),
    // ---- first-wins near-dup gate over LSH band keys ----
    "q100_neardup_gate" -> ((s, dir) =>
      graft.ops.Dedup.nearDupGate(t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- IVF-PQ composed index (FAISS IndexIVFPQ shape): coarse
    //      integer k-means restricts each query to its nearest cell,
    //      residual PQ codes rank candidates by ADC lookups; build AND
    //      search replay bit-exact in DuckDB ----
    "q103_ivf_pq" -> ((s, dir) =>
      graft.ops.Ann.ivfPqSearch(t(s, dir, "embeddings"))
        .orderBy("q_id", "rank")),
    // ---- IVF-PQ + exact re-rank (FAISS IndexRefineFlat): the ADC
    //      shortlist is a candidate generator; exact integer L2 over
    //      the few survivors restores the ordering the m·log2(k)-bit
    //      codes cannot carry ----
    "q107_ivf_pq_refine" -> ((s, dir) =>
      graft.ops.Ann.ivfPqRefine(t(s, dir, "embeddings"))
        .orderBy("q_id", "rank")),
    // ---- context-aware entity linking: co-mention anchors outrank
    //      prior (below type match); planted so context FLIPS the
    //      winner in B-anchored docs and degenerates to prior-only
    //      elsewhere ----
    "q102_ctx_linking" -> ((s, dir) => {
      graft.gen.Goldens.writeCtxFixture(s, 400)
      graft.kg.Linker.linkContextual(s,
          CorpusGen.ctxMentions(s, 400, parts = 8),
          CorpusGen.ctxAliases(s))
        .orderBy("doc_id", "span_offset", "sentence_idx", "surface_norm")
    }),
    // ---- triple-store subject point lookup over a compacted store:
    //      build → compact (subj-sorted row groups, the zone-map rung) →
    //      pushed-down equality scan; row-group pruning is metrics-
    //      asserted in StoreLookupSpec, value parity is oracled here ----
    "q101_subj_lookup" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      // build + compact ONCE per JVM (idempotent-memoized like the
      // goldens): the query under test is the LOOKUP over a compacted
      // store — a bench iterating this entry must measure the read
      // path, not re-pay the store build every round
      val root = q101StoreRoot(() => buildLookupStore(s))
      // metadata-only min from the file manifest (Iceberg-style; exact
      // scan fallback inside) — the full-store scan this replaced was
      // the query's dominant cost, not the pruned lookup itself
      val subj = graft.store.LineageStore.minSubject(s, root).get
      graft.store.LineageStore.lookupBySubject(s, root, subj).toDF()
        .select(col("subj"), col("pred"), col("obj"), col("doc_id"),
          col("bucket").cast("long").as("bucket"), col("conf"))
        .orderBy("doc_id", "pred", "obj")
    }),
    // ---- (subject, predicate) composite point lookup: manifest FILE
    //      pruning + (subj, pred) row-group skipping over the same
    //      compacted store; value parity vs the golden triples ----
    "q105_spo_lookup" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val root = q101StoreRoot(() => buildLookupStore(s))
      val subj = graft.store.LineageStore.minSubject(s, root).get
      val pred = graft.store.LineageStore.lookupBySubject(s, root, subj)
        .toDF().agg(min("pred")).head.getString(0)
      graft.store.LineageStore.lookupBySubjectPred(s, root, subj, pred).toDF()
        .select(col("subj"), col("pred"), col("obj"), col("doc_id"),
          col("bucket").cast("long").as("bucket"), col("conf"))
        .orderBy("doc_id", "obj")
    }),
    // ---- object point lookup (inbound edges) over the inverted
    //      obj-side twin index: obj-manifest file pruning +
    //      (obucket, obj, pred)-sorted row-group skipping; value
    //      parity vs the golden triples ----
    "q106_obj_lookup" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val root = q101StoreRoot(() => buildLookupStore(s))
      val obj = graft.store.LineageStore.minObject(s, root).get
      graft.store.LineageStore.lookupByObject(s, root, obj).toDF()
        .select(col("subj"), col("pred"), col("obj"), col("doc_id"),
          col("bucket").cast("long").as("bucket"), col("conf"))
        .orderBy("doc_id", "subj", "pred")
    }),
    // ---- RAG/pretraining sliding-window chunking ----
    "q90_chunking" -> ((s, dir) =>
      graft.ops.TextOps.chunkDocs(t(s, dir, "documents"))
        .orderBy("doc_id", "chunk_idx")),
    // ---- Zipf count-of-counts spectrum ----
    "q91_freq_spectrum" -> ((s, dir) =>
      graft.ops.VocabOps.freqSpectrum(t(s, dir, "documents"))
        .orderBy("freq")),
    // ---- per-doc 8-gram novelty vs all earlier docs ----
    "q92_novelty" -> ((s, dir) =>
      graft.ops.TextOps.ngramNovelty(t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- exact substring-level duplication coverage (span dedup) ----
    "q98_dup_spans" -> ((s, dir) =>
      graft.ops.Dedup.duplicateSpanCoverage(t(s, dir, "documents"))
        .orderBy("doc_id")),
    // ---- integer-quantized BM25 over the inverted index ----
    "q87_bm25" -> ((s, dir) =>
      graft.ops.VocabOps.bm25(t(s, dir, "documents"))
        .orderBy(desc("bm25_milli"), asc("doc_id"))),
    // ---- per-source count-min sketch (grouped curation slice) ----
    "q88_cms_grouped" -> ((s, dir) =>
      graft.ops.Sketches.cmsWordCountsGrouped(t(s, dir, "documents"))
        .orderBy("source", "word")),
    // ---- deterministic count-min word-frequency sketch ----
    "q54_cms_counts" -> ((s, dir) =>
      graft.ops.Sketches.cmsWordCounts(t(s, dir, "documents"))
        .orderBy("word")),
    // ---- deterministic KMV distinct-count sketch ----
    "q39_kmv_distinct" -> ((s, dir) =>
      graft.ops.Sketches.kmvDistinct(t(s, dir, "documents"), k = 16)
        .orderBy("source")),
    // ---- multimodal resize / frame-sample plumbing ----
    "q37_mm_resize" -> ((s, dir) => {
      val media = graft.ops.Multimodal.pngMediaTable(t(s, dir, "documents"))
      graft.ops.Multimodal.resizePlan(
        graft.ops.Multimodal.decodeFeatures(s, media).toDF()).orderBy("doc_id")
    }),
    // decode-verified: the payload is a GFV1 container of REAL PNG
    // frames, every sampled frame is genuinely ImageIO-decoded, and the
    // oracle predicts per-frame channel sums + mean-RGB (ppm) from
    // md5(text) via the closed-form pixel rule
    "q38_mm_frames" -> ((s, dir) =>
      graft.ops.Multimodal.videoFrameFeatures(s,
        graft.ops.Multimodal.vidMediaTable(t(s, dir, "documents"))).toDF()
        .orderBy("doc_id", "frame_idx")),

    // ---- KG pipeline stages: hash-compared against SEQUENTIAL golden
    //      replays of plant-time knowledge (graft.gen.Goldens), which the
    //      DuckDB oracle reads back via read_parquet ----
    "kg_triples" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      KgPipeline.run(s, docs, CorpusGen.aliases(s)).toDF()
        .select("subj", "pred", "obj", "doc_id", "bucket", "conf")
        .orderBy("doc_id", "pred", "subj", "obj")
    }),
    "kg_mentions" -> ((s, dir) => {
      graft.gen.Goldens.writeMentions(s, 500)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val sents = KgPipeline.sentences(s, docs)
      KgPipeline.detectMentions(s, sents,
          new graft.tag.GazetteerTagger(KgPipeline.defaultGazetteer)).toDF()
        .orderBy("doc_id", "span_offset", "start_word")
    }),
    // ---- raw-text ingestion e2e (the reference's /ner path): raw
    //      string → sentence splitter → fused detect, vs a sequential
    //      single-threaded golden replay ----
    "q89_raw_ner" -> ((s, dir) => {
      graft.gen.Goldens.writeRawNer(s, 300)
      val docs = CorpusGen.docs(s, 300, parts = 8)
      KgPipeline.detectMentions(s, KgPipeline.rawSentences(s, docs),
          new graft.tag.GazetteerTagger(KgPipeline.defaultGazetteer)).toDF()
        .orderBy("doc_id", "sentence_idx", "start_word")
    }),
    // ---- ETL parsers on deterministic fixture files (exact-verified in EtlSpec) ----
    "etl_gt_union" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_etl_q")
      def w(n: String, c: String): String = {
        val p = tmp.resolve(n); java.nio.file.Files.writeString(p, c); p.toString
      }
      val conllP = w("c.txt",
        "-DOCSTART- -X- O O\n\nParis NNP I-NP B-LOC\nist VERB I-VP O\n.. . O O\n\nAnna NNP I-NP B-PER\nMüller NNP I-NP I-PER\n")
      val germP = w("g.tsv", "# c\n1\tBerliner\tB-LOCderiv\tO\n2\tKind\tO\tO\n")
      val euP = w("e.bio", "Wien B-LOC\nist O\ngross. O\n")
      val wikiP = w("w.txt", "Paris|NPP|I-LOC ist|V|O\n")
      graft.etl.Parsers.joinGt(
        graft.etl.Parsers.conll(s, conllP, "DE-CONLL-TEST"),
        graft.etl.Parsers.germeval(s, germP, "GERM-EVAL-TEST"),
        graft.etl.Parsers.europeana(s, euP, "EU-TEST"),
        graft.etl.Parsers.wikiner(s, wikiP, "WIKINER-TEST")).toDF()
        .orderBy("nsentence", "nword")
    }),
    // ---- salted-link path end-to-end (skew-aware; parity-tested) ----
    "kg_linked_salted" -> ((s, dir) => {
      graft.gen.Goldens.writeLinked(s, 300)
      val docs = CorpusGen.docs(s, 300, parts = 8)
      val sents = KgPipeline.sentences(s, docs)
      // persisted: skew inference (sampled action) and the join itself
      // both consume the detect stage — without the cache it runs twice
      val mentions = KgPipeline.detectMentions(s, sents,
        new graft.tag.GazetteerTagger(KgPipeline.defaultGazetteer)).persist()
      // one row per distinct mention key, as the golden: the join emits
      // one per occurrence, and a sentence can name a person twice
      graft.kg.Linker.linkSaltedJoin(s, mentions, CorpusGen.aliases(s)).toDF()
        .distinct()
        .orderBy("doc_id", "span_offset", "surface")
    }),
    // ---- salted pipeline over the snapshot-keyed DictStore: the
    //      SECOND run (scored dictionary READ from the store, zero
    //      rebuild — asserted via the build counter) must produce the
    //      same triples as the broadcast golden ----
    "kg_store_salted" -> ((s, dir) => {
      graft.gen.Goldens.writeTriples(s, 500, KgPipeline.Config().buckets)
      val root = java.nio.file.Files
        .createTempDirectory("graft_dict_store_q").toString
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val aliases = CorpusGen.aliases(s)
      val cfg = KgPipeline.Config(broadcastLink = false,
        dictStore = Some(root))
      KgPipeline.run(s, docs, aliases, cfg = cfg).count() // builds store
      s.catalog.clearCache()
      val before = graft.kg.Linker.scoredDictBuilds.get()
      val out = KgPipeline.run(s, docs, aliases, cfg = cfg).toDF()
        .select("subj", "pred", "obj", "doc_id", "bucket", "conf")
        .orderBy("doc_id", "pred", "subj", "obj")
        .localCheckpoint() // materialize BEFORE the counter check
      require(graft.kg.Linker.scoredDictBuilds.get() == before,
        "scored dictionary was rebuilt on a warm store")
      s.catalog.clearCache()
      out
    }),
    // ---- GT eval path: gold-label tagger roundtrip metrics (F1 = 1.0) ----
    "kg_gt_eval" -> ((s, dir) => {
      import s.implicits._
      graft.gen.Goldens.writeEval(s, "kg_gt_eval", 300)
      val gt = CorpusGen.gtTokens(s, 300, parts = 8)
      val sents = graft.etl.Assembly.sentences(s, gt)
      val enc = new graft.text.WindowEncoder(
        graft.text.Vocab.default, graft.text.Vocab.tokenToId, graft.text.Tags.labelMap)
      val realigner = new graft.text.Realigner(graft.text.Vocab.default)
      val tagger = new graft.tag.GoldLabelTagger(graft.text.Tags.invLabelMap)
      val pred = sents.flatMap { sn =>
        val (wins, counts) = enc.encodeWithCounts(sn.guid, sn.words, sn.tags)
        val tagged = tagger.tagBatch(wins)
        val (_, preds) = realigner.reglue(tagged.map(w => (w.tokens, w.preds)))
        val tags = realigner.realignWithCounts(sn.words, counts, preds).map(_._2)
        graft.decode.Decode.mentionsOf(sn.guid, sn.words, tags)
      }
      val gold = sents.flatMap(sn =>
        graft.decode.Decode.mentionsOf(sn.guid, sn.words, sn.tags))
        .map(m => graft.model.GoldMention(m.doc_id, m.span_offset,
          m.sentence_idx, m.start_word, m.end_word, m.surface, m.entity_type, "E"))
      graft.eval.SpanMetrics.evaluateMentions(s, pred, gold).toDF().orderBy("slot")
    }),
    // ---- per-row span-sequence invariant (BASELINE.json input_hint) ----
    "kg_span_invariant" -> ((s, dir) => {
      import s.implicits._
      val docs = CorpusGen.docs(s, 500, parts = 8)
      Seq((docs.count(), KgPipeline.spanSequenceViolations(s, docs)))
        .toDF("docs_checked", "violations")
    }),
    "kg_eval_metrics" -> ((s, dir) => {
      graft.gen.Goldens.writeEval(s, "kg_eval_metrics", 500)
      val docs = CorpusGen.docs(s, 500, parts = 8)
      val sents = KgPipeline.sentences(s, docs)
      val mentions = KgPipeline.detectMentions(s, sents,
        new graft.tag.GazetteerTagger(KgPipeline.defaultGazetteer))
      graft.eval.SpanMetrics.evaluateMentions(s, mentions,
        CorpusGen.goldMentions(s, 500, parts = 8)).toDF().orderBy("slot")
    }),
  )

  /** DuckDB-runnable oracles. Column names/aliases match the Spark side
    * exactly (driver compare sorts columns by name then hashes values).
    */
  /** Shared CTE chain for the IVF-PQ oracles (q103 ADC top-k /
    * q107 refine): coarse k-means (q62's unrolled CTEs) -> residuals
    * vs the final coarse centroids -> per-subspace residual codebooks
    * (q97's pattern over the residual table) -> probe the nearest
    * cell -> residual ADC tables -> cell-restricted scoring into
    * `scored`. Integer math + (dist, smaller id) tie-breaks +
    * truncating // throughout, so both engines agree bit-for-bit.
    */
  /** Shared CTE chain for the SemDeDup oracles (q108 first-wins /
    * q111 CC keeper): planted copies (every fifth vector) → quantize
    * at scale 100 → q62's unrolled 2-update Lloyd over the planted set
    * → per-vector cell (`cellof`), squared norm (`n2`) and within-cell
    * integer dot products (`dotp`). Callers append the pruning rule.
    */
  private def semanticPairCtes: String =
    """planted AS (
      |   SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings
      |   UNION ALL
      |   SELECT (vec_id + 1000000)::BIGINT, embedding FROM embeddings
      |   WHERE vec_id % 5 = 0),
      | e AS (SELECT vec_id, j,
      |   CAST(round(CAST(embedding[j+1] AS DOUBLE) * 100) AS BIGINT) AS v
      |   FROM planted, range(0, 64) t(j)),
      | ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
      |   FROM (SELECT vec_id FROM planted ORDER BY vec_id LIMIT 4)),
      | cc0 AS (SELECT ids.cell, e.j, e.v FROM ids JOIN e USING (vec_id)),
      | cd1 AS (SELECT e.vec_id, c.cell,
      |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
      |   FROM e JOIN cc0 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
      | ca1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
      |   FROM cd1) WHERE rn = 1),
      | cc1 AS (SELECT ca1.cell, e.j,
      |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
      |   FROM ca1 JOIN e USING (vec_id) GROUP BY ca1.cell, e.j),
      | cd2 AS (SELECT e.vec_id, c.cell,
      |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
      |   FROM e JOIN cc1 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
      | ca2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
      |   FROM cd2) WHERE rn = 1),
      | cc2 AS (SELECT ca2.cell, e.j,
      |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
      |   FROM ca2 JOIN e USING (vec_id) GROUP BY ca2.cell, e.j),
      | cd3 AS (SELECT e.vec_id, c.cell,
      |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
      |   FROM e JOIN cc2 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
      | cellof AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
      |   FROM cd3) WHERE rn = 1),
      | n2 AS (SELECT vec_id, sum(v*v)::BIGINT AS nn FROM e GROUP BY vec_id),
      | dotp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |   sum(a.v*b.v)::BIGINT AS dot
      |   FROM e a JOIN e b ON a.j = b.j AND a.vec_id < b.vec_id
      |   JOIN cellof ca ON ca.vec_id = a.vec_id
      |   JOIN cellof cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
      |   GROUP BY 1, 2)""".stripMargin

  private def ivfPqScoredCtes: String =
    """WITH e AS (SELECT vec_id, j,
        |   CAST(round(CAST(embedding[j+1] AS DOUBLE) * 1000) AS BIGINT) AS v
        |   FROM embeddings, range(0, 64) t(j)),
        | ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
        |   FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        | cc0 AS (SELECT ids.cell, e.j, e.v FROM ids JOIN e USING (vec_id)),
        | cd1 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cc0 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
        | ca1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM cd1) WHERE rn = 1),
        | cc1 AS (SELECT ca1.cell, e.j,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM ca1 JOIN e USING (vec_id) GROUP BY ca1.cell, e.j),
        | cd2 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cc1 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
        | ca2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM cd2) WHERE rn = 1),
        | cc2 AS (SELECT ca2.cell, e.j,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM ca2 JOIN e USING (vec_id) GROUP BY ca2.cell, e.j),
        | cd3 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cc2 c ON c.j = e.j GROUP BY e.vec_id, c.cell),
        | cellof AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM cd3) WHERE rn = 1),
        | res AS (SELECT e.vec_id, co.cell, e.j // 32 AS sub, e.j % 32 AS sdim,
        |   e.v - c2.v AS rv
        |   FROM e JOIN cellof co USING (vec_id)
        |   JOIN cc2 c2 ON c2.cell = co.cell AND c2.j = e.j),
        | ids2 AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS bcell
        |   FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        | rc0 AS (SELECT r.sub, ids2.bcell, r.sdim, r.rv AS v
        |   FROM ids2 JOIN res r USING (vec_id)),
        | rd1 AS (SELECT r.vec_id, r.sub, c.bcell,
        |   sum((r.rv - c.v)*(r.rv - c.v))::BIGINT AS dist
        |   FROM res r JOIN rc0 c ON c.sub = r.sub AND c.sdim = r.sdim
        |   GROUP BY r.vec_id, r.sub, c.bcell),
        | ra1 AS (SELECT vec_id, sub, bcell FROM (SELECT vec_id, sub, bcell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, bcell) AS rn
        |   FROM rd1) WHERE rn = 1),
        | rc1 AS (SELECT ra1.sub, ra1.bcell, r.sdim,
        |   (sum(r.rv)::BIGINT // count(*))::BIGINT AS v
        |   FROM ra1 JOIN res r ON r.vec_id = ra1.vec_id AND r.sub = ra1.sub
        |   GROUP BY ra1.sub, ra1.bcell, r.sdim),
        | rd2 AS (SELECT r.vec_id, r.sub, c.bcell,
        |   sum((r.rv - c.v)*(r.rv - c.v))::BIGINT AS dist
        |   FROM res r JOIN rc1 c ON c.sub = r.sub AND c.sdim = r.sdim
        |   GROUP BY r.vec_id, r.sub, c.bcell),
        | ra2 AS (SELECT vec_id, sub, bcell FROM (SELECT vec_id, sub, bcell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, bcell) AS rn
        |   FROM rd2) WHERE rn = 1),
        | rc2 AS (SELECT ra2.sub, ra2.bcell, r.sdim,
        |   (sum(r.rv)::BIGINT // count(*))::BIGINT AS v
        |   FROM ra2 JOIN res r ON r.vec_id = ra2.vec_id AND r.sub = ra2.sub
        |   GROUP BY ra2.sub, ra2.bcell, r.sdim),
        | rd3 AS (SELECT r.vec_id, r.sub, c.bcell,
        |   sum((r.rv - c.v)*(r.rv - c.v))::BIGINT AS dist
        |   FROM res r JOIN rc2 c ON c.sub = r.sub AND c.sdim = r.sdim
        |   GROUP BY r.vec_id, r.sub, c.bcell),
        | rcodes AS (SELECT vec_id, sub, bcell AS code FROM (
        |   SELECT vec_id, sub, bcell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, bcell) AS rn
        |   FROM rd3) WHERE rn = 1),
        | qs AS (SELECT vec_id AS q_id FROM embeddings ORDER BY vec_id LIMIT 8),
        | qcd AS (SELECT qs.q_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM qs JOIN e ON e.vec_id = qs.q_id
        |   JOIN cc2 c ON c.j = e.j GROUP BY qs.q_id, c.cell),
        | qprobe AS (SELECT q_id, cell FROM (SELECT q_id, cell,
        |   row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) AS rn
        |   FROM qcd) WHERE rn = 1),
        | qres AS (SELECT qp.q_id, qp.cell, e.j // 32 AS sub, e.j % 32 AS sdim,
        |   e.v - c2.v AS rv
        |   FROM qprobe qp JOIN e ON e.vec_id = qp.q_id
        |   JOIN cc2 c2 ON c2.cell = qp.cell AND c2.j = e.j),
        | qtab AS (SELECT q.q_id, q.cell, c.sub, c.bcell,
        |   sum((q.rv - c.v)*(q.rv - c.v))::BIGINT AS dist
        |   FROM qres q JOIN rc2 c ON c.sub = q.sub AND c.sdim = q.sdim
        |   GROUP BY q.q_id, q.cell, c.sub, c.bcell),
        | scored AS (SELECT t.q_id, rc.vec_id AS nn_id, t.cell,
        |   sum(t.dist)::BIGINT AS adc_dist
        |   FROM rcodes rc
        |   JOIN cellof co ON co.vec_id = rc.vec_id
        |   JOIN qtab t ON t.cell = co.cell AND t.sub = rc.sub
        |     AND t.bcell = rc.code
        |   WHERE rc.vec_id <> t.q_id
        |   GROUP BY t.q_id, rc.vec_id, t.cell)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |sum(l_extendedprice) AS sum_price, avg(l_discount) AS avg_disc,
        |count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_discount >= 0.05 AND l_quantity < 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |sum(o_totalprice) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q05_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q06_window" ->
      """SELECT o_custkey, o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q07_lag" ->
      """SELECT event_id, user_id, event_type,
        |lag(event_type, 1, 'NONE') OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS prev_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q08_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q09_union" ->
      """SELECT event_id, user_id FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q11_grouped_topk" ->
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,
    "q12_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |count(*) AS dup_count FROM documents
        |GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,
    "q13_token_count" ->
      """SELECT doc_id, len(str_split(text, ' ')) AS n_tokens,
        |length(text) AS n_chars_obs FROM documents ORDER BY doc_id""".stripMargin,
    "q14_fingerprint" ->
      "SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id",
    "q15_langid" ->
      """WITH s AS (SELECT doc_id,
        | len(list_filter(str_split(text,' '), w -> w = 'the'))
        | + len(list_filter(str_split(text,' '), w -> w = 'and'))
        | + len(list_filter(str_split(text,' '), w -> w = 'is')) AS score_en,
        | len(list_filter(str_split(text,' '), w -> w = 'der'))
        | + len(list_filter(str_split(text,' '), w -> w = 'und'))
        | + len(list_filter(str_split(text,' '), w -> w = 'das')) AS score_de,
        | len(list_filter(str_split(text,' '), w -> w = 'le'))
        | + len(list_filter(str_split(text,' '), w -> w = 'et'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_fr,
        | len(list_filter(str_split(text,' '), w -> w = 'el'))
        | + len(list_filter(str_split(text,' '), w -> w = 'y'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_es
        | FROM documents)
        |SELECT doc_id, score_en, score_de, score_fr, score_es,
        | CASE WHEN score_en = greatest(score_en,score_de,score_fr,score_es) THEN 'en'
        |      WHEN score_de = greatest(score_en,score_de,score_fr,score_es) THEN 'de'
        |      WHEN score_fr = greatest(score_en,score_de,score_fr,score_es) THEN 'fr'
        |      ELSE 'es' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    "q16_quality" ->
      """SELECT doc_id, length(text) AS n_chars_obs,
        | round(length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE / length(text), 6) AS alpha_ratio,
        | round(length(regexp_replace(text,'[^0-9]','','g'))::DOUBLE / length(text), 6) AS digit_ratio,
        | round((length(text)::DOUBLE - len(str_split(text,' ')) + 1) / len(str_split(text,' ')), 6) AS mean_token_len,
        | round((len(list_filter(str_split(text,' '), w -> w = 'the'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'and'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'is'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'of'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'to'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'in'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'der'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'die'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'das'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'und'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'ist'))
        |  + len(list_filter(str_split(text,' '), w -> w = 'ein')))::DOUBLE
        |   / len(str_split(text,' ')), 6) AS stopword_ratio,
        | round(length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE / length(text)
        |   * least(len(str_split(text,' '))::DOUBLE / 50.0, 1.0), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_fp_shingle" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w)
        |SELECT doc_id,
        | min(('0x'||substr(md5(shingle),1,15))::BIGINT) AS min_hash,
        | max(('0x'||substr(md5(shingle),1,15))::BIGINT) AS max_hash,
        | count(*) AS n_shingles
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q18_minhash_sig" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | hh AS (SELECT doc_id,
        |   ('0x'||substr(md5('a_'||shingle),1,15))::BIGINT AS h1,
        |   ('0x'||substr(md5('b_'||shingle),1,15))::BIGINT AS h2 FROM sh)
        |SELECT doc_id, h,
        | min((h1 + h * h2) % 1152921504606846976) AS minhash
        |FROM hh, range(0,8) t(h) GROUP BY doc_id, h ORDER BY doc_id, h""".stripMargin,
    "q19_minhash_pairs" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | hh AS (SELECT doc_id,
        |   ('0x'||substr(md5('a_'||shingle),1,15))::BIGINT AS h1,
        |   ('0x'||substr(md5('b_'||shingle),1,15))::BIGINT AS h2 FROM sh),
        | sig AS (SELECT doc_id, h,
        |   min((h1 + h * h2) % 1152921504606846976) AS minhash
        |   FROM hh, range(0,8) t(h) GROUP BY doc_id, h),
        | bands AS (SELECT doc_id, h//2 AS band,
        |   md5(string_agg(h||':'||minhash, ',' ORDER BY h||':'||minhash)) AS band_key
        |   FROM sig GROUP BY doc_id, h//2)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q20_simhash" ->
      """WITH words AS (SELECT doc_id, unnest(str_split(text,' ')) AS word FROM documents),
        | hb AS (SELECT doc_id, ('0x'||substr(md5(word),1,15))::BIGINT AS h, j
        |        FROM words, range(0,16) t(j)),
        | bits AS (SELECT doc_id, j,
        |   sum(CASE WHEN (h >> j::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |   FROM hb GROUP BY doc_id, j)
        |SELECT doc_id,
        | sum(CASE WHEN s > 0 THEN 1::BIGINT << j::INT ELSE 0 END)::BIGINT AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q56_simhash_pairs" ->
      """WITH words AS (SELECT doc_id, unnest(str_split(text,' ')) AS word FROM documents),
        | hb AS (SELECT doc_id, ('0x'||substr(md5(word),1,15))::BIGINT AS h, j
        |        FROM words, range(0,60) t(j)),
        | bits AS (SELECT doc_id, j,
        |   sum(CASE WHEN (h >> j::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |   FROM hb GROUP BY doc_id, j),
        | sig AS (SELECT doc_id,
        |   sum(CASE WHEN s > 0 THEN 1::BIGINT << j::INT ELSE 0 END)::BIGINT AS simhash
        |   FROM bits GROUP BY doc_id),
        | banded AS (SELECT doc_id, simhash, b,
        |   (simhash >> (b*10)::INT) & 1023 AS band_key
        |   FROM sig, range(0,6) t(b)),
        | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |   FROM banded a JOIN banded b
        |     ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q21_jaccard" ->
      """WITH w AS (SELECT doc_id, source, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT DISTINCT doc_id, source,
        |   unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |     i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |   FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
        |     AND a.doc_id < b.doc_id
        |   GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        | round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q22_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_reduce(list_transform(range(1, len(a.v)+1),
        |         i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_reduce(list_transform(range(1, len(a.v)+1),
        |         i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))), 6) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q23_ann_top1" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 0),
        | scored AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN e ON q_id <> vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |   FROM scored)
        |SELECT q_id, vec_id AS nn_id, cosine FROM ranked WHERE rn = 1
        |ORDER BY q_id""".stripMargin,
    "q24_ann_lsh" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | dims AS (SELECT vec_id, d-1 AS d0, v[d] AS x FROM e, range(1, 65) t(d)),
        | proj AS (SELECT vec_id, p,
        |   sum(((('0x'||substr(md5(p||'_'||d0),1,15))::BIGINT % 2001 + 2001) % 2001 - 1000) * x) AS proj
        |   FROM dims, range(0,8) t(p) GROUP BY vec_id, p),
        | buckets AS (SELECT vec_id,
        |   sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p::INT ELSE 0 END) AS bucket
        |   FROM proj GROUP BY vec_id),
        | eb AS (SELECT e.vec_id, v, bucket FROM e JOIN buckets ON e.vec_id = buckets.vec_id),
        | q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM eb WHERE vec_id % 25 = 0),
        | scored AS (SELECT q_id, eb.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN eb ON qb = bucket AND q_id <> eb.vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |   FROM scored)
        |SELECT q_id, vec_id AS nn_id, cosine FROM ranked WHERE rn = 1
        |ORDER BY q_id""".stripMargin,
    "q29_ann_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        | dots AS (SELECT e.vec_id, cent_id,
        |   round(list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]), (x,y) -> x+y), 6) AS dot
        |   FROM e, cents),
        | cells AS (SELECT vec_id, cent_id AS cell FROM (
        |   SELECT vec_id, cent_id,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
        |   FROM dots) WHERE rn = 1),
        | ec AS (SELECT e.vec_id, v, cell FROM e JOIN cells ON e.vec_id = cells.vec_id),
        | q AS (SELECT vec_id AS q_id, v AS qv, cell AS qc FROM ec WHERE vec_id % 25 = 0),
        | scored AS (SELECT q_id, ec.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN ec ON qc = cell AND q_id <> ec.vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |   FROM scored)
        |SELECT q_id, vec_id AS nn_id, cosine FROM ranked WHERE rn = 1
        |ORDER BY q_id""".stripMargin,
    "q30_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 0),
        | scored AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN e ON q_id <> vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scored)
        |SELECT q_id, rank, vec_id AS nn_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q31_ann_lsh_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | dims AS (SELECT vec_id, d-1 AS d0, v[d] AS x FROM e, range(1, 65) t(d)),
        | proj AS (SELECT vec_id, p,
        |   sum(((('0x'||substr(md5(p||'_'||d0),1,15))::BIGINT % 2001 + 2001) % 2001 - 1000) * x) AS proj
        |   FROM dims, range(0,8) t(p) GROUP BY vec_id, p),
        | buckets AS (SELECT vec_id,
        |   sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p::INT ELSE 0 END) AS bucket
        |   FROM proj GROUP BY vec_id),
        | eb AS (SELECT e.vec_id, v, bucket FROM e JOIN buckets ON e.vec_id = buckets.vec_id),
        | q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM eb WHERE vec_id % 25 = 0),
        | scored AS (SELECT q_id, eb.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN eb ON qb = bucket AND q_id <> eb.vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scored)
        |SELECT q_id, rank, vec_id AS nn_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q32_ann_ivf_probe" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        | dots AS (SELECT e.vec_id, cent_id,
        |   round(list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]), (x,y) -> x+y), 6) AS dot
        |   FROM e, cents),
        | assign AS (SELECT vec_id, cent_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
        |   FROM dots),
        | cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1),
        | ec AS (SELECT e.vec_id, v, cell FROM e JOIN cells ON e.vec_id = cells.vec_id),
        | qp AS (SELECT vec_id AS q_id, cent_id AS qc FROM assign
        |        WHERE rn <= 2 AND vec_id % 25 = 0),
        | q AS (SELECT q_id, qc, v AS qv FROM qp JOIN e ON e.vec_id = q_id),
        | scored AS (SELECT q_id, ec.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM q JOIN ec ON qc = cell AND q_id <> ec.vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scored)
        |SELECT q_id, rank, vec_id AS nn_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q41_ann_lsh_multi" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | dims AS (SELECT vec_id, d-1 AS d0, v[d] AS x FROM e, range(1, 65) t(d)),
        | proj AS (SELECT vec_id, g,
        |   sum(((('0x'||substr(md5(g||'_'||d0),1,15))::BIGINT % 2001 + 2001) % 2001 - 1000) * x) AS proj
        |   FROM dims, range(0,16) t(g) GROUP BY vec_id, g),
        | buckets AS (SELECT vec_id, (g//4)::INT AS tbl,
        |   sum(CASE WHEN proj >= 0 THEN 1::BIGINT << (g % 4)::INT ELSE 0 END) AS bucket
        |   FROM proj GROUP BY vec_id, g//4),
        | qb AS (SELECT vec_id AS q_id, tbl, bucket FROM buckets WHERE vec_id % 25 = 0),
        | cand AS (SELECT DISTINCT q_id, b.vec_id
        |   FROM qb JOIN buckets b ON qb.tbl = b.tbl AND qb.bucket = b.bucket
        |   WHERE q_id <> b.vec_id),
        | scored AS (SELECT q_id, cand.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qe.v)+1), i -> qe.v[i]*ce.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qe.v, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(ce.v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM cand JOIN e qe ON qe.vec_id = cand.q_id
        |             JOIN e ce ON ce.vec_id = cand.vec_id),
        | ranked AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scored)
        |SELECT q_id, rank, vec_id AS nn_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q36_ann_recall" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        | qx AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 0),
        | scoredx AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM qx JOIN e ON q_id <> vec_id),
        | rankedx AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scoredx),
        | exact AS (SELECT q_id, vec_id AS nn_id FROM rankedx WHERE rank <= 5),
        | dims AS (SELECT vec_id, d-1 AS d0, v[d] AS x FROM e, range(1, 65) t(d)),
        | proj AS (SELECT vec_id, p,
        |   sum(((('0x'||substr(md5(p||'_'||d0),1,15))::BIGINT % 2001 + 2001) % 2001 - 1000) * x) AS proj
        |   FROM dims, range(0,8) t(p) GROUP BY vec_id, p),
        | buckets AS (SELECT vec_id,
        |   sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p::INT ELSE 0 END) AS bucket
        |   FROM proj GROUP BY vec_id),
        | eb AS (SELECT e.vec_id, v, bucket FROM e JOIN buckets ON e.vec_id = buckets.vec_id),
        | qa AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM eb WHERE vec_id % 25 = 0),
        | scoreda AS (SELECT q_id, eb.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM qa JOIN eb ON qb = bucket AND q_id <> eb.vec_id),
        | rankeda AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scoreda),
        | approx_lsh AS (SELECT q_id, vec_id AS nn_id FROM rankeda WHERE rank <= 5),
        | cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        | dots AS (SELECT e.vec_id, cent_id,
        |   round(list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]), (x,y) -> x+y), 6) AS dot
        |   FROM e, cents),
        | assign AS (SELECT vec_id, cent_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
        |   FROM dots),
        | cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1),
        | ec AS (SELECT e.vec_id, v, cell FROM e JOIN cells ON e.vec_id = cells.vec_id),
        | qp AS (SELECT vec_id AS q_id, cent_id AS qc FROM assign
        |        WHERE rn <= 2 AND vec_id % 25 = 0),
        | qi AS (SELECT q_id, qc, v AS qv FROM qp JOIN e ON e.vec_id = q_id),
        | scoredi AS (SELECT q_id, ec.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM qi JOIN ec ON qc = cell AND q_id <> ec.vec_id),
        | rankedi AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scoredi),
        | approx_ivf AS (SELECT q_id, vec_id AS nn_id FROM rankedi WHERE rank <= 5),
        | projm AS (SELECT vec_id, g,
        |   sum(((('0x'||substr(md5(g||'_'||d0),1,15))::BIGINT % 2001 + 2001) % 2001 - 1000) * x) AS proj
        |   FROM dims, range(0,16) t(g) GROUP BY vec_id, g),
        | bucketsm AS (SELECT vec_id, (g//4)::INT AS tbl,
        |   sum(CASE WHEN proj >= 0 THEN 1::BIGINT << (g % 4)::INT ELSE 0 END) AS bucket
        |   FROM projm GROUP BY vec_id, g//4),
        | qbm AS (SELECT vec_id AS q_id, tbl, bucket FROM bucketsm WHERE vec_id % 25 = 0),
        | candm AS (SELECT DISTINCT q_id, b.vec_id
        |   FROM qbm JOIN bucketsm b ON qbm.tbl = b.tbl AND qbm.bucket = b.bucket
        |   WHERE q_id <> b.vec_id),
        | scoredm AS (SELECT q_id, candm.vec_id,
        |   round(list_reduce(list_transform(range(1, len(qe.v)+1), i -> qe.v[i]*ce.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(qe.v, x -> x*x), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(ce.v, x -> x*x), (x,y) -> x+y))), 6) AS cosine
        |   FROM candm JOIN e qe ON qe.vec_id = candm.q_id
        |              JOIN e ce ON ce.vec_id = candm.vec_id),
        | rankedm AS (SELECT q_id, vec_id, cosine,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |   FROM scoredm),
        | approx_multi AS (SELECT q_id, vec_id AS nn_id FROM rankedm WHERE rank <= 5),
        | base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY q_id),
        | hits_lsh AS (SELECT exact.q_id, count(*) AS n_hits
        |   FROM exact JOIN approx_lsh ON exact.q_id = approx_lsh.q_id
        |     AND exact.nn_id = approx_lsh.nn_id GROUP BY exact.q_id),
        | hits_ivf AS (SELECT exact.q_id, count(*) AS n_hits
        |   FROM exact JOIN approx_ivf ON exact.q_id = approx_ivf.q_id
        |     AND exact.nn_id = approx_ivf.nn_id GROUP BY exact.q_id),
        | hits_multi AS (SELECT exact.q_id, count(*) AS n_hits
        |   FROM exact JOIN approx_multi ON exact.q_id = approx_multi.q_id
        |     AND exact.nn_id = approx_multi.nn_id GROUP BY exact.q_id)
        |SELECT 'lsh' AS method, base.q_id, coalesce(h.n_hits, 0) AS n_hits,
        | round(coalesce(h.n_hits, 0)::DOUBLE / base.n_exact, 4) AS recall
        |FROM base LEFT JOIN hits_lsh h ON base.q_id = h.q_id
        |UNION ALL
        |SELECT 'ivf_p2' AS method, base.q_id, coalesce(h.n_hits, 0) AS n_hits,
        | round(coalesce(h.n_hits, 0)::DOUBLE / base.n_exact, 4) AS recall
        |FROM base LEFT JOIN hits_ivf h ON base.q_id = h.q_id
        |UNION ALL
        |SELECT 'lsh_multi' AS method, base.q_id, coalesce(h.n_hits, 0) AS n_hits,
        | round(coalesce(h.n_hits, 0)::DOUBLE / base.n_exact, 4) AS recall
        |FROM base LEFT JOIN hits_multi h ON base.q_id = h.q_id
        |ORDER BY method, q_id""".stripMargin,
    "q25_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
        | event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q28_sql_revenue" ->
      """SELECT n_name, count(*) AS n_items,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q27_lsh_jaccard" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | shd AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | hh AS (SELECT doc_id,
        |   ('0x'||substr(md5('a_'||shingle),1,15))::BIGINT AS h1,
        |   ('0x'||substr(md5('b_'||shingle),1,15))::BIGINT AS h2 FROM shd),
        | sig AS (SELECT doc_id, h,
        |   min((h1 + h * h2) % 1152921504606846976) AS minhash
        |   FROM hh, range(0,8) t(h) GROUP BY doc_id, h),
        | bands AS (SELECT doc_id, h//2 AS band,
        |   md5(string_agg(h||':'||minhash, ',' ORDER BY h||':'||minhash)) AS band_key
        |   FROM sig GROUP BY doc_id, h//2),
        | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |   FROM bands a JOIN bands b
        |     ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        | sh AS (SELECT DISTINCT doc_id, shingle FROM shd),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        | inter AS (SELECT doc_a, doc_b, count(*) AS i
        |   FROM cand JOIN sh sa ON sa.doc_id = doc_a
        |             JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
        |   GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b,
        | round(i::DOUBLE / (za.sz + zb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes za ON za.doc_id = doc_a
        |           JOIN sizes zb ON zb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    // ---- KG stages: oracle = driver-side sequential golden replay
    //      (graft.gen.Goldens writes these parquets at verify time from
    //      plant-time knowledge, never from the pipeline under test) ----
    "kg_triples" ->
      s"""SELECT subj, pred, obj, doc_id, bucket, conf
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |ORDER BY doc_id, pred, subj, obj""".stripMargin,
    "kg_mentions" ->
      s"""SELECT doc_id, span_offset, sentence_idx, start_word, end_word,
        | surface, entity_type
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_mentions/*.parquet')
        |ORDER BY doc_id, span_offset, start_word""".stripMargin,
    "kg_linked_salted" ->
      s"""SELECT doc_id, span_offset, sentence_idx, surface, entity_type,
        | entity_id, conf
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_linked_salted/*.parquet')
        |ORDER BY doc_id, span_offset, surface""".stripMargin,
    "kg_store_salted" ->
      s"""SELECT subj, pred, obj, doc_id, bucket, conf
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |ORDER BY doc_id, pred, subj, obj""".stripMargin,
    "q89_raw_ner" ->
      s"""SELECT doc_id, span_offset, sentence_idx, start_word, end_word,
        | surface, entity_type
        |FROM read_parquet('${graft.gen.Goldens.root}/q89_raw_ner/*.parquet')
        |ORDER BY doc_id, sentence_idx, start_word""".stripMargin,
    "kg_eval_metrics" ->
      s"""SELECT slot, precision, recall, f1, tp, fp, fn
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_eval_metrics/*.parquet')
        |ORDER BY slot""".stripMargin,
    "kg_gt_eval" ->
      s"""SELECT slot, precision, recall, f1, tp, fp, fn
        |FROM read_parquet('${graft.gen.Goldens.root}/kg_gt_eval/*.parquet')
        |ORDER BY slot""".stripMargin,
    // per-row span-sequence invariant: 500 docs checked, 0 violations
    "kg_span_invariant" ->
      """SELECT CAST(500 AS BIGINT) AS docs_checked,
        | CAST(0 AS BIGINT) AS violations""".stripMargin,
    // the PNG payload is ENCODED with width/height = md5-rule dims, so
    // the oracle predicts exactly what a correct ImageIO decode returns
    "mm_features" ->
      """SELECT doc_id, 'img://'||doc_id AS media_ref,
        | 16 + (('0x'||substr(md5(text),1,2))::BIGINT & 63) AS width,
        | 16 + (('0x'||substr(md5(text),3,2))::BIGINT & 63) AS height,
        | (16 + (('0x'||substr(md5(text),1,2))::BIGINT & 63))
        |  * (16 + (('0x'||substr(md5(text),3,2))::BIGINT & 63)) AS n_pixels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q44_langid_eval" ->
      """WITH s AS (SELECT doc_id,
        | len(list_filter(str_split(text,' '), w -> w = 'the'))
        | + len(list_filter(str_split(text,' '), w -> w = 'and'))
        | + len(list_filter(str_split(text,' '), w -> w = 'is')) AS score_en,
        | len(list_filter(str_split(text,' '), w -> w = 'der'))
        | + len(list_filter(str_split(text,' '), w -> w = 'und'))
        | + len(list_filter(str_split(text,' '), w -> w = 'das')) AS score_de,
        | len(list_filter(str_split(text,' '), w -> w = 'le'))
        | + len(list_filter(str_split(text,' '), w -> w = 'et'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_fr,
        | len(list_filter(str_split(text,' '), w -> w = 'el'))
        | + len(list_filter(str_split(text,' '), w -> w = 'y'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_es
        | FROM documents),
        | p AS (SELECT doc_id,
        |  CASE WHEN score_en = greatest(score_en,score_de,score_fr,score_es) THEN 'en'
        |       WHEN score_de = greatest(score_en,score_de,score_fr,score_es) THEN 'de'
        |       WHEN score_fr = greatest(score_en,score_de,score_fr,score_es) THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |  FROM s)
        |SELECT d.lang, p.lang_pred, count(*) AS n
        |FROM p JOIN documents d ON d.doc_id = p.doc_id
        |GROUP BY d.lang, p.lang_pred ORDER BY d.lang, p.lang_pred""".stripMargin,
    "q45_langid_planted" ->
      s"""WITH d AS (SELECT doc_id, lang, text
        |  FROM read_parquet('${graft.gen.Goldens.root}/lang_docs/*.parquet')),
        | s AS (SELECT doc_id,
        | len(list_filter(str_split(text,' '), w -> w = 'the'))
        | + len(list_filter(str_split(text,' '), w -> w = 'and'))
        | + len(list_filter(str_split(text,' '), w -> w = 'is')) AS score_en,
        | len(list_filter(str_split(text,' '), w -> w = 'der'))
        | + len(list_filter(str_split(text,' '), w -> w = 'und'))
        | + len(list_filter(str_split(text,' '), w -> w = 'das')) AS score_de,
        | len(list_filter(str_split(text,' '), w -> w = 'le'))
        | + len(list_filter(str_split(text,' '), w -> w = 'et'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_fr,
        | len(list_filter(str_split(text,' '), w -> w = 'el'))
        | + len(list_filter(str_split(text,' '), w -> w = 'y'))
        | + len(list_filter(str_split(text,' '), w -> w = 'la')) AS score_es
        | FROM d),
        | p AS (SELECT doc_id,
        |  CASE WHEN score_en = greatest(score_en,score_de,score_fr,score_es) THEN 'en'
        |       WHEN score_de = greatest(score_en,score_de,score_fr,score_es) THEN 'de'
        |       WHEN score_fr = greatest(score_en,score_de,score_fr,score_es) THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |  FROM s)
        |SELECT d.lang, p.lang_pred, count(*) AS n
        |FROM p JOIN d ON d.doc_id = p.doc_id
        |GROUP BY d.lang, p.lang_pred ORDER BY d.lang, p.lang_pred""".stripMargin,
    "q42_supplier_region" ->
      """SELECT r_name, count(*) AS n_suppliers,
        | round(avg(s_acctbal), 4) AS avg_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q43_part_stats" ->
      """SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
        |FROM part WHERE p_size BETWEEN 1 AND 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q46_repetition" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | base AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
        |   len(list_distinct(ws))::BIGINT AS n_distinct FROM w),
        | bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |   i -> ws[i]||' '||ws[i+1])) AS b FROM w),
        | tb AS (SELECT doc_id, max(c)::BIGINT AS top_c FROM (
        |   SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        |   GROUP BY doc_id),
        | posr AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM w),
        | pos AS (SELECT doc_id, i, ws[i] AS word FROM posr),
        | runs AS (SELECT doc_id, word,
        |   i - row_number() OVER (PARTITION BY doc_id, word ORDER BY i) AS g
        |   FROM pos),
        | mr AS (SELECT doc_id, max(c)::BIGINT AS max_run FROM (
        |   SELECT doc_id, count(*) AS c FROM runs GROUP BY doc_id, word, g)
        |   GROUP BY doc_id)
        |SELECT base.doc_id, base.n_words, base.n_distinct,
        | round(1 - base.n_distinct::DOUBLE / base.n_words, 6) AS dup_word_ratio,
        | round(coalesce(tb.top_c, 0)::DOUBLE / greatest(base.n_words - 1, 1), 6)
        |   AS top_bigram_ratio,
        | mr.max_run
        |FROM base LEFT JOIN tb ON tb.doc_id = base.doc_id
        |JOIN mr ON mr.doc_id = base.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    "q47_sample_budget" ->
      """WITH toks AS (SELECT source, doc_id,
        |   len(str_split(text,' '))::BIGINT AS n_tokens FROM documents),
        | totals AS (SELECT source, sum(n_tokens)::BIGINT AS total_tokens
        |   FROM toks GROUP BY source),
        | t2 AS (SELECT source, total_tokens,
        |   greatest(1, least(1000000,
        |     1000000000::BIGINT // total_tokens))::BIGINT AS keep_ppm
        |   FROM totals),
        | kept AS (SELECT toks.source, count(*)::BIGINT AS n_docs_kept,
        |   sum(n_tokens)::BIGINT AS tokens_kept
        |   FROM toks JOIN t2 ON toks.source = t2.source
        |   WHERE ('0x'||substr(md5(doc_id||'_samp'),1,15))::BIGINT % 1000000 < keep_ppm
        |   GROUP BY toks.source)
        |SELECT t2.source, t2.total_tokens, t2.keep_ppm,
        | coalesce(n_docs_kept, 0)::BIGINT AS n_docs_kept,
        | coalesce(tokens_kept, 0)::BIGINT AS tokens_kept
        |FROM t2 LEFT JOIN kept ON kept.source = t2.source
        |ORDER BY t2.source""".stripMargin,
    "q48_contamination" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(ws)-7,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
        |     ||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]))) AS gram FROM w),
        | bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        | hits AS (SELECT doc_id, count(*)::BIGINT AS n_hits
        |   FROM g JOIN bench USING (gram) WHERE doc_id >= 20 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q49_vocab_build" ->
      """WITH c AS (SELECT word, count(*) AS freq FROM (
        |   SELECT unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE word <> '' GROUP BY word),
        | t AS (SELECT word, freq,
        |   row_number() OVER (ORDER BY freq DESC, word ASC) AS rank FROM c)
        |SELECT rank::BIGINT AS rank, word, freq::BIGINT AS freq
        |FROM t WHERE rank <= 1000 ORDER BY rank""".stripMargin,
    "q50_oov_rate" ->
      """WITH toks AS (SELECT source, word FROM (
        |   SELECT source, unnest(str_split(text,' ')) AS word
        |   FROM documents) WHERE word <> ''),
        | c AS (SELECT word, count(*) AS freq FROM toks GROUP BY word),
        | v AS (SELECT word FROM (SELECT word,
        |   row_number() OVER (ORDER BY freq DESC, word ASC) AS rank FROM c)
        |   WHERE rank <= 100),
        | tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY source),
        | oov AS (SELECT source, count(*) AS n_oov FROM toks
        |   WHERE word NOT IN (SELECT word FROM v) GROUP BY source)
        |SELECT tot.source, tot.n_tokens::BIGINT AS n_tokens,
        | coalesce(oov.n_oov, 0)::BIGINT AS n_oov,
        | round(coalesce(oov.n_oov, 0)::DOUBLE / tot.n_tokens, 6) AS oov_rate
        |FROM tot LEFT JOIN oov ON oov.source = tot.source
        |ORDER BY tot.source""".stripMargin,
    "q51_kg_degrees" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
        | deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src)
        |SELECT degree::BIGINT AS degree, count(*)::BIGINT AS n_entities
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    "q52_kg_pagerank" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
        | deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
        | r0 AS (SELECT src AS entity, 1000000::BIGINT AS rank FROM deg),
        | c1 AS (SELECT sym.dst, sum(r0.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r0 ON r0.entity = sym.src
        |   GROUP BY sym.dst),
        | r1 AS (SELECT deg.src AS entity,
        |   (150000 + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM deg LEFT JOIN c1 ON c1.dst = deg.src),
        | c2 AS (SELECT sym.dst, sum(r1.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r1 ON r1.entity = sym.src
        |   GROUP BY sym.dst),
        | r2 AS (SELECT deg.src AS entity,
        |   (150000 + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM deg LEFT JOIN c2 ON c2.dst = deg.src),
        | c3 AS (SELECT sym.dst, sum(r2.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r2 ON r2.entity = sym.src
        |   GROUP BY sym.dst),
        | r3 AS (SELECT deg.src AS entity,
        |   (150000 + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM deg LEFT JOIN c3 ON c3.dst = deg.src)
        |SELECT entity, rank FROM r3 ORDER BY entity""".stripMargin,
    "q65_kg_communities" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
        | l0 AS (SELECT DISTINCT src AS node FROM sym),
        | n1 AS (SELECT sym.src AS node, l.label, count(*) AS n
        |   FROM sym JOIN (SELECT node, node AS label FROM l0) l
        |     ON l.node = sym.dst
        |   GROUP BY sym.src, l.label),
        | l1 AS (SELECT node, label FROM (SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label ASC)
        |     AS rn FROM n1) WHERE rn = 1),
        | n2 AS (SELECT sym.src AS node, l1.label, count(*) AS n
        |   FROM sym JOIN l1 ON l1.node = sym.dst
        |   GROUP BY sym.src, l1.label),
        | l2 AS (SELECT node, label FROM (SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label ASC)
        |     AS rn FROM n2) WHERE rn = 1)
        |SELECT node AS entity, label AS community FROM l2
        |ORDER BY entity""".stripMargin,
    "q66_skew_report" ->
      """WITH c AS (SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS cnt
        |   FROM events GROUP BY 1),
        | tot AS (SELECT sum(cnt)::BIGINT AS total FROM c)
        |SELECT c.key, c.cnt,
        | ((1000000 * c.cnt) // tot.total)::BIGINT AS share_ppm
        |FROM c, tot ORDER BY c.cnt DESC, c.key ASC LIMIT 10""".stripMargin,
    "q58_kg_triangles" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
        | und AS (SELECT DISTINCT src, dst FROM sym WHERE src < dst),
        | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |   FROM und e1 JOIN und e2 ON e2.src = e1.dst
        |   JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        | pere AS (SELECT entity, count(*)::BIGINT AS n FROM (
        |   SELECT a AS entity FROM tri
        |   UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY entity),
        | nodes AS (SELECT DISTINCT src AS entity FROM sym)
        |SELECT nodes.entity, coalesce(pere.n, 0)::BIGINT AS n_triangles
        |FROM nodes LEFT JOIN pere ON pere.entity = nodes.entity
        |ORDER BY nodes.entity""".stripMargin,
    "q59_kg_lift" ->
      s"""WITH p AS (SELECT subj, obj, count(*)::BIGINT AS pair_n
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with' GROUP BY subj, obj),
        | occ AS (SELECT entity, sum(pair_n)::BIGINT AS ent_n FROM (
        |   SELECT subj AS entity, pair_n FROM p
        |   UNION ALL SELECT obj, pair_n FROM p) GROUP BY entity),
        | tot AS (SELECT sum(pair_n)::BIGINT AS total FROM p)
        |SELECT p.subj, p.obj, p.pair_n,
        | ((1000000::BIGINT * p.pair_n * tot.total)
        |   // (a.ent_n * b.ent_n))::BIGINT AS lift_micro
        |FROM p JOIN occ a ON a.entity = p.subj
        | JOIN occ b ON b.entity = p.obj, tot
        |ORDER BY p.subj, p.obj""".stripMargin,
    "q83_kg_ppr" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
        | deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
        | nodes AS (SELECT src AS entity,
        |   (('0x'||substr(md5(src),1,15))::BIGINT % 16 = 0) AS is_seed
        |   FROM deg),
        | r0 AS (SELECT entity,
        |   (CASE WHEN is_seed THEN 1000000 ELSE 0 END)::BIGINT AS rank
        |   FROM nodes),
        | c1 AS (SELECT sym.dst, sum(r0.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r0 ON r0.entity = sym.src
        |   GROUP BY sym.dst),
        | r1 AS (SELECT nodes.entity,
        |   (CASE WHEN is_seed THEN 150000 ELSE 0 END
        |     + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM nodes LEFT JOIN c1 ON c1.dst = nodes.entity),
        | c2 AS (SELECT sym.dst, sum(r1.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r1 ON r1.entity = sym.src
        |   GROUP BY sym.dst),
        | r2 AS (SELECT nodes.entity,
        |   (CASE WHEN is_seed THEN 150000 ELSE 0 END
        |     + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM nodes LEFT JOIN c2 ON c2.dst = nodes.entity),
        | c3 AS (SELECT sym.dst, sum(r2.rank // deg.deg)::BIGINT AS in_sum
        |   FROM sym JOIN deg ON sym.src = deg.src JOIN r2 ON r2.entity = sym.src
        |   GROUP BY sym.dst),
        | r3 AS (SELECT nodes.entity,
        |   (CASE WHEN is_seed THEN 150000 ELSE 0 END
        |     + (850 * coalesce(in_sum, 0)) // 1000)::BIGINT AS rank
        |   FROM nodes LEFT JOIN c3 ON c3.dst = nodes.entity)
        |SELECT entity, rank FROM r3 ORDER BY entity""".stripMargin,
    "q69_kg_khop" ->
      s"""WITH RECURSIVE co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co)),
        | seeds AS (SELECT entity FROM (SELECT DISTINCT src AS entity FROM sym)
        |   WHERE ('0x'||substr(md5(entity),1,15))::BIGINT % 16 = 0),
        | walk AS (
        |   SELECT entity, 0 AS hops FROM seeds
        |   UNION
        |   SELECT sym.dst AS entity, walk.hops + 1 AS hops
        |   FROM walk JOIN sym ON sym.src = walk.entity
        |   WHERE walk.hops < 3)
        |SELECT entity, min(hops)::BIGINT AS hops FROM walk
        |GROUP BY entity ORDER BY entity""".stripMargin,
    "q72_kg_nbr_jaccard" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co)),
        | deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
        | capped AS (SELECT sym.src, sym.dst FROM sym
        |   JOIN deg ON deg.src = sym.src WHERE deg.deg <= ${1L << 20}),
        | cm AS (SELECT e1.dst AS a, e2.dst AS b, count(*)::BIGINT AS common
        |   FROM capped e1 JOIN capped e2 ON e1.src = e2.src
        |   WHERE e1.dst < e2.dst GROUP BY a, b)
        |SELECT cm.a, cm.b, cm.common,
        | ((1000000::BIGINT * cm.common)
        |   // (da.deg + db.deg - cm.common))::BIGINT AS jaccard_ppm
        |FROM cm JOIN deg da ON da.src = cm.a JOIN deg db ON db.src = cm.b
        |ORDER BY cm.a, cm.b""".stripMargin,
    "q70_hist_quantile" ->
      """WITH b AS (SELECT source, length(text)::BIGINT // 64 AS bin,
        |   count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
        | cum AS (SELECT source, bin, n,
        |   sum(n) OVER (PARTITION BY source ORDER BY bin) AS cum FROM b),
        | tgt AS (SELECT source, ps.p::DOUBLE AS p,
        |   greatest(1, ceil(ps.p::DOUBLE * sum(n))) AS target
        |   FROM b, (VALUES (0.5),(0.9)) ps(p) GROUP BY source, ps.p)
        |SELECT tgt.source, tgt.p, min(cum.bin)::BIGINT AS bin,
        | min(cum.bin)::BIGINT * 64 AS lo,
        | (min(cum.bin)::BIGINT + 1) * 64 - 1 AS hi
        |FROM cum JOIN tgt ON cum.source = tgt.source AND cum.cum >= tgt.target
        |GROUP BY tgt.source, tgt.p ORDER BY tgt.source, tgt.p""".stripMargin,
    "q71_fuzzy_tokens" ->
      """WITH w AS (SELECT DISTINCT word FROM (
        |   SELECT unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE regexp_matches(word, '^[a-z]{4,}$')),
        | nz AS (SELECT substr(word,1,p0) || chr(nc) || substr(word,p0+2)
        |     AS word FROM (
        |   SELECT word, p0,
        |     (97 + (ascii(substr(word, p0+1, 1)) - 97 + 1 +
        |       ('0x'||substr(md5(word||'_c'),1,15))::BIGINT % 25) % 26)::INT
        |       AS nc
        |   FROM (SELECT word,
        |     (('0x'||substr(md5(word),1,15))::BIGINT % length(word))::INT
        |       AS p0
        |   FROM w
        |   WHERE ('0x'||substr(md5(word||'_sel'),1,15))::BIGINT % 3 = 0))),
        | toks AS (SELECT DISTINCT word FROM
        |   (SELECT word FROM w UNION ALL SELECT word FROM nz)
        |   WHERE regexp_matches(word, '^[a-z]{4,}$')),
        | t AS (SELECT word, length(word) AS len, substr(word,1,1) AS c1
        |   FROM toks)
        |SELECT DISTINCT least(a.word, b.word) AS a,
        | greatest(a.word, b.word) AS b
        |FROM t a JOIN t b ON a.c1 = b.c1
        | AND b.len BETWEEN a.len AND a.len + 1 AND a.word <> b.word
        |WHERE levenshtein(a.word, b.word) <= 1
        |ORDER BY a, b""".stripMargin,
    "q73_setsim_prefix" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |     i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS g FROM w),
        | sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM sh GROUP BY 1),
        | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   count(*)::BIGINT AS i
        |   FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |   GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | ((1000000::BIGINT * i) // (sa.s + sb.s - i))::BIGINT AS jacc_ppm
        |FROM inter JOIN sz sa ON sa.doc_id = doc_a
        |           JOIN sz sb ON sb.doc_id = doc_b
        |WHERE 1000000 * i >= 700000 * (sa.s + sb.s - i)
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the oracle is the NAIVE all-pairs join over the replicated corpus —
    // the dedup-first composition must lose and invent nothing
    "q104_setsim_dedup_first" ->
      """WITH corpus AS (
        |   SELECT doc_id::BIGINT AS doc_id, text FROM documents
        |   UNION ALL
        |   SELECT (doc_id + 1000000000)::BIGINT, text FROM documents
        |   WHERE doc_id % 3 = 0),
        | w AS (SELECT doc_id, str_split(text,' ') AS ws FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |     i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS g FROM w),
        | sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM sh GROUP BY 1),
        | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   count(*)::BIGINT AS i
        |   FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |   GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | ((1000000::BIGINT * i) // (sa.s + sb.s - i))::BIGINT AS jacc_ppm
        |FROM inter JOIN sz sa ON sa.doc_id = doc_a
        |           JOIN sz sb ON sb.doc_id = doc_b
        |WHERE 1000000 * i >= 700000 * (sa.s + sb.s - i)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q108_semantic_dedup" -> ("WITH " + semanticPairCtes +
      """,
        | dups AS (SELECT DISTINCT d.vb AS vec_id
        |   FROM dotp d JOIN n2 na ON na.vec_id = d.va
        |   JOIN n2 nb ON nb.vec_id = d.vb
        |   WHERE d.dot > 0
        |     AND 1000000 * d.dot * d.dot >= 950*950 * na.nn * nb.nn)
        |SELECT c.vec_id, c.cell::BIGINT AS cell,
        | (CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS is_dup
        |FROM cellof c LEFT JOIN dups USING (vec_id)
        |ORDER BY vec_id""".stripMargin),
    "q111_semantic_clusters" -> ("WITH RECURSIVE " + semanticPairCtes +
      """,
        | edges AS (SELECT d.va AS a, d.vb AS b
        |   FROM dotp d JOIN n2 na ON na.vec_id = d.va
        |   JOIN n2 nb ON nb.vec_id = d.vb
        |   WHERE d.dot > 0
        |     AND 1000000 * d.dot * d.dot >= 950*950 * na.nn * nb.nn),
        | sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        | conn(a, b) AS (SELECT a, b FROM sym
        |   UNION SELECT c.a, s.b FROM conn c JOIN sym s ON c.b = s.a),
        | keep AS (SELECT a AS vec_id, least(a, min(b)) AS keeper
        |   FROM conn GROUP BY a)
        |SELECT c.vec_id, coalesce(k.keeper, c.vec_id) AS keeper
        |FROM cellof c LEFT JOIN keep k USING (vec_id)
        |ORDER BY vec_id""".stripMargin),
    "q109_dsir_select" ->
      """WITH toks AS (SELECT doc_id, is_tgt,
        |   ('0x'||substr(md5(w),1,15))::BIGINT % 64 AS bucket FROM (
        |   SELECT doc_id, (lang = 'en') AS is_tgt,
        |     unnest(str_split(text,' ')) AS w FROM documents)
        |   WHERE w <> ''),
        | bc AS (SELECT bucket, count(*)::BIGINT AS raw_b,
        |   sum(CASE WHEN is_tgt THEN 1 ELSE 0 END)::BIGINT AS tgt_b
        |   FROM toks GROUP BY bucket),
        | tot AS (SELECT sum(raw_b)::BIGINT AS rr, sum(tgt_b)::BIGINT AS tt
        |   FROM bc),
        | wt AS (SELECT bucket,
        |     ((length(bin(tgt_b+1))-1)*65536
        |       + ((tgt_b+1)*65536) // (1::BIGINT << (length(bin(tgt_b+1))-1))
        |       - 65536)
        |   - ((length(bin(tt+1))-1)*65536
        |       + ((tt+1)*65536) // (1::BIGINT << (length(bin(tt+1))-1))
        |       - 65536)
        |   - ((length(bin(raw_b+1))-1)*65536
        |       + ((raw_b+1)*65536) // (1::BIGINT << (length(bin(raw_b+1))-1))
        |       - 65536)
        |   + ((length(bin(rr+1))-1)*65536
        |       + ((rr+1)*65536) // (1::BIGINT << (length(bin(rr+1))-1))
        |       - 65536) AS w_fp16
        |   FROM bc CROSS JOIN tot)
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        | sum(w.w_fp16)::BIGINT AS dsir_fp16
        |FROM toks t JOIN wt w USING (bucket)
        |GROUP BY t.doc_id
        |ORDER BY dsir_fp16 DESC, doc_id LIMIT 50""".stripMargin,
    "q110_curation_funnel" ->
      """WITH p0 AS (SELECT doc_id::BIGINT AS doc_id,
        |   CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'_lang'),1,15))::BIGINT
        |       % 100 < 15
        |     THEN 'der und das der und das der und das der und das ' ||
        |       'der und das der und das ' || text
        |     ELSE text END AS text FROM documents),
        | p1 AS (SELECT doc_id,
        |   CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'_pii'),1,15))::BIGINT
        |       % 100 < 30
        |     THEN text || ' kontakt nutzer' || (doc_id % 97)::VARCHAR
        |       || '@beispiel.de tel +4930'
        |       || (doc_id % 100000 + 1000000)::VARCHAR
        |     ELSE text END AS text FROM p0),
        | corpus AS (SELECT * FROM p1 UNION ALL
        |   SELECT doc_id + 1000000000, text FROM p1 WHERE doc_id % 7 = 0),
        | lp AS (SELECT doc_id, text,
        |   len(list_filter(str_split(text,' '), w -> w = 'the'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'and'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'is')) AS s_en,
        |   len(list_filter(str_split(text,' '), w -> w = 'der'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'und'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'das')) AS s_de,
        |   len(list_filter(str_split(text,' '), w -> w = 'le'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'et'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'la')) AS s_fr,
        |   len(list_filter(str_split(text,' '), w -> w = 'el'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'y'))
        |   + len(list_filter(str_split(text,' '), w -> w = 'la')) AS s_es
        |   FROM corpus),
        | staged AS (SELECT doc_id, md5(text) AS content_hash,
        |   CASE
        |     WHEN (CASE WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
        |       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
        |       ELSE 'es' END) <> 'en' THEN 'lang'
        |     WHEN len(list_filter(str_split(text,' '), w -> w <> '')) < 20
        |       THEN 'length'
        |     WHEN (len(list_filter(str_split(text,' '), w -> w <> ''))
        |         - len(list_distinct(list_filter(str_split(text,' '),
        |             w -> w <> '')))) * 1000000
        |       > 700000 * len(list_filter(str_split(text,' '), w -> w <> ''))
        |       THEN 'repetition'
        |     WHEN len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |       + len(regexp_extract_all(text, '\+[0-9]{7,14}')) > 0
        |       THEN 'pii'
        |     ELSE NULL END AS early_drop
        |   FROM lp),
        | keepers AS (SELECT content_hash, min(doc_id) AS keep_doc_id
        |   FROM staged WHERE early_drop IS NULL GROUP BY content_hash)
        |SELECT s.doc_id,
        | coalesce(s.early_drop,
        |   CASE WHEN s.doc_id <> k.keep_doc_id THEN 'duplicate'
        |     ELSE 'kept' END) AS drop_stage
        |FROM staged s LEFT JOIN keepers k USING (content_hash)
        |ORDER BY s.doc_id""".stripMargin,
    "q74_bpe_merges" ->
      """WITH c AS (SELECT word, count(*)::BIGINT AS f FROM (
        |   SELECT unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE length(word) >= 2 GROUP BY word),
        | p AS (SELECT substr(word, i, 2) AS pair, sum(f)::BIGINT AS weight
        |   FROM c, unnest(range(1, length(word))) t(i) GROUP BY 1),
        | r AS (SELECT pair, weight,
        |   row_number() OVER (ORDER BY weight DESC, pair ASC) AS rank
        |   FROM p)
        |SELECT rank::BIGINT AS rank, pair, weight FROM r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "q75_kg_clustering" ->
      s"""WITH co AS (SELECT DISTINCT subj AS src, obj AS dst
        |   FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')
        |   WHERE pred = 'co_occurs_with'),
        | sym AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co)),
        | und AS (SELECT src, dst FROM sym WHERE src < dst),
        | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |   FROM und e1 JOIN und e2 ON e2.src = e1.dst
        |   JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        | pere AS (SELECT entity, count(*)::BIGINT AS n FROM (
        |   SELECT a AS entity FROM tri
        |   UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY entity),
        | deg AS (SELECT src AS entity, count(*)::BIGINT AS deg
        |   FROM sym GROUP BY src),
        | j AS (SELECT deg.entity, coalesce(pere.n, 0)::BIGINT AS n_triangles,
        |   deg.deg FROM deg LEFT JOIN pere ON pere.entity = deg.entity)
        |SELECT entity, n_triangles, deg,
        | CASE WHEN deg < 2 THEN 0
        |      ELSE (2000000 * n_triangles) // (deg * (deg - 1))
        | END::BIGINT AS cc_ppm
        |FROM j ORDER BY entity""".stripMargin,
    "q76_snapshot_diff" ->
      """WITH base AS (SELECT c_custkey::VARCHAR AS ck, c_mktsegment AS seg
        |   FROM customer),
        | a AS (SELECT * FROM base
        |   WHERE ('0x'||substr(md5(ck||'_add'),1,15))::BIGINT % 10 <> 0),
        | b AS (SELECT ck,
        |   CASE WHEN ('0x'||substr(md5(ck||'_chg'),1,15))::BIGINT % 7 = 0
        |        THEN seg||'_v2' ELSE seg END AS seg
        |   FROM base
        |   WHERE ('0x'||substr(md5(ck||'_rm'),1,15))::BIGINT % 10 <> 0)
        |SELECT coalesce(a.ck, b.ck) AS ck,
        | CASE WHEN a.ck IS NULL THEN 'added'
        |      WHEN b.ck IS NULL THEN 'removed'
        |      ELSE 'changed' END AS change,
        | a.seg AS val_a, b.seg AS val_b
        |FROM a FULL OUTER JOIN b ON a.ck = b.ck
        |WHERE a.ck IS NULL OR b.ck IS NULL OR a.seg <> b.seg
        |ORDER BY ck""".stripMargin,
    "q77_salted_join" ->
      """WITH ev AS (SELECT user_id::VARCHAR AS uid, event_id FROM events),
        | dim AS (SELECT uid, substr(md5(uid||'_attr'),1,4) AS attr
        |   FROM (SELECT DISTINCT uid FROM ev))
        |SELECT dim.attr, count(*)::BIGINT AS n_events,
        | sum(ev.event_id % 1000)::BIGINT AS id_sum
        |FROM ev JOIN dim ON dim.uid = ev.uid
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q78_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |   FROM events),
        | p AS (SELECT user_id, event_id AS purchase_id, us AS pus FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT user_id, event_id AS click_id, us AS cus FROM e
        |   WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, c.click_id,
        | (p.pus - c.cus)::BIGINT AS lag_us
        |FROM p JOIN c ON c.user_id = p.user_id
        | AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |ORDER BY p.user_id, p.purchase_id, c.click_id""".stripMargin,
    "q79_inverted_index" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | pos AS (SELECT doc_id, ws[i] AS word, i
        |   FROM w, unnest(range(1, len(ws)+1)) t(i) WHERE ws[i] <> '')
        |SELECT word, doc_id, count(*)::BIGINT AS tf,
        | min(i)::BIGINT AS first_pos
        |FROM pos GROUP BY word, doc_id
        |ORDER BY word, doc_id""".stripMargin,
    "q80_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        | sum(l_quantity::BIGINT)::BIGINT AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q81_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS u, event_type FROM events),
        | w AS (SELECT ((u // 1800000000) - k) * 1800000000 AS ws,
        |   event_type FROM e, range(0, 2) t(k))
        |SELECT ws::BIGINT AS w_start_us,
        | (ws + 3600000000)::BIGINT AS w_end_us,
        | event_type, count(*)::BIGINT AS n
        |FROM w GROUP BY 1, 2, 3
        |ORDER BY w_start_us, event_type""".stripMargin,
    "q82_pivot" ->
      """SELECT (user_id % 10)::BIGINT AS bucket,
        | count(*) FILTER (event_type = 'click')::BIGINT AS click,
        | count(*) FILTER (event_type = 'error')::BIGINT AS error,
        | count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
        | count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
        | count(*) FILTER (event_type = 'view')::BIGINT AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_exists_subquery" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q85_set_ops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'click'),
        | p AS (SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'purchase')
        |SELECT user_id, 'click_and_purchase' AS cohort
        |FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
        |UNION ALL
        |SELECT user_id, 'click_no_purchase' AS cohort
        |FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        |ORDER BY cohort, user_id""".stripMargin,
    "q86_split_assign" ->
      """WITH d AS (SELECT doc_id,
        |   ('0x'||substr(md5(doc_id::VARCHAR||'_split'),1,15))::BIGINT
        |     % 1000000 AS draw FROM documents)
        |SELECT CASE WHEN draw < 800000 THEN 'train'
        |            WHEN draw < 900000 THEN 'valid'
        |            ELSE 'test' END AS split,
        | count(*)::BIGINT AS n_docs,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_topk_pruned" ->
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,
    "q64_group_sample" ->
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT
        |      % 1125899906842624 ASC, doc_id::VARCHAR ASC) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    "q61_bloom_prune" ->
      """WITH small AS (SELECT DISTINCT c_custkey::VARCHAR AS key
        |   FROM customer WHERE c_nationkey < 5),
        | sh AS (SELECT key,
        |   ('0x'||substr(md5(key||'_h1'),1,15))::BIGINT % 4096 AS h1,
        |   ('0x'||substr(md5(key||'_h2'),1,15))::BIGINT % 4096 AS h2
        |   FROM small),
        | pos AS (SELECT DISTINCT (h1 + j*h2) % 4096 AS p
        |   FROM sh, range(0,4) t(j)),
        | lk AS (SELECT o_orderkey, o_custkey, o_custkey::VARCHAR AS key
        |   FROM orders),
        | kh AS (SELECT key,
        |   ('0x'||substr(md5(key||'_h1'),1,15))::BIGINT % 4096 AS h1,
        |   ('0x'||substr(md5(key||'_h2'),1,15))::BIGINT % 4096 AS h2
        |   FROM (SELECT DISTINCT key FROM lk)),
        | kp AS (SELECT key, (h1 + j*h2) % 4096 AS pp
        |   FROM kh, range(0,4) t(j)),
        | surv AS (SELECT key FROM kp JOIN pos ON pos.p = kp.pp
        |   GROUP BY key HAVING count(*) = 4)
        |SELECT lk.o_orderkey, lk.o_custkey
        |FROM lk JOIN surv ON surv.key = lk.key
        |ORDER BY lk.o_orderkey""".stripMargin,
    "q67_ann_ivf_int" ->
      """WITH e AS (SELECT vec_id, j AS dim,
        |   CAST(round(CAST(embedding[j+1] AS DOUBLE) * 1000) AS BIGINT) AS v
        |   FROM embeddings, range(0, 64) t(j)),
        | ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
        |   FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        | cent0 AS (SELECT ids.cell, e.dim, e.v
        |   FROM ids JOIN e ON e.vec_id = ids.vec_id),
        | d1 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent0 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell),
        | a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM d1) WHERE rn = 1),
        | cent1 AS (SELECT a1.cell, e.dim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a1 JOIN e ON e.vec_id = a1.vec_id GROUP BY a1.cell, e.dim),
        | d2 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent1 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell),
        | a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM d2) WHERE rn = 1),
        | cent2 AS (SELECT a2.cell, e.dim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a2 JOIN e ON e.vec_id = a2.vec_id GROUP BY a2.cell, e.dim),
        | d3 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent2 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell),
        | a3 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM d3) WHERE rn = 1),
        | qs AS (SELECT vec_id AS q_id, cell FROM a3 ORDER BY vec_id LIMIT 10),
        | pairs AS (SELECT qs.q_id, a3.vec_id AS nn_id
        |   FROM qs JOIN a3 ON a3.cell = qs.cell WHERE a3.vec_id <> qs.q_id),
        | pd AS (SELECT p.q_id, p.nn_id,
        |   sum((eq.v - ev.v)*(eq.v - ev.v))::BIGINT AS dist
        |   FROM pairs p JOIN e eq ON eq.vec_id = p.q_id
        |   JOIN e ev ON ev.vec_id = p.nn_id AND ev.dim = eq.dim
        |   GROUP BY p.q_id, p.nn_id)
        |SELECT q_id, rank::BIGINT AS rank, nn_id, dist FROM (
        |  SELECT q_id, nn_id, dist, row_number() OVER (PARTITION BY q_id
        |    ORDER BY dist ASC, nn_id ASC) AS rank FROM pd)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q62_kmeans_int" ->
      """WITH e AS (SELECT vec_id, j AS dim,
        |   CAST(round(CAST(embedding[j+1] AS DOUBLE) * 1000) AS BIGINT) AS v
        |   FROM embeddings, range(0, 64) t(j)),
        | ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
        |   FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        | cent0 AS (SELECT ids.cell, e.dim, e.v
        |   FROM ids JOIN e ON e.vec_id = ids.vec_id),
        | d1 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent0 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell),
        | a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM d1) WHERE rn = 1),
        | cent1 AS (SELECT a1.cell, e.dim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a1 JOIN e ON e.vec_id = a1.vec_id GROUP BY a1.cell, e.dim),
        | d2 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent1 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell),
        | a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |   FROM d2) WHERE rn = 1),
        | cent2 AS (SELECT a2.cell, e.dim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a2 JOIN e ON e.vec_id = a2.vec_id GROUP BY a2.cell, e.dim),
        | d3 AS (SELECT e.vec_id, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent2 c ON c.dim = e.dim GROUP BY e.vec_id, c.cell)
        |SELECT vec_id, cell::INT AS cell, dist FROM (SELECT vec_id, cell, dist,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |  FROM d3) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q68_percentiles_by_src" ->
      """WITH v AS (SELECT source AS g, length(text)::BIGINT AS v
        |   FROM documents),
        | r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v)
        |     AS rk, count(*) OVER (PARTITION BY g) AS n FROM v)
        |SELECT r.g AS source, ps.p::DOUBLE AS p, r.v AS value
        |FROM (VALUES (0.5),(0.9),(0.99)) ps(p)
        |JOIN r ON r.rk = greatest(1, ceil(ps.p::DOUBLE * r.n))
        |ORDER BY source, p""".stripMargin,
    "q60_percentiles" ->
      """WITH v AS (SELECT length(text)::BIGINT AS v FROM documents),
        | r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk,
        |   count(*) OVER () AS n FROM v)
        |SELECT ps.p::DOUBLE AS p, r.v AS value
        |FROM (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) ps(p)
        |JOIN r ON r.rk = greatest(1, ceil(ps.p::DOUBLE * r.n))
        |ORDER BY p""".stripMargin,
    "q40_token_bpe" ->
      """SELECT doc_id, len(str_split(text,' ')) AS n_ws_tokens,
        | len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_cv_folds" ->
      """WITH r AS (SELECT doc_id, ntile(5) OVER (ORDER BY doc_id) - 1 AS fold
        |   FROM (SELECT DISTINCT doc_id FROM documents))
        |SELECT fold::BIGINT AS fold, count(*)::BIGINT AS n_docs,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM r GROUP BY fold ORDER BY fold""".stripMargin,
    "q95_audio_stats" ->
      """WITH s AS (SELECT doc_id,
        |  ('0x'||substr(md5(text),1,2))::BIGINT AS s0,
        |  ('0x'||substr(md5(text),3,2))::BIGINT AS s1,
        |  ('0x'||substr(md5(text),5,2))::BIGINT AS s2 FROM documents),
        | p AS (SELECT doc_id,
        |  CASE (s0 & 3) WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |    WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |  256 + s1 * 8 AS n, 1 + (s2 & 31) AS amp FROM s)
        |SELECT doc_id::BIGINT AS doc_id, 'aud://'||doc_id AS media_ref,
        | rate::BIGINT AS sample_rate, n::BIGINT AS n_samples,
        | (n * 1000) // rate AS duration_ms,
        | (100 * amp)::BIGINT AS peak,
        | (amp * ((n % 201) * ((n % 201) - 1) // 2 - 100 * (n % 201)))::BIGINT
        |   AS sum_samples
        |FROM p ORDER BY doc_id""".stripMargin,
    "q96_audio_energy" ->
      """WITH s AS (SELECT doc_id,
        |  ('0x'||substr(md5(text),3,2))::BIGINT AS s1,
        |  ('0x'||substr(md5(text),5,2))::BIGINT AS s2 FROM documents),
        | p AS (SELECT doc_id, 256 + s1 * 8 AS n, 1 + (s2 & 31) AS amp FROM s),
        | w AS (SELECT doc_id, n, amp, unnest(range((n + 255) // 256)) AS w0 FROM p),
        | e AS (SELECT doc_id, n, amp, w0, w0 * 256 AS a,
        |   least(n, w0 * 256 + 256) AS b FROM w),
        | f AS (SELECT doc_id, amp, w0, a, b,
        |   a // 201 AS fa, a % 201 AS ra,
        |   b // 201 AS fb, b % 201 AS rb FROM e)
        |SELECT doc_id::BIGINT AS doc_id, 'aud://'||doc_id AS media_ref,
        | w0::BIGINT AS window_idx, (b - a)::BIGINT AS n_in_window,
        | (amp * amp * (
        |   (fb * 676700 + CASE WHEN rb <= 100
        |     THEN 338350 - (100-rb)*(101-rb)*(201-2*rb) // 6
        |     ELSE 338350 + (rb-101)*(rb-100)*(2*rb-201) // 6 END)
        | - (fa * 676700 + CASE WHEN ra <= 100
        |     THEN 338350 - (100-ra)*(101-ra)*(201-2*ra) // 6
        |     ELSE 338350 + (ra-101)*(ra-100)*(2*ra-201) // 6 END)
        | ))::BIGINT AS energy
        |FROM f ORDER BY doc_id, window_idx""".stripMargin,
    "q94_kmv_windowed" ->
      """WITH e AS (SELECT event_type,
        |   epoch_us(ts) // 3600000000 * 3600000000 AS window_us,
        |   user_id::VARCHAR AS uid FROM events),
        | h AS (SELECT DISTINCT window_us, event_type,
        |   ('0x'||substr(md5(uid),1,15))::BIGINT AS h FROM e
        |   WHERE uid IS NOT NULL),
        | kmin AS (SELECT window_us, event_type, max(h) AS hk,
        |   count(*) AS n_kept FROM (
        |   SELECT window_us, event_type, h, row_number() OVER (
        |     PARTITION BY window_us, event_type ORDER BY h) AS rn FROM h)
        |   WHERE rn <= 16 GROUP BY window_us, event_type),
        | cnt AS (SELECT window_us, event_type, count(*)::BIGINT AS n_events
        |   FROM e GROUP BY window_us, event_type)
        |SELECT c.window_us, c.event_type, c.n_events,
        | CASE WHEN k.n_kept < 16 THEN k.n_kept
        |      ELSE CAST(floor(15.0 * 1152921504606846976.0 / k.hk) AS BIGINT)
        | END AS approx_users
        |FROM cnt c JOIN kmin k
        |  ON c.window_us = k.window_us AND c.event_type = k.event_type
        |ORDER BY c.window_us, c.event_type""".stripMargin,
    "q93_pii_redact" ->
      """WITH seeded AS (SELECT doc_id,
        |   CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'_pii'),1,15))::BIGINT
        |       % 100 < 30
        |     THEN text || ' kontakt nutzer' || (doc_id % 97)::VARCHAR
        |       || '@beispiel.de tel +4930'
        |       || (doc_id % 100000 + 1000000)::VARCHAR
        |     ELSE text END AS text
        |   FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |   AS n_emails,
        | len(regexp_extract_all(text, '\+[0-9]{7,14}'))::BIGINT AS n_phones,
        | md5(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+[0-9]{7,14}', '<PHONE>', 'g')) AS redacted_md5
        |FROM seeded ORDER BY doc_id""".stripMargin,
    "q98_dup_spans" ->
      """WITH w AS (SELECT doc_id::BIGINT AS doc_id, str_split(text,' ') AS ws
        |   FROM documents),
        | g0 AS (SELECT doc_id, ws,
        |   unnest(range(greatest(len(ws)-7, 0))) AS p FROM w),
        | g AS (SELECT doc_id, p,
        |   ws[p+1]||' '||ws[p+2]||' '||ws[p+3]||' '||ws[p+4]||' '||ws[p+5]
        |     ||' '||ws[p+6]||' '||ws[p+7]||' '||ws[p+8] AS gram FROM g0),
        | dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        | cov AS (SELECT DISTINCT g.doc_id, g.p + k.k AS tok
        |   FROM g JOIN dup USING (gram), range(0, 8) k(k)),
        | cd AS (SELECT doc_id, count(*)::BIGINT AS n_dup_tokens FROM cov
        |   GROUP BY doc_id),
        | nt AS (SELECT doc_id::BIGINT AS doc_id,
        |   len(str_split(text,' '))::BIGINT AS n_tokens FROM documents)
        |SELECT nt.doc_id, nt.n_tokens,
        | coalesce(cd.n_dup_tokens, 0) AS n_dup_tokens,
        | CASE WHEN nt.n_tokens = 0 THEN 0
        |   ELSE (1000000 * coalesce(cd.n_dup_tokens, 0)) // nt.n_tokens
        | END AS dup_ppm
        |FROM nt LEFT JOIN cd ON nt.doc_id = cd.doc_id
        |ORDER BY nt.doc_id""".stripMargin,
    "q100_neardup_gate" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | hh AS (SELECT doc_id,
        |   ('0x'||substr(md5('a_'||shingle),1,15))::BIGINT AS h1,
        |   ('0x'||substr(md5('b_'||shingle),1,15))::BIGINT AS h2 FROM sh),
        | sig AS (SELECT doc_id, h,
        |   min((h1 + h * h2) % 1152921504606846976) AS minhash
        |   FROM hh, range(0,8) t(h) GROUP BY doc_id, h),
        | bands AS (SELECT doc_id, h//2 AS band,
        |   md5(string_agg(h||':'||minhash, ',' ORDER BY h||':'||minhash)) AS band_key
        |   FROM sig GROUP BY doc_id, h//2),
        | fst AS (SELECT band, band_key, min(doc_id) AS first_doc
        |   FROM bands GROUP BY band, band_key),
        | pd AS (SELECT b.doc_id, count(*)::BIGINT AS n_bands,
        |   sum(CASE WHEN b.doc_id = f.first_doc THEN 1 ELSE 0 END)::BIGINT
        |     AS n_first
        |   FROM bands b JOIN fst f
        |     ON f.band = b.band AND f.band_key = b.band_key
        |   GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(pd.n_bands, 0) AS n_bands,
        | coalesce(pd.n_first, 0) AS n_first,
        | CASE WHEN coalesce(pd.n_bands, 0) = coalesce(pd.n_first, 0)
        |   THEN 1 ELSE 0 END::BIGINT AS kept
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // full IVF-PQ replay: coarse k-means (q62's unrolled CTEs) →
    // residuals vs the final coarse centroids → per-subspace residual
    // codebooks (q97's pattern over the residual table) → probe the
    // nearest cell → residual ADC tables → cell-restricted scoring.
    // Integer math + (dist, smaller id) tie-breaks + truncating //
    // throughout, so both engines agree bit-for-bit.
    "q103_ivf_pq" -> (ivfPqScoredCtes +
      """
        |SELECT q_id, rank::BIGINT AS rank, nn_id,
        | CAST(cell AS BIGINT) AS cell, adc_dist FROM (
        |  SELECT q_id, nn_id, cell, adc_dist,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, nn_id)
        |      AS rank
        |  FROM scored) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    // the refine rung on top of the same chain: deterministic ADC
    // shortlist cut (rn <= 8, tie-broken (adc_dist, nn_id)), then exact
    // integer L2 on the original quantized vectors re-ranks the few
    // survivors — FAISS IndexRefineFlat
    "q107_ivf_pq_refine" -> (ivfPqScoredCtes +
      """,
        | shortl AS (SELECT q_id, nn_id FROM (
        |   SELECT q_id, nn_id,
        |     row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, nn_id)
        |       AS rn
        |   FROM scored) WHERE rn <= 8),
        | exact AS (SELECT s.q_id, s.nn_id,
        |   sum((eq.v - ec.v)*(eq.v - ec.v))::BIGINT AS dist
        |   FROM shortl s JOIN e eq ON eq.vec_id = s.q_id
        |   JOIN e ec ON ec.vec_id = s.nn_id AND ec.j = eq.j
        |   GROUP BY s.q_id, s.nn_id)
        |SELECT q_id, rank::BIGINT AS rank, nn_id, dist FROM (
        |  SELECT q_id, nn_id, dist,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dist, nn_id)
        |      AS rank
        |  FROM exact) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    // independent SQL replay of the co-mention scoring chain: anchors =
    // entities of single-candidate surfaces mentioned in the doc; pick
    // order (type mismatch, context miss, prior DESC, raw id)
    "q102_ctx_linking" ->
      s"""WITH m AS (SELECT * FROM
        |   read_parquet('${graft.gen.Goldens.root}/ctx_mentions/*.parquet')),
        | a AS (SELECT * FROM
        |   read_parquet('${graft.gen.Goldens.root}/ctx_aliases/*.parquet')),
        | nc AS (SELECT surface_norm, count(DISTINCT entity_id) AS n_ents
        |   FROM a GROUP BY surface_norm),
        | anch AS (SELECT DISTINCT m.doc_id, a.entity_id
        |   FROM m JOIN a USING (surface_norm) JOIN nc USING (surface_norm)
        |   WHERE nc.n_ents = 1),
        | cand AS (SELECT m.doc_id, m.span_offset, m.sentence_idx,
        |   m.surface_norm, m.entity_type, a.entity_id, a.prior,
        |   CASE WHEN a.entity_type = m.entity_type THEN 0 ELSE 1 END AS tmiss,
        |   CASE WHEN EXISTS (SELECT 1 FROM anch
        |     WHERE anch.doc_id = m.doc_id AND anch.entity_id = a.entity_id)
        |    THEN 0 ELSE 1 END AS cmiss
        |   FROM m JOIN a USING (surface_norm)),
        | pick AS (SELECT *, row_number() OVER (
        |   PARTITION BY doc_id, span_offset, sentence_idx, surface_norm,
        |     entity_type
        |   ORDER BY tmiss, cmiss, prior DESC, entity_id) AS rn FROM cand)
        |SELECT doc_id, span_offset, sentence_idx, surface_norm, entity_type,
        | entity_id, prior AS conf, CAST(1 - cmiss AS BIGINT) AS ctx_hit
        |FROM pick WHERE rn = 1
        |ORDER BY doc_id, span_offset, sentence_idx, surface_norm""".stripMargin,
    // value parity for the compacted-store point lookup: the engine's
    // pushed-down row-group-pruned scan must return exactly the golden
    // triples of the min subject
    "q101_subj_lookup" ->
      s"""WITH t AS (SELECT subj, pred, obj, doc_id,
        |   CAST(bucket AS BIGINT) AS bucket, conf
        |  FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')),
        | m AS (SELECT min(subj) AS s FROM t)
        |SELECT t.* FROM t, m WHERE t.subj = m.s
        |ORDER BY doc_id, pred, obj""".stripMargin,
    // composite (subj, pred) point read: the min subject's min predicate
    "q105_spo_lookup" ->
      s"""WITH t AS (SELECT subj, pred, obj, doc_id,
        |   CAST(bucket AS BIGINT) AS bucket, conf
        |  FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')),
        | m AS (SELECT min(subj) AS s FROM t),
        | p AS (SELECT min(pred) AS p FROM t, m WHERE t.subj = m.s)
        |SELECT t.* FROM t, m, p WHERE t.subj = m.s AND t.pred = p.p
        |ORDER BY doc_id, obj""".stripMargin,
    // value parity for the obj-side inverted lookup: the engine's
    // manifest-pruned scan of the obj index must return exactly the
    // golden triples with the smallest obj
    "q106_obj_lookup" ->
      s"""WITH t AS (SELECT subj, pred, obj, doc_id,
        |   CAST(bucket AS BIGINT) AS bucket, conf
        |  FROM read_parquet('${graft.gen.Goldens.root}/kg_triples/*.parquet')),
        | m AS (SELECT min(obj) AS o FROM t)
        |SELECT t.* FROM t, m WHERE t.obj = m.o
        |ORDER BY doc_id, subj, pred""".stripMargin,
    "q99_sq8_ann" ->
      """WITH mx AS (SELECT max(abs(CAST(e AS DOUBLE))) AS m FROM (
        |   SELECT unnest(embedding) AS e FROM embeddings)),
        | q AS (SELECT vec_id, j AS dim,
        |   CASE WHEN mx.m = 0 OR mx.m IS NULL THEN 0
        |     ELSE CAST(round(CAST(embedding[j+1] AS DOUBLE) * 127.0 / mx.m)
        |       AS BIGINT) END AS v
        |   FROM embeddings, range(0, 64) t(j), mx),
        | qs AS (SELECT vec_id AS q_id FROM embeddings ORDER BY vec_id LIMIT 8),
        | d AS (SELECT qs.q_id, c.vec_id AS nn_id,
        |   sum((a.v - c.v)*(a.v - c.v))::BIGINT AS dist
        |   FROM qs JOIN q a ON a.vec_id = qs.q_id
        |   JOIN q c ON c.dim = a.dim
        |   WHERE c.vec_id <> qs.q_id GROUP BY qs.q_id, c.vec_id)
        |SELECT q_id, rank::BIGINT AS rank, nn_id, dist FROM (
        |  SELECT q_id, nn_id, dist,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dist, nn_id) AS rank
        |  FROM d) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q97_pq_adc" ->
      """WITH e AS (SELECT vec_id, j // 32 AS sub, j % 32 AS sdim,
        |   CAST(round(CAST(embedding[j+1] AS DOUBLE) * 1000) AS BIGINT) AS v
        |   FROM embeddings, range(0, 64) t(j)),
        | ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
        |   FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        | cent0 AS (SELECT e.sub, ids.cell, e.sdim, e.v
        |   FROM ids JOIN e ON e.vec_id = ids.vec_id),
        | d1 AS (SELECT e.vec_id, e.sub, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent0 c ON c.sub = e.sub AND c.sdim = e.sdim
        |   GROUP BY e.vec_id, e.sub, c.cell),
        | a1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn
        |   FROM d1) WHERE rn = 1),
        | cent1 AS (SELECT a1.sub, a1.cell, e.sdim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a1 JOIN e ON e.vec_id = a1.vec_id AND e.sub = a1.sub
        |   GROUP BY a1.sub, a1.cell, e.sdim),
        | d2 AS (SELECT e.vec_id, e.sub, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent1 c ON c.sub = e.sub AND c.sdim = e.sdim
        |   GROUP BY e.vec_id, e.sub, c.cell),
        | a2 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn
        |   FROM d2) WHERE rn = 1),
        | cent2 AS (SELECT a2.sub, a2.cell, e.sdim,
        |   (sum(e.v)::BIGINT // count(*))::BIGINT AS v
        |   FROM a2 JOIN e ON e.vec_id = a2.vec_id AND e.sub = a2.sub
        |   GROUP BY a2.sub, a2.cell, e.sdim),
        | d3 AS (SELECT e.vec_id, e.sub, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM e JOIN cent2 c ON c.sub = e.sub AND c.sdim = e.sdim
        |   GROUP BY e.vec_id, e.sub, c.cell),
        | codes AS (SELECT vec_id, sub, cell AS code FROM (
        |   SELECT vec_id, sub, cell,
        |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn
        |   FROM d3) WHERE rn = 1),
        | qs AS (SELECT vec_id AS q_id FROM embeddings ORDER BY vec_id LIMIT 8),
        | qtab AS (SELECT qs.q_id, c.sub, c.cell,
        |   sum((e.v - c.v)*(e.v - c.v))::BIGINT AS dist
        |   FROM qs JOIN e ON e.vec_id = qs.q_id
        |   JOIN cent2 c ON c.sub = e.sub AND c.sdim = e.sdim
        |   GROUP BY qs.q_id, c.sub, c.cell),
        | scored AS (SELECT qtab.q_id, codes.vec_id AS nn_id,
        |   sum(qtab.dist)::BIGINT AS adc_dist
        |   FROM codes JOIN qtab
        |     ON qtab.sub = codes.sub AND qtab.cell = codes.code
        |   WHERE codes.vec_id <> qtab.q_id
        |   GROUP BY qtab.q_id, codes.vec_id)
        |SELECT q_id, rank::BIGINT AS rank, nn_id, adc_dist FROM (
        |  SELECT q_id, nn_id, adc_dist,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, nn_id)
        |      AS rank
        |  FROM scored) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q90_chunking" ->
      """WITH t AS (SELECT doc_id,
        |   list_filter(str_split(text,' '), w -> w <> '') AS toks
        |   FROM documents),
        | s AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t
        |   WHERE len(toks) > 0),
        | c AS (SELECT doc_id, toks, n,
        |   CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END
        |     AS n_chunks FROM s),
        | e AS (SELECT doc_id, toks, n, n_chunks,
        |   unnest(range(0, n_chunks)) AS chunk_idx FROM c),
        | f AS (SELECT doc_id, chunk_idx, n, toks,
        |   CASE WHEN chunk_idx = n_chunks - 1 THEN greatest(n - 64, 0)
        |        ELSE chunk_idx * 48 END AS start0 FROM e)
        |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
        | (start0 + 1)::BIGINT AS start_tok,
        | least(64, n - start0)::BIGINT AS n_tokens,
        | toks[(start0 + 1)::INT] AS first_token,
        | toks[(start0 + least(64, n - start0))::INT] AS last_token
        |FROM f ORDER BY doc_id, chunk_idx""".stripMargin,
    "q91_freq_spectrum" ->
      """WITH wc AS (SELECT word, count(*)::BIGINT AS freq FROM (
        |   SELECT unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE word <> '' GROUP BY word)
        |SELECT freq, count(*)::BIGINT AS n_words FROM wc
        |GROUP BY freq ORDER BY freq""".stripMargin,
    "q92_novelty" ->
      """WITH w AS (SELECT doc_id::BIGINT AS doc_id, str_split(text,' ') AS ws
        |   FROM documents),
        | g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(ws)-7,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
        |     ||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]))) AS gram FROM w),
        | pd AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM g
        |   GROUP BY doc_id),
        | np AS (SELECT doc_id, count(*)::BIGINT AS n_novel FROM (
        |   SELECT gram, min(doc_id) AS doc_id FROM g GROUP BY gram)
        |   GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
        | coalesce(np.n_novel, 0) AS n_novel,
        | CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
        |   ELSE (1000000 * coalesce(np.n_novel, 0)) // pd.n_grams
        | END AS novelty_ppm
        |FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id
        |  LEFT JOIN np ON w.doc_id = np.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "q87_bm25" ->
      """WITH toks AS (SELECT doc_id, w AS word FROM (
        |   SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
        |   WHERE w <> ''),
        | dl AS (SELECT doc_id,
        |   len(list_filter(str_split(text,' '), w -> w <> ''))::BIGINT AS dl
        |   FROM documents),
        | stats AS (SELECT count(*)::BIGINT AS n_docs,
        |   (1000 * sum(dl)) // count(*) AS avgdl_milli FROM dl),
        | idx AS (SELECT word, doc_id, count(*)::BIGINT AS tf
        |   FROM toks GROUP BY word, doc_id),
        | dfv AS (SELECT word, count(*)::BIGINT AS df FROM idx GROUP BY word),
        | q AS (SELECT word, df FROM dfv ORDER BY df DESC, word LIMIT 5),
        | sc AS (SELECT i.doc_id, i.word, i.tf, d.dl, s.avgdl_milli,
        |   greatest(((2 * (s.n_docs - q.df) + 1) * 65536) // (2 * q.df + 1),
        |     1) AS ratio
        |   FROM idx i JOIN q USING (word) JOIN dl d USING (doc_id)
        |   CROSS JOIN stats s),
        | sc2 AS (SELECT doc_id, word, tf, dl, avgdl_milli, ratio,
        |   length(bin(ratio)) - 1 AS ilog FROM sc),
        | sc3 AS (SELECT doc_id, word,
        |   ilog * 65536 + (ratio * 65536) // (1::BIGINT << ilog) - 65536
        |     AS idf_fp16,
        |   (1000 * tf * (1200 + 1000)) //
        |     (1000 * tf + (1200 * (1000 - 750 +
        |       (750 * dl * 1000) // avgdl_milli)) // 1000) AS tfsat_milli
        |   FROM sc2)
        |SELECT doc_id, sum((idf_fp16 * tfsat_milli) // 65536)::BIGINT
        |   AS bm25_milli, count(*)::BIGINT AS n_terms_hit
        |FROM sc3 GROUP BY doc_id
        |ORDER BY bm25_milli DESC, doc_id LIMIT 50""".stripMargin,
    "q88_cms_grouped" ->
      """WITH wc AS (SELECT source, word, count(*)::BIGINT AS cnt FROM (
        |   SELECT source, unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE word <> '' GROUP BY source, word),
        | seeded AS (SELECT source, word, cnt, j,
        |   ('0x'||substr(md5(j||'_'||word),1,15))::BIGINT % 64 AS h
        |   FROM wc, range(0,4) t(j)),
        | counters AS (SELECT source, j, h, sum(cnt)::BIGINT AS c
        |   FROM seeded GROUP BY source, j, h),
        | top AS (SELECT source, word, cnt FROM (SELECT source, word, cnt,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY cnt DESC, word ASC) AS rn FROM wc)
        |   WHERE rn <= 5),
        | probes AS (SELECT source, word, cnt, j,
        |   ('0x'||substr(md5(j||'_'||word),1,15))::BIGINT % 64 AS h
        |   FROM top, range(0,4) t(j))
        |SELECT probes.source, probes.word, max(cnt)::BIGINT AS exact_count,
        | min(c)::BIGINT AS cms_estimate
        |FROM probes JOIN counters ON probes.source = counters.source
        |  AND probes.j = counters.j AND probes.h = counters.h
        |GROUP BY probes.source, probes.word
        |ORDER BY probes.source, probes.word""".stripMargin,
    "q54_cms_counts" ->
      """WITH wc AS (SELECT word, count(*) AS cnt FROM (
        |   SELECT unnest(str_split(text,' ')) AS word FROM documents)
        |   WHERE word <> '' GROUP BY word),
        | seeded AS (SELECT word, cnt, j,
        |   ('0x'||substr(md5(j||'_'||word),1,15))::BIGINT % 64 AS h
        |   FROM wc, range(0,4) t(j)),
        | counters AS (SELECT j, h, sum(cnt)::BIGINT AS c
        |   FROM seeded GROUP BY j, h),
        | top AS (SELECT word, cnt FROM (SELECT word, cnt,
        |   row_number() OVER (ORDER BY cnt DESC, word ASC) AS rn FROM wc)
        |   WHERE rn <= 20),
        | probes AS (SELECT word, cnt, j,
        |   ('0x'||substr(md5(j||'_'||word),1,15))::BIGINT % 64 AS h
        |   FROM top, range(0,4) t(j))
        |SELECT probes.word, max(cnt)::BIGINT AS exact_count,
        | min(c)::BIGINT AS cms_estimate
        |FROM probes JOIN counters ON probes.j = counters.j AND probes.h = counters.h
        |GROUP BY probes.word ORDER BY probes.word""".stripMargin,
    "q39_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT source,
        |   ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM documents),
        | kmin AS (SELECT source, max(h) AS hk, count(*) AS n_kept FROM (
        |   SELECT source, h,
        |     row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |   FROM h) WHERE rn <= 16 GROUP BY source),
        | ex AS (SELECT source, count(DISTINCT text) AS exact_distinct
        |   FROM documents GROUP BY source)
        |SELECT kmin.source, ex.exact_distinct,
        | CASE WHEN n_kept < 16 THEN n_kept
        |      ELSE CAST(floor(15.0 * 1152921504606846976.0 / hk) AS BIGINT)
        | END AS kmv_estimate
        |FROM kmin JOIN ex ON kmin.source = ex.source
        |ORDER BY kmin.source""".stripMargin,
    "q37_mm_resize" ->
      """WITH d AS (SELECT doc_id, 'img://'||doc_id AS media_ref,
        |  16 + (('0x'||substr(md5(text),1,2))::BIGINT & 63) AS width,
        |  16 + (('0x'||substr(md5(text),3,2))::BIGINT & 63) AS height
        | FROM documents),
        | s AS (SELECT *, least(64.0/width, 64.0/height) AS sc FROM d)
        |SELECT doc_id, media_ref, width, height,
        | CAST(floor(width*sc) AS BIGINT) AS out_w,
        | CAST(floor(height*sc) AS BIGINT) AS out_h,
        | round(sc, 6) AS scale
        |FROM s ORDER BY doc_id""".stripMargin,
    // seed rule: w = 16 + md5[0]&63, h = 16 + md5[1]&63,
    // n_frames = 2 + md5[3]&7; pixels r = x+7f, g = y+11f, b = x+y+3f
    // (all < 256), so sum_r = h*(w(w-1)/2 + 7fw), sum_g = w*(h(h-1)/2
    // + 11fh), sum_b = h*w(w-1)/2 + w*h(h-1)/2 + 3f*wh; sums are
    // non-negative so DuckDB's flooring // == the engine's truncating /
    "q38_mm_frames" ->
      """WITH p AS (SELECT doc_id,
        |  16 + (('0x'||substr(md5(text),1,2))::BIGINT & 63) AS w,
        |  16 + (('0x'||substr(md5(text),3,2))::BIGINT & 63) AS h,
        |  2 + (('0x'||substr(md5(text),7,2))::BIGINT & 7) AS nf
        | FROM documents),
        | f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi FROM p),
        | s AS (SELECT doc_id, w, h, fi,
        |  h*((w*(w-1))//2 + 7*fi*w) AS sum_r,
        |  w*((h*(h-1))//2 + 11*fi*h) AS sum_g,
        |  h*((w*(w-1))//2) + w*((h*(h-1))//2) + 3*fi*w*h AS sum_b
        | FROM f)
        |SELECT doc_id, 'vid://'||doc_id AS media_ref,
        | CAST(fi AS BIGINT) AS frame_idx,
        | CAST((fi*1000)//25 AS BIGINT) AS ts_ms,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(w*h AS BIGINT) AS n_pixels,
        | CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        | CAST(sum_b AS BIGINT) AS sum_b,
        | CAST((sum_r*1000000)//(w*h) AS BIGINT) AS mean_r_ppm,
        | CAST((sum_g*1000000)//(w*h) AS BIGINT) AS mean_g_ppm,
        | CAST((sum_b*1000000)//(w*h) AS BIGINT) AS mean_b_ppm
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    // deterministic 4-corpus parser fixture — fully enumerated VALUES
    // oracle (semantics: conll.py:7-48, germeval.py:6-44,
    // europeana_historic.py:7-47, wikiner.py:6-45)
    "etl_gt_union" ->
      """SELECT CAST(nsentence AS BIGINT) AS nsentence,
        | CAST(nword AS INT) AS nword, word, tag, dataset
        |FROM (VALUES
        | (1000000000, 0, 'Wien', 'B-LOC', 'EU-TEST'),
        | (1000000000, 1, 'ist', 'O', 'EU-TEST'),
        | (1000000000, 2, 'gross.', 'O', 'EU-TEST'),
        | (2000000000, 0, 'Berliner', 'B-LOC', 'GERM-EVAL-TEST'),
        | (2000000000, 1, 'Kind', 'O', 'GERM-EVAL-TEST'),
        | (3000000000, 0, 'Paris', 'B-LOC', 'DE-CONLL-TEST'),
        | (3000000000, 1, 'ist', 'O', 'DE-CONLL-TEST'),
        | (3000000000, 2, '..', 'O', 'DE-CONLL-TEST'),
        | (3000000001, 0, 'Anna', 'B-PER', 'DE-CONLL-TEST'),
        | (3000000001, 1, 'Müller', 'I-PER', 'DE-CONLL-TEST'),
        | (4000000000, 0, 'Paris', 'B-LOC', 'WIKINER-TEST'),
        | (4000000000, 1, 'ist', 'O', 'WIKINER-TEST')
        |) AS t(nsentence, nword, word, tag, dataset)
        |ORDER BY nsentence, nword""".stripMargin,
    "q34_mlm_pairs" ->
      """WITH s AS (SELECT doc_id, len(str_split(text,' '))::BIGINT AS n FROM documents),
        | c AS (SELECT doc_id, n,
        |   row_number() OVER (ORDER BY doc_id) - 1 AS idx,
        |   sum(n) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s),
        | tot AS (SELECT max(cum) AS total FROM c),
        | q AS (SELECT doc_id, n, cum,
        |   ('0x'||substr(md5(doc_id||'_nsp'),1,15))::BIGINT % 2 = 0 AS is_random_next,
        |   (cum + ('0x'||substr(md5(doc_id||'_draw'),1,15))::BIGINT % (total - n))
        |     % total AS sent_idx
        |  FROM c, tot),
        | u AS (SELECT cum AS v, 0 AS kind, idx AS cidx, NULL::BIGINT AS q_doc FROM c
        |  UNION ALL
        |  SELECT sent_idx, 1, NULL, doc_id FROM q),
        | r AS (SELECT *, sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END)
        |    OVER (ORDER BY v, kind
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
        |  FROM u),
        | smp AS (SELECT r.q_doc AS doc_id, c.doc_id AS s_doc, c.n AS s_n
        |  FROM r JOIN c ON c.idx = r.cnt WHERE r.kind = 1)
        |SELECT q.doc_id, q.is_random_next,
        | CASE WHEN q.is_random_next THEN smp.s_doc ELSE q.doc_id END AS b_doc_id,
        | least((q.n+1)//2, 64) AS n_a,
        | CASE WHEN q.is_random_next THEN least(smp.s_n, 63)
        |      ELSE least(q.n - (q.n+1)//2, 63) END AS n_b
        |FROM q JOIN smp ON smp.doc_id = q.doc_id
        |ORDER BY q.doc_id""".stripMargin,
    "q57_neg_sampling" ->
      """WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx
        |   FROM (SELECT DISTINCT doc_id FROM documents)),
        | nn AS (SELECT count(*) AS n FROM r),
        | a AS (SELECT doc_id, idx, j,
        |   ('0x'||substr(md5(doc_id||'_neg_'||j),1,15))::BIGINT % nn.n AS draw
        |   FROM r, range(0,4) t(j), nn),
        | b AS (SELECT doc_id, j,
        |   CASE WHEN draw = idx THEN (draw + 1) % (SELECT n FROM nn)
        |        ELSE draw END AS neg_idx FROM a)
        |SELECT b.doc_id, j::BIGINT AS j, r2.doc_id AS neg_doc_id
        |FROM b JOIN r r2 ON r2.idx = b.neg_idx
        |ORDER BY b.doc_id, j""".stripMargin,
    "q35_mlm_masks" ->
      """WITH w AS (SELECT doc_id, str_split(text,' ')[1:128] AS toks FROM documents),
        | t AS (SELECT doc_id, toks, len(toks) AS m FROM w),
        | p AS (SELECT doc_id, toks, m,
        |   least(20, greatest(1, round_even(m*0.15, 0))) AS ntm,
        |   unnest(range(0, m)) AS pos0 FROM t),
        | c AS (SELECT doc_id, toks, m, ntm, pos0, toks[pos0+1] AS token,
        |   ('0x'||substr(md5(doc_id||'_m_'||pos0),1,15))::BIGINT AS rank_key
        |  FROM p),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY rank_key, pos0) AS rn FROM c)
        |SELECT doc_id, CAST(pos0 AS BIGINT) AS pos, token AS label,
        | CASE WHEN ('0x'||substr(md5(doc_id||'_r_'||pos0),1,15))::BIGINT % 10 <= 7
        |        THEN '[MASK]'
        |      WHEN ('0x'||substr(md5(doc_id||'_r_'||pos0),1,15))::BIGINT % 10 = 8
        |        THEN token
        |      ELSE toks[(('0x'||substr(md5(doc_id||'_w_'||pos0),1,15))::BIGINT % m) + 1]
        | END AS replacement
        |FROM r WHERE rn <= ntm ORDER BY doc_id, pos""".stripMargin,
    "q33_dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
        | sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,0)+1),
        |   i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM w),
        | hh AS (SELECT doc_id,
        |   ('0x'||substr(md5('a_'||shingle),1,15))::BIGINT AS h1,
        |   ('0x'||substr(md5('b_'||shingle),1,15))::BIGINT AS h2 FROM sh),
        | sig AS (SELECT doc_id, h,
        |   min((h1 + h * h2) % 1152921504606846976) AS minhash
        |   FROM hh, range(0,8) t(h) GROUP BY doc_id, h),
        | bands AS (SELECT doc_id, h//2 AS band,
        |   md5(string_agg(h||':'||minhash, ',' ORDER BY h||':'||minhash)) AS band_key
        |   FROM sig GROUP BY doc_id, h//2),
        | ed AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |   FROM bands a JOIN bands b
        |     ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        | sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        | conn(a, b) AS (SELECT a, b FROM sym
        |   UNION SELECT c.a, s.b FROM conn c JOIN sym s ON c.b = s.a)
        |SELECT a AS doc_id, least(a, min(b)) AS keeper
        |FROM conn GROUP BY a ORDER BY doc_id""".stripMargin,
    "q53_asof_join" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_event_id
        |   FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        | c AS (SELECT event_id, user_id, ts FROM events
        |   WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        | floor(epoch(c.ts))::BIGINT AS click_epoch,
        | v.view_event_id,
        | floor(epoch(v.ts))::BIGINT AS view_epoch
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,
    "q26_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, floor(epoch(ts))::BIGINT AS epoch,
        |   lag(floor(epoch(ts))::BIGINT) OVER
        |     (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        | flagged AS (SELECT user_id, event_id, ts, epoch,
        |   CASE WHEN prev IS NULL OR epoch - prev > 1800 THEN 1 ELSE 0 END AS ns
        | FROM e),
        | sess AS (SELECT user_id, event_id, epoch,
        |   sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
        | FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(epoch) AS session_start, max(epoch) AS session_end
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
  )
}
