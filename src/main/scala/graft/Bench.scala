package graft

import graft.gen.CorpusGen
import graft.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hash, sum}

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR at
  * local[SPARK_GRAFT_CPUS]; prints ONE JSON line. Also reports the KG
  * pipeline's triples/sec (the BASELINE.json headline metric) at the
  * session's parallelism.
  */
object Bench {

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** KG pipeline wall time + triple count on n generated docs. Dictionary
    * setup (alias collect + connected components) is prepared once via
    * ctx — O(dictionary), excluded from per-doc throughput.
    */
  def kgRun(spark: SparkSession, n: Long, parts: Int,
            ctx: Option[KgPipeline.LinkContext] = None,
            cfg: KgPipeline.Config = KgPipeline.Config()): (Double, Long) = {
    // drop the PREVIOUS run's persisted detect stage before the timer
    // starts (same protocol as the salted measurement below): charging
    // this run's cache teardown to its wall time skewed kg_pipeline vs
    // kg_pipeline_salted and inflated the headline triples_per_sec
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val docs = CorpusGen.docs(spark, n, parts)
    val triples = KgPipeline.run(spark, docs, CorpusGen.aliases(spark),
      cfg = cfg, ctx = ctx)
    val cnt = triples.count()
    ((System.nanoTime() - t0) / 1e9, cnt)
  }

  /** Host-regime control: a pure whole-stage-codegen kernel (range →
    * hash → sum over 256 granules) with no IO and no library code, so
    * its wall time moves only with the host's CPU throughput. One warm
    * pass, then one timed pass.
    */
  private def controlSec(spark: SparkSession): Double = {
    def run(): Long = spark.range(0, 4000000000L, 1, 256)
      .select(sum(hash(col("id") * 31 + 7)).as("h")).collect()(0).getLong(0)
    run()
    val t0 = System.nanoTime(); run()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // locale-proof JSON: `f"$v%.3f"` uses the default locale — under a
    // comma-decimal locale the output would be invalid JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = session(cpus)

    // headline SQL queries (warm once to exclude first-touch JIT/IO noise)
    val headline = Seq("q01_agg", "q02_filter", "q03_join", "q06_window",
      "q11_grouped_topk", "q12_dedup_exact", "q13_token_count",
      "q18_minhash_sig", "q20_simhash", "q23_ann_top1",
      "q27_lsh_jaccard", "q33_dedup_clusters", "q34_mlm_pairs",
      "q36_ann_recall", "q46_repetition", "q48_contamination",
      "q53_asof_join", "q60_percentiles", "q61_bloom_prune",
      "q62_kmeans_int", "q63_topk_pruned", "q70_hist_quantile",
      "q71_fuzzy_tokens", "q73_setsim_prefix", "q104_setsim_dedup_first",
      "q74_bpe_merges",
      "q76_snapshot_diff", "q77_salted_join", "q78_range_join",
      "q79_inverted_index", "q80_rollup", "q81_sliding_window",
      "q82_pivot", "q84_exists_subquery", "q85_set_ops",
      "q86_split_assign", "q87_bm25", "q88_cms_grouped", "q89_raw_ner",
      "q90_chunking", "q92_novelty", "q93_pii_redact", "q94_kmv_windowed",
      "q95_audio_stats", "q97_pq_adc", "q98_dup_spans", "q99_sq8_ann",
      "q101_subj_lookup", "q105_spo_lookup", "q106_obj_lookup",
      "q102_ctx_linking", "q103_ivf_pq", "q107_ivf_pq_refine",
      "q108_semantic_dedup", "q109_dsir_select", "q110_curation_funnel",
      "q111_semantic_clusters")
    headline.foreach { q => SparkEntry.queries(q)(spark, sfDir).count() }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    headline.foreach { q =>
      // best-of-2: the host VM has intermittent CPU-steal spikes
      results(q) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    // KG pipeline throughput: docs scaled by the sf dir name
    val nDocs: Long =
      if (sfDir.contains("0.01")) 6000L
      else if (sfDir.contains("0.1")) 60000L else 600L
    // fixed 256 input partitions: ~8 waves at 32 threads — tail-tolerant
    // load balance
    val parts = 256
    val ctx = Some(KgPipeline.prepareLinkContext(spark, CorpusGen.aliases(spark)))
    kgRun(spark, nDocs, parts, ctx) // full-size JIT warm-up (C2 needs a pass)
    val (kgSec, nTriples) =
      (1 to 3).map(_ => kgRun(spark, nDocs, parts, ctx)).minBy(_._1)
    // skew-aware salted-join linking path (broadcastLink = false):
    // ctx = None — nothing dictionary-sized ever reaches the driver.
    // The scored dictionary comes from the snapshot-keyed DictStore:
    // the warm-up run materializes it once (as the first job over a
    // dictionary snapshot would), the measured runs READ it — the
    // amortized steady state every repeated job / micro-batch sits in
    // (round-4 verdict directive 1; the build cost itself is the
    // one-time O(dictionary) slice, reported by the scaling sweeps)
    val dictRoot = java.nio.file.Files
      .createTempDirectory("graft_bench_dict").toString
    val saltedCfg = KgPipeline.Config(broadcastLink = false,
      dictStore = Some(dictRoot))
    // steady-state context: store build + bloom bits + fingerprint once
    // per dictionary snapshot (fixed-size driver state only)
    val saltedCtx = Some(KgPipeline.prepareSaltedContext(spark,
      CorpusGen.aliases(spark), dictRoot))
    def saltedRun(): Double = {
      val t0 = System.nanoTime()
      KgPipeline.run(spark, CorpusGen.docs(spark, nDocs, parts),
        CorpusGen.aliases(spark), cfg = saltedCfg, ctx = saltedCtx).count()
      (System.nanoTime() - t0) / 1e9
    }
    saltedRun() // warm
    results("kg_pipeline_salted") = (1 to 2).map { _ =>
      // each salted run persists its detect stage; drop stale cache
      // entries between measurements so they don't accumulate
      spark.catalog.clearCache()
      saltedRun()
    }.min
    // detect stage under real per-window FLOPs (dense stub model)
    def denseRun(): Double = {
      val t0 = System.nanoTime()
      KgPipeline.detectMentions(spark,
        KgPipeline.sentences(spark, CorpusGen.docs(spark, nDocs, parts)),
        new graft.tag.DenseStubTagger(graft.text.Vocab.tokenToId.size)).count()
      (System.nanoTime() - t0) / 1e9
    }
    denseRun() // warm
    results("kg_detect_dense") = (1 to 2).map(_ => denseRun()).min
    results("kg_pipeline") = kgSec
    val tps = nTriples / kgSec

    // host-regime control (same JVM, same window): every query is also
    // reported as wall / control so round-over-round movement separates
    // code from host drift (see controlSec)
    val control = controlSec(spark)

    val total = results.values.sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qsNorm = results.map { case (k, v) =>
      "\"" + k + "\":" + f"${v / control}%.3f" }.mkString("{", ",", "}")
    val totalS = f"$total%.3f"
    val tpsS = f"$tps%.1f"
    val ctrlS = f"$control%.3f"
    println(s"""{"metric":"total","value":$totalS,"unit":"sec","queries":$qs,"sf":"$sfDir","kg_docs":$nDocs,"kg_triples":$nTriples,"triples_per_sec":$tpsS,"control_sec":$ctrlS,"queries_norm":$qsNorm}""")
    spark.stop()
  }
}
