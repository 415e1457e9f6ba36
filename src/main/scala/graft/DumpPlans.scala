package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: `explain("formatted")` output for the plan-critical
  * queries — the human-readable twin of PlanSpec's assertions (pushdown,
  * pruning, broadcast, codegen spans, shuffle-free detect stage), then
  * the whole KG pipeline plan on the broadcast and the salted link.
  *
  *   runMain graft.DumpPlans <data-dir> [out-file, default PLANS.md]
  *
  * Expression ids, plan ids and lambda identities change from run to
  * run, so each section's are rewritten to stable tokens ([[stable]]):
  * regenerating the file on unchanged plans leaves it unchanged.
  */
object DumpPlans {
  private val ExprId = "#(\\d+)".r
  private val PlanId = "plan_id=(\\d+)".r
  private val Lambda = "\\$\\$Lambda[$\\d]*/0x[0-9a-f]+(@[0-9a-f]+)?".r
  // the random parts of temp-dir and part-file names in scan locations
  private val TmpDir = "(/graft_[a-z_]+?)\\d{6,}".r
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** `plan` with lambda identities replaced by `$$Lambda`, temp-dir and
    * file uuids by fixed tokens, and each expression / plan id
    * renumbered by its first appearance. */
  def stable(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex, pre: String) = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        pre + ids.getOrElseUpdate(m.group(1), ids.size + 1)))
    }
    val fixed = Uuid.replaceAllIn(TmpDir.replaceAllIn(
      Lambda.replaceAllIn(plan, "\\$\\$Lambda"), "$1N"), "UUID")
    renumber(renumber(fixed, ExprId, "#"), PlanId, "plan_id=")
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.DumpPlans <data-dir> [out-file]")
      sys.exit(2)
    }
    val sf = args(0)
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = Bench.session(cpus)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.DumpPlans)\n\n")
    sb.append("Assertions over these plans live in PlanSpec; this file is the\n")
    sb.append("readable evidence: pushed filters, pruned schemas, broadcast\n")
    sb.append("joins, codegen spans, and the shuffle-free detect stage.\n")
    for (q <- Seq("q01_agg", "q02_filter", "q03_join", "q04_semi",
      "q26_sessionize", "q18_minhash_sig", "q32_ann_ivf_probe",
      "q19_minhash_pairs", "q27_lsh_jaccard", "q33_dedup_clusters",
      "q24_ann_lsh", "q46_repetition", "q53_asof_join",
      "q58_kg_triangles", "q60_percentiles", "q61_bloom_prune",
      "q70_hist_quantile", "q71_fuzzy_tokens", "q72_kg_nbr_jaccard",
      "q73_setsim_prefix", "q104_setsim_dedup_first", "q78_range_join",
      "q87_bm25",
      "q88_cms_grouped", "q97_pq_adc", "q98_dup_spans", "q99_sq8_ann",
      "q100_neardup_gate", "q101_subj_lookup", "q102_ctx_linking",
      "q103_ivf_pq", "q105_spo_lookup", "q106_obj_lookup",
      "q107_ivf_pq_refine", "q108_semantic_dedup", "q109_dsir_select",
      "q110_curation_funnel", "q111_semantic_clusters")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize AQE
      sb.append(s"\n## $q\n\n```\n")
      sb.append(stable(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    // the fused detect stage: one mapPartitions chain, no Exchange
    val mentions = pipeline.KgPipeline.detectMentions(spark,
      pipeline.KgPipeline.sentences(spark, gen.CorpusGen.docs(spark, 50, 4)),
      new tag.GazetteerTagger(pipeline.KgPipeline.defaultGazetteer))
    sb.append("\n## kg detect stage (docs → sentences → windows → tagger → mentions)\n\n```\n")
    sb.append(stable(mentions.queryExecution.executedPlan.toString))
    sb.append("```\n")
    // the de-drivered salted carry link: dictionary-side scoring AND
    // canonicalization joined in before the corpus-side shuffle; the
    // probe side bloom-pruned through the native h60 membership test
    locally {
      import org.apache.spark.sql.functions._
      val aliases = gen.CorpusGen.aliases(spark)
      val canon = kg.ConnectedComponents.canonicalMap(spark, aliases.toDF())
      val m = spark.range(200).selectExpr("CAST(id AS STRING) AS doc_id",
        "CAST(id % 7 AS INT) AS span_offset", "0 AS sentence_idx",
        "'anna muller' AS surface_norm", "'PER' AS entity_type",
        "'m' AS role")
      val linked = kg.Linker.linkSaltedCarry(spark, m, aliases,
        skewKeys = Some(Seq("anna muller")), canon = Some(canon))
      linked.collect()
      sb.append("\n## salted carry link (de-drivered: dict-side canon + bloom prune + skew salt)\n\n```\n")
      sb.append(stable(linked.queryExecution.executedPlan.toString))
      sb.append("```\n")
    }
    // the runtime-injected deterministic Bloom filter (optimizer rule,
    // extensions session): q04's semi-join shape gains a probe-side
    // filter of h60 probes against a scalar-subquery bitset
    locally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master(s"local[$cpus]").appName("graft-plans-ext")
        .withExtensions(new GraftExtensions).getOrCreate()
      val c = s2.read.parquet(s"$sf/customer.parquet")
      val o = s2.read.parquet(s"$sf/orders.parquet")
        .where(org.apache.spark.sql.functions.col("o_totalprice") > 100000)
      val df = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
      df.collect()
      sb.append("\n## q04 shape under InjectDeterministicBloom (extensions session)\n\n```\n")
      sb.append(stable(df.queryExecution.optimizedPlan.toString))
      sb.append("```\n")
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
    // the whole KgPipeline.run plan on both link paths, built as the
    // KG benchmark builds it: broadcast map, then the salted join over a
    // DictStore snapshot in a temp dir
    locally {
      import gen.CorpusGen
      import pipeline.KgPipeline
      def kgSection(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
        sb.append(s"\n## $title\n\n```\n")
        sb.append(stable(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
        sb.append("```\n")
      }
      val ctx = Some(KgPipeline.prepareLinkContext(spark, CorpusGen.aliases(spark)))
      kgSection("kg pipeline, broadcast link (KgPipeline.run)",
        KgPipeline.run(spark, CorpusGen.docs(spark, 2000, 16),
          CorpusGen.aliases(spark), ctx = ctx).toDF())
      val dictRoot = Files.createTempDirectory("graft_plan_dict")
      try {
        val cfg = KgPipeline.Config(broadcastLink = false,
          dictStore = Some(dictRoot.toString))
        val saltedCtx = Some(KgPipeline.prepareSaltedContext(spark,
          CorpusGen.aliases(spark), dictRoot.toString))
        kgSection("kg pipeline, salted link over a DictStore (KgPipeline.run)",
          KgPipeline.run(spark, CorpusGen.docs(spark, 2000, 16),
            CorpusGen.aliases(spark), cfg = cfg, ctx = saltedCtx).toDF())
      } finally scala.util.Using.resource(Files.walk(dictRoot))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)))
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
