package graft

import graft.gen.CorpusGen
import graft.model._
import graft.ops.Sketches
import graft.pipeline.KgPipeline
import graft.store.{Fs, LineageStore}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The store commit: one data write whose tasks also compute the
  * per-bucket lineage stats (an observed metric), then one lineage
  * append. */
class CommitSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private val buckets = 8
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val aliases = CorpusGen.aliases(spark)
  private lazy val bcCtx = KgPipeline.prepareLinkContext(spark, aliases)

  private def broadcastPipe(ds: Dataset[Doc]): Dataset[Triple] =
    KgPipeline.run(spark, ds, aliases,
      cfg = KgPipeline.Config(buckets = buckets), ctx = Some(bcCtx))

  private def saltedPipe(dictRoot: String): Dataset[Doc] => Dataset[Triple] = {
    val ctx = KgPipeline.prepareSaltedContext(spark, aliases, dictRoot)
    ds => KgPipeline.run(spark, ds, aliases,
      cfg = KgPipeline.Config(buckets = buckets, broadcastLink = false,
        dictStore = Some(dictRoot)), ctx = Some(ctx))
  }

  /** Polls `cond` for up to 30 s. */
  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * told apart by a thread-local property, which Spark hands on to the
    * threads it runs a query's jobs from; a marker job started after
    * `body` shows when the listener has seen all of them. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger(0)
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => n.incrementAndGet()
          case Some(t) if t == tag + "/end" => drained = true
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      val r = body
      sc.setLocalProperty(key, tag + "/end")
      sc.parallelize(Seq(1), 1).count()
      eventually("the marker job")(drained)
      (r, n.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }

  test("observed lineage rows equal a groupBy over the written store, on both link paths") {
    val docs = CorpusGen.docs(spark, 640, parts = 4)
    for ((name, pipe) <- Seq("broadcast" -> (broadcastPipe _),
                             "salted" -> saltedPipe(tmp("graft_commit_dict")))) {
      val root = tmp(s"graft_commit_$name")
      assert(LineageStore.runResumable(spark, root, "triples", docs, pipe,
        buckets, "snap") == buckets)
      val lineage = LineageStore.readLineage(spark, root).collect()
        .sortBy(_.partition_id).toSeq
      val at = lineage.head.committed_at
      val stats = LineageStore.readTriples(spark, root).groupBy("bucket")
        .agg(count(lit(1)), min("span_offset"), max("span_offset"),
          Sketches.approxDistinctUdaf(64)(col("doc_id")),
          countDistinct("doc_id"))
        .as[(Int, Long, Int, Int, Long, Long)].collect()
      val recomputed = stats.map { case (b, n, lo, hi, docsEst, _) =>
        LineageRow("triples", b, lo.toLong, hi.toLong, n, docsEst, "snap", at)
      }
      val zero = ((0 until buckets).toSet -- stats.map(_._1)).toSeq
        .map(LineageRow("triples", _, 0L, 0L, 0L, 0L, "snap", at))
      assert(lineage == (recomputed.toSeq ++ zero).sortBy(_.partition_id), name)
      // the sketch's estimate branch is exercised, not only its exact one
      assert(stats.exists(_._6 > 64), s"$name: no bucket past k = 64 docs")
    }
  }

  test("a fresh broadcast build runs 3 Spark jobs; its no-op resume runs 1") {
    val docs = CorpusGen.docs(spark, 80, parts = 4)
    bcCtx // prepared before counting, as a caller reuses it across builds
    val root = tmp("graft_commit_jobs")
    val (n, jobs) = jobsOf {
      LineageStore.runResumable(spark, root, "triples", docs, broadcastPipe,
        buckets, "snap")
    }
    assert(n == buckets)
    // detect map stage, data write, lineage append
    assert(jobs == 3, s"$jobs jobs for one build")
    val (m, resumeJobs) = jobsOf {
      LineageStore.runResumable(spark, root, "triples", docs, broadcastPipe,
        buckets, "snap")
    }
    assert(m == 0)
    assert(resumeJobs == 1, s"$resumeJobs jobs for a no-op resume")
  }

  test("a fresh salted build runs 5 Spark jobs") {
    val docs = CorpusGen.docs(spark, 80, parts = 4)
    // the context is prepared before counting, as a caller reuses it
    val pipe = saltedPipe(tmp("graft_commit_salted_dict"))
    val root = tmp("graft_commit_salted_jobs")
    val (n, jobs) = jobsOf {
      LineageStore.runResumable(spark, root, "triples", docs, pipe,
        buckets, "snap")
    }
    assert(n == buckets)
    assert(jobs == 5, s"$jobs jobs for one build")
  }

  /** The plan nodes `p` runs, looking through adaptive plans and their
    * query stages. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  /** For every CollectMetricsExec under `p`, the nodes above it. */
  private def aboveMetrics(p: SparkPlan, above: List[SparkPlan] = Nil)
      : Seq[List[SparkPlan]] = p match {
    case _: CollectMetricsExec => Seq(above)
    case _ => children(p).flatMap(aboveMetrics(_, p :: above))
  }

  test("the commit's write has no Exchange above its CollectMetrics") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (aboveMetrics(qe.executedPlan).nonEmpty) plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      LineageStore.commit(spark, tmp("graft_commit_plan"), "triples",
        broadcastPipe(CorpusGen.docs(spark, 80, parts = 4)), "snap")
      eventually("the write's query execution")(!plans.isEmpty)
    } finally spark.listenerManager.unregister(l)
    val paths = aboveMetrics(plans.peek())
    assert(paths.length == 1, plans.peek().toString)
    val above = paths.head
    assert(above.exists(_.nodeName.contains("WriteFiles")), plans.peek().toString)
    // the result stage itself is a ResultQueryStage; any other stage or
    // exchange above the metrics would make them a map stage's
    val boundary = above.filter {
      case _: ResultQueryStageExec => false
      case _: QueryStageExec | _: Exchange => true
      case _ => false
    }
    assert(boundary.isEmpty, s"a stage boundary above CollectMetrics:\n${plans.peek()}")
  }

  test("a write whose lineage stats are not observed throws") {
    // with a shuffle above the metrics, a partitioned write of no rows
    // gets its observation completed with an empty row (Spark 4.1)
    val noTriples = broadcastPipe(CorpusGen.docs(spark, 0, parts = 4)).toDF()
    val e = intercept[IllegalStateException] {
      LineageStore.writeObserved(noTriples) {
        _.repartition(col("bucket")).write.mode("overwrite").partitionBy("bucket")
          .parquet(tmp("graft_commit_unobserved"))
      }
    }
    assert(e.getMessage.contains("not observed"), e.getMessage)
  }

  test("a triple outside the commit's buckets fails it; nothing committed, resume recomputes") {
    val root = tmp("graft_commit_outside")
    val docs = CorpusGen.docs(spark, 80, parts = 4)
    val e = intercept[IllegalArgumentException] {
      LineageStore.commit(spark, root, "triples", broadcastPipe(docs), "snap",
        Some(Set(0, 1)))
    }
    assert(e.getMessage.contains("outside the commit's buckets"), e.getMessage)
    assert(!Fs.exists(spark, LineageStore.lineagePath(root)))
    assert(LineageStore.runResumable(spark, root, "triples", docs, broadcastPipe,
      buckets, "snap") == buckets)
    val got = LineageStore.readTriples(spark, root)
      .select("subj", "pred", "obj", "doc_id").collect()
    val want = broadcastPipe(docs).select("subj", "pred", "obj", "doc_id").collect()
    assert(got.toSet == want.toSet && got.length == want.length)
  }

  test("an empty pending set commits zero-count rows on both link paths") {
    val noDocs = CorpusGen.docs(spark, 0, parts = 4)
    for ((name, pipe) <- Seq("broadcast" -> (broadcastPipe _),
                             "salted" -> saltedPipe(tmp("graft_commit_dict0")))) {
      val root = tmp(s"graft_commit_empty_$name")
      assert(LineageStore.runResumable(spark, root, "triples", noDocs, pipe,
        buckets, "snap") == buckets, name)
      val lineage = LineageStore.readLineage(spark, root).collect()
      assert(lineage.map(_.partition_id).sorted.toSeq == (0 until buckets), name)
      assert(lineage.forall(_.triple_count == 0L), name)
      assert(LineageStore.runResumable(spark, root, "triples", noDocs, pipe,
        buckets, "snap") == 0, name)
    }
  }

  test("each commit appends one lineage file") {
    val root = tmp("graft_commit_files")
    val docs = CorpusGen.docs(spark, 80, parts = 4)
    LineageStore.commit(spark, root, "triples", broadcastPipe(docs), "snap-1")
    LineageStore.commit(spark, root, "triples", broadcastPipe(docs), "snap-2")
    val files = Fs.listFiles(spark, LineageStore.lineagePath(root))
      .filter(_.endsWith(".parquet"))
    assert(files.length == 2, files.mkString(", "))
  }
}
