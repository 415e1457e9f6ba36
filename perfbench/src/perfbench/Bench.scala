package perfbench

import java.lang.management.ManagementFactory

import graft.api.{ModelRegistry, ModelSpec, NerServer}
import graft.gen.CorpusGen
import graft.kg.{ConnectedComponents, Linker}
import graft.model.{Alias, Doc, Triple}
import graft.pipeline.KgPipeline
import graft.store.{DictStore, LineageStore, Snapshots}
import graft.tag.GazetteerTagger
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Seeded benchmark of the KG engine, driven through public functions only.
  *
  *   --workload kg_broadcast|kg_salted --seed N --seconds S
  *   --trace 0|1 --work DIR
  *
  * Prints one JSON object as its last stdout line: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
  * metrics with --trace 1). See README.md for the workloads.
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  val workloads = Seq("kg_broadcast", "kg_salted")

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --name value pairs")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k"); k.drop(2) -> v
    }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val startMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli)
      .orElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val run = new Run(a, startMs)
    val line = try run.execute() finally run.close()
    println(line)
  }
}

/** Operation bookkeeping: what was attempted, what failed (threw or was
  * refused) and which completed outputs were wrong. */
final class Ops {
  private val attempted = new java.util.concurrent.atomic.AtomicLong
  private val failed = new java.util.concurrent.atomic.AtomicLong
  private val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def add(n: Long, f: Long): Unit = { attempted.addAndGet(n); failed.addAndGet(f) }

  /** Runs one operation; None when it threw. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body) catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    wrong.add(msg)
    System.err.println(s"[perfbench] WRONG $msg")
  }

  def attemptedN: Long = attempted.get
  def failedN: Long = failed.get
  def correct: Boolean = wrong.isEmpty
}

/** The benchmark's JSON output lines. */
object Out {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** `{name: {"value": v, "unit": u}}`, in the given order. */
  def metrics(ms: Iterable[(String, (Double, String))]): ListMap[String, Any] =
    ListMap(ms.toSeq.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number: $v")
      k -> ListMap("value" -> v, "unit" -> u)
    }: _*)
}

/** Median and nearest-rank percentiles. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** One benchmark process: set-up, the workload's timed phases, checks.
  *
  * Both workloads run the same phases; they differ in the link path
  * (broadcast map vs salted join over a `DictStore` snapshot) and in the
  * alias table (the generator's vs the generator's plus distractors):
  *
  *  1. set-up: session, inputs, link context, one cold resumable build,
  *     (traced only) compaction and object index of that store,
  *     `NerServer` start;
  *  2. warm-up builds, then the timed builds, each into a fresh root
  *     followed by a no-op resume;
  *  3. (traced only) lookups against the compacted set-up store: two
  *     warm-up rounds, then the timed rounds;
  *  4. `/ner`: warm-up, closed-loop capacity, open loop at a fixed share
  *     of that capacity.
  */
final class Run(a: Bench.Args, startMs: Long) {
  private val cpus = Runtime.getRuntime.availableProcessors
  private val salted = a.workload == "kg_salted"
  private val log = (s: String) => System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - startMs) / 1e3}%7.2f s  $s")

  // The number of timed builds is fixed by --seconds, not by the clock,
  // so every run of a workload times the same builds (README: "Phases").
  // The /ner phases last fixed shares of S.
  private val S = a.seconds.toDouble
  private val warmBuilds = 8
  private val timedBuilds = math.max(2, math.ceil(S / 4).toInt)
  private val timedRounds = math.max(1, math.ceil(S / 4).toInt) // traced run only
  private val closedSecs = 0.075 * S
  // the open loop offers this share of the closed loop's measured capacity
  private val nerLoad = 0.8
  private val openSecs = 0.15 * S

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-${a.workload}")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  import spark.implicits._

  private val tr = new Tracer(spark, a.trace, s"${a.workload}-${a.seed}")
  private val ops = new Ops
  private val in = new Inputs(spark, a.seed, a.work, salted)
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private val dictRoot = s"${a.work}/dict"
  private var rootN = 0
  private def freshRoot(): String = { rootN += 1; s"${a.work}/roots/r$rootN" }
  private def rootName(root: String): String = root.substring(root.lastIndexOf('/') + 1)
  private var server: Option[NerServer] = None

  private val cfg = KgPipeline.Config(buckets = Sizes.buckets,
    broadcastLink = !salted, dictStore = if (salted) Some(dictRoot) else None)
  private val snap = Snapshots.configHash(cfg.toString, in.docsDir)
  private var docs: Dataset[Doc] = _
  private var aliases: Dataset[Alias] = _
  private var ctx: KgPipeline.LinkContext = _
  private var key: Fingerprint = _

  def close(): Unit = {
    server.foreach(_.stop())
    tr.stop()
    spark.stop()
  }

  /** Collects garbage and waits `ms`, so Spark's cleaner and the JIT
    * compiler finish what the previous phase left behind and each timed
    * phase starts from a similar state. */
  private def quiesce(ms: Long = 300): Unit = { System.gc(); Thread.sleep(ms) }

  // ---- program calls -------------------------------------------------

  /** One resumable build into `root`, the body of `Main run`: returns
    * (buckets processed, wall seconds). */
  private def build(root: String, span: String): (Int, Double) =
    tr.timed(span) {
      LineageStore.runResumable(spark, root, "triples", docs,
        ds => KgPipeline.run(spark, ds, aliases, cfg = cfg, ctx = Some(ctx)),
        Sizes.buckets, snap)
    }

  /** The store checks after a build and its no-op resume, given the
    * store's fingerprint and its lineage rows as (bucket, triple_count);
    * returns the rows read back. */
  private def checkBuild(root: String, buckets: Int, resumed: Int,
                         fp: Fingerprint, lin: Seq[(Int, Long)]): Long = {
    ops.check(buckets == Sizes.buckets,
      s"$root: build processed $buckets of ${Sizes.buckets} buckets")
    ops.check(resumed == 0, s"$root: no-op resume processed $resumed buckets")
    ops.check(fp.rows == fp.distinct,
      s"$root: ${fp.rows} rows but ${fp.distinct} distinct (subj, pred, obj, doc_id)")
    ops.check(fp.sameSet(key),
      s"$root: triple set differs from the answer key ($fp vs $key)")
    ops.check(fp.distractorRows == 0,
      s"$root: ${fp.distractorRows} triples name a distractor entity")
    // one lineage row per bucket: the resume appended none, so the total
    // the build committed is the total read back after the resume
    val perBucket = lin.groupBy(_._1).map { case (b, rs) => b -> rs.length }
    ops.check(perBucket.keySet == (0 until Sizes.buckets).toSet && perBucket.values.forall(_ == 1),
      s"$root: lineage rows per bucket ${perBucket.toSeq.sorted.take(8)}… (want one each of ${Sizes.buckets})")
    val linSum = lin.map(_._2).sum
    ops.check(linSum == fp.rows && fp.rows == key.rows,
      s"$root: lineage total $linSum, rows read back ${fp.rows}, answer key ${key.rows}")
    fp.rows
  }

  /** Fingerprints and (bucket, triple_count) lineage rows of the stores
    * under `roots`. Each table is read for all stores at once, in one
    * Spark job, with every row tagged by the store (`rootName`) it came
    * from; both maps are keyed by root. */
  private def readBack(roots: Seq[String])
      : (Map[String, Fingerprint], Map[String, Seq[(Int, Long)]]) = {
    val byName = roots.map(r => rootName(r) -> r).toMap
    def read(path: String => String, dir: String) =
      spark.read.option("recursiveFileLookup", "true")
        .parquet(roots.map(path): _*).withColumn("root",
        regexp_extract(input_file_name(), s"/roots/(r[0-9]+)/$dir/", 1))
    val lin = read(LineageStore.lineagePath, "_lineage")
      .select("root", "partition_id", "triple_count").as[(String, Int, Long)]
      .collect().groupBy(_._1).map { case (r, rs) => byName(r) -> rs.toSeq.map(x => (x._2, x._3)) }
    val fps = Fingerprint.byRoot(read(LineageStore.triplesPath, "triples"))
      .map { case (r, fp) => byName(r) -> fp }
    (fps.withDefaultValue(Fingerprint(0, 0, 0, 0, 0, 0)), lin.withDefaultValue(Seq.empty))
  }

  private case class Built(root: String, buildS: Double, resumeS: Double,
                           resumed: Int, rows: Long)

  /** Build, no-op resume and checks into a fresh root; None when the
    * build or the resume threw. */
  private def buildChecked(span: String): Option[Built] = {
    val root = freshRoot()
    for {
      (n, s) <- ops.op("build") { build(root, span) }
      (m, r) <- ops.op("resume") { build(root, "resume.noop") }
    } yield {
      val (fp, lin) = readBack(Seq(root))
      Built(root, s, r, m, checkBuild(root, n, m, fp(root), lin(root)))
    }
  }

  private def dropRoot(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // ---- lookups ---------------------------------------------------------

  private sealed trait Path { def name: String }
  private case object Subj extends Path { val name = "subj" }
  private case object SubjPred extends Path { val name = "subj_pred" }
  private case object Obj extends Path { val name = "obj" }
  private case class Lookup(path: Path, k: String, pred: String)

  /** Six rounds of the lookup mix, each with per path a hot entity key
    * (thousands of rows) and a doc or media key (a few rows), and the
    * answer-key rows each lookup must return. */
  private def lookupRounds(): (IndexedSeq[IndexedSeq[Lookup]], Map[Lookup, Seq[(String, String, String, String)]]) = {
    val rng = new CorpusGen.Rng(a.seed ^ 0x5eedL)
    val ak = in.answerKey
    def top(keys: Iterator[String]) = keys.toSeq.groupBy(identity)
      .map { case (k, v) => (k, v.size) }.toSeq
      .sortBy { case (k, c) => (-c, k) }.take(6).map(_._1).toIndexedSeq
    val hot = top(ak.iterator.map(_.subj).filterNot(_.startsWith("doc_")))
    val hotObj = top(ak.iterator.filter(_.pred == "mentions").map(_.obj))
    def docIdx() = in.base + rng.nextInt(in.n.toInt)
    val docsK = IndexedSeq.fill(6)(CorpusGen.docId(docIdx()))
    val media = Iterator.continually(docIdx()).map(CorpusGen.genDoc)
      .flatMap(_.doc.spans.filter(_.kind == "media").map(_.media_ref))
      .take(6).toIndexedSeq
    val rounds = (0 until 6).map { r =>
      IndexedSeq(Lookup(Subj, hot(r), null), Lookup(Subj, docsK(r), null),
        Lookup(SubjPred, hot(r), "co_occurs_with"),
        Lookup(SubjPred, docsK(r), "mentions"),
        Lookup(Obj, hotObj(r), null), Lookup(Obj, media(r), null))
    }
    def t(g: graft.model.GoldTriple) = (g.subj, g.pred, g.obj, g.doc_id)
    val expect = rounds.flatten.distinct.map { l =>
      l -> (l.path match {
        case Subj => ak.filter(_.subj == l.k)
        case SubjPred => ak.filter(g => g.subj == l.k && g.pred == l.pred)
        case Obj => ak.filter(_.obj == l.k)
      }).map(t).toSeq.sorted
    }.toMap
    (rounds, expect)
  }

  private def lookupDs(root: String, l: Lookup): Dataset[Triple] = l.path match {
    case Subj => LineageStore.lookupBySubject(spark, root, l.k)
    case SubjPred => LineageStore.lookupBySubjectPred(spark, root, l.k, l.pred)
    case Obj => LineageStore.lookupByObject(spark, root, l.k)
  }

  /** Runs `nRounds` rounds of lookups, cycling through `rounds`; returns
    * per-path latencies (ms), files scanned (traced only) and rows. */
  private def runLookups(root: String, rounds: IndexedSeq[IndexedSeq[Lookup]],
                         expect: Map[Lookup, Seq[(String, String, String, String)]],
                         nRounds: Int)
      : (Map[String, Seq[Double]], Seq[Int], Seq[Int]) = {
    val lat = mutable.LinkedHashMap(Seq(Subj, SubjPred, Obj).map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)
    val files = mutable.ArrayBuffer.empty[Int]
    val nrows = mutable.ArrayBuffer.empty[Int]
    (0 until nRounds).foreach { r =>
      rounds(r % rounds.length).foreach { l =>
        ops.op(s"lookup ${l.path.name} ${l.k}") {
          tr.timed(s"lookup.${l.path.name}") {
            val ds = lookupDs(root, l)
            if (tr.on) files += ds.inputFiles.length
            ds.collect()
          }
        }.foreach { case (got, s) =>
          lat(l.path.name) += s * 1e3
          nrows += got.length
          val g = got.map(x => (x.subj, x.pred, x.obj, x.doc_id)).toSeq.sorted
          ops.check(g == expect(l),
            s"lookup ${l.path.name} ${l.k}: ${g.length} rows, answer key ${expect(l).length}")
        }
      }
    }
    (lat.view.mapValues(_.toSeq).toMap, files.toSeq, nrows.toSeq)
  }

  // ---- /ner --------------------------------------------------------------

  private def startServer(): Int = {
    val registry = new ModelRegistry(
      Seq(ModelSpec("gazetteer", 1, "builtin", 7, default = true)),
      _ => new GazetteerTagger(KgPipeline.defaultGazetteer))
    val s = new NerServer(spark, registry, 0)
    server = Some(s)
    s.start()
  }

  /** Warm-up, closed-loop capacity, then an open loop at `nerLoad` of
    * that capacity; checks every response. Returns (open phase, closed
    * phase, open-loop rate). */
  private def nerPhases(port: Int): (NerPhase, NerPhase, Double) = {
    val load = new NerLoad(port, cpus, new NerTexts(in.base + 2 * in.n + 7))
    def account(p: NerPhase): Unit = ops.add(p.done + p.failed, p.failed)
    val (open, closed, rate) = try {
      account(tr.span("ner.warmup") { load.closed(0.25) })
      quiesce()
      val closed = tr.span("ner.closed") { load.closed(closedSecs) }
      account(closed)
      val rate = nerLoad * closed.done / closed.wallS
      val total = math.max(1, (rate * openSecs / cpus).round.toInt) * cpus
      val open = tr.span("ner.open") { load.open(rate, total) }
      account(open)
      (open, closed, rate)
    } finally load.close()
    val (bad, msgs) = load.checkPending()
    msgs.foreach(m => ops.check(ok = false, m))
    ops.check(bad == 0, s"$bad /ner responses differ from the planted tags")
    ops.check(server.get.memoHitCount == 0,
      s"${server.get.memoHitCount} /ner responses came from the memo")
    (open, closed, rate)
  }

  // ---- the run -----------------------------------------------------------

  def execute(): String = {
    log("session up")
    val aliasRows = tr.span("gen.inputs") { in.write() }
    log("inputs written")
    docs = in.docs
    aliases = in.aliases
    ctx = tr.span("dict.prepare") {
      if (salted) KgPipeline.prepareSaltedContext(spark, aliases, dictRoot)
      else KgPipeline.prepareLinkContext(spark, aliases)
    }
    log("link context ready")
    val readRoot = freshRoot()
    val cold = ops.op("build") { build(readRoot, "store.cold_build") }
    val coldS = cold.map(_._2).getOrElse(0.0)
    log(f"cold build $coldS%.2f s")
    // The read path is checked and timed in the traced run only, as its
    // latencies are reported only (README: "Reported only").
    if (tr.on) {
      tr.span("compact") { LineageStore.compactTriples(spark, readRoot) }
      tr.span("obj_index") { LineageStore.buildObjIndex(spark, readRoot) }
    }
    val port = startServer()
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    log("set-up done")

    key = Fingerprint.ofLocal(in.answerKey)
    ops.check(key.rows == key.distinct && key.rows > 0, s"answer key not a set: $key")
    // (root, buckets built, buckets resumed) of every build to check, the
    // set-up store's first; all are checked in one pass after the builds
    val done = mutable.ArrayBuffer.empty[(String, Int, Int)]
    for ((n, _) <- cold; (m, _) <- ops.op("resume") { build(readRoot, "resume.noop") })
      done += ((readRoot, n, m))

    val buildTimes = mutable.ArrayBuffer.empty[Double]
    val allTimes = mutable.ArrayBuffer.empty[Double]
    if (!tr.on) {
      // warm-up builds, then the timed ones, back to back
      quiesce()
      (0 until warmBuilds + timedBuilds).foreach { i =>
        val root = freshRoot()
        for ((n, s) <- ops.op("build") { build(root, "store.build") };
             (m, _) <- ops.op("resume") { build(root, "resume.noop") }) {
          if (i >= warmBuilds) buildTimes += s
          allTimes += s
          done += ((root, n, m))
        }
      }
      log(s"builds ${allTimes.map(x => f"$x%.2f").mkString(" ")}")
    }
    if (done.nonEmpty) {
      val (fps, lins) = readBack(done.map(_._1).toSeq)
      done.foreach { case (root, n, m) =>
        checkBuild(root, n, m, fps(root), lins(root)); if (root != readRoot) dropRoot(root)
      }
    }
    log("builds checked")

    val lookups = if (tr.on) {
      val (rounds, expect) = lookupRounds()
      runLookups(readRoot, rounds, expect, 2)
      quiesce(1000)
      val r = runLookups(readRoot, rounds, expect, timedRounds)
      log("lookups done")
      Some(r)
    } else None
    val (open, closed, rate) = nerPhases(port)
    log("/ner done")

    lookups match {
      case Some((lat, files, nrows)) =>
        traced(aliasRows, coldS, lat, files, nrows, open, closed)
      case None =>
        e2e("setup_s") = (setupS, "s")
        e2e("cold_build_s") = (coldS, "s")
        e2e("triples_per_s") = (key.rows / Stats.median(buildTimes.toSeq), "triples/s")
        e2e("ner_p50_ms") = (Stats.median(open.latMs.toSeq), "ms")
        e2e("ner_rps") = (closed.done / closed.wallS, "req/s")

        // tails with their sample counts (reported, not bounded)
        def tail(xs: Seq[Double]) =
          f"n=${xs.length} p50=${Stats.median(xs)}%.3f p90=${Stats.pct(xs, 90)}%.3f " +
            f"p99=${Stats.pct(xs, 99)}%.3f max=${xs.max}%.3f"
        info("triples_per_build") = key.rows.toString
        info("build_s") = tail(buildTimes.toSeq) +
          s" warm-up=${allTimes.take(warmBuilds).map(x => f"$x%.3f").mkString(",")}"
        info("ner_open_ms") = tail(open.latMs.toSeq) +
          f" rate=$rate%.1f/s conns=$cpus late_max=${open.lateMs.max}%.3f"
        info("ner_closed_ms") = tail(closed.latMs.toSeq) +
          f" done=${closed.done} wall=${closed.wallS}%.3f conns=$cpus"
        println(Out.json(Map("info" -> info)))
    }

    Out.json(ListMap("correct" -> ops.correct, "attempted" -> ops.attemptedN,
      "failed" -> ops.failedN, "metrics" -> Out.metrics(if (tr.on) layer else e2e)))
  }

  // ---- the traced run ------------------------------------------------------

  /** Per-layer figures. Spans around the program's public functions; the
    * fused detect stage is split by materialized prefixes (`sentences`,
    * then `detectRows`, then the full `run`), each layer's self time being
    * its prefix minus the one before. */
  private def traced(aliasRows: Long, coldS: Double, lat: Map[String, Seq[Double]],
                     files: Seq[Int], nrows: Seq[Int], open: NerPhase,
                     closed: NerPhase): Unit = {
    def w(name: String) = tr.named(name).map(_.wallS).sum
    def l(name: String, v: Double, unit: String) = layer(name) = (v, unit)

    // gen
    val (nDocs, nSent, nLong, bytes) = in.makeup()
    l("gen.docs", nDocs, "count"); l("gen.sentences", nSent, "count")
    l("gen.long_sentences", nLong, "count"); l("gen.aliases", aliasRows, "count")
    l("gen.bytes", bytes, "bytes")

    // text, then text + detect, as materialized prefixes
    val tagger = new GazetteerTagger(KgPipeline.defaultGazetteer)
    val sents = KgPipeline.sentences(spark, docs)
    val nS = tr.span("text.sentences") { sents.count() }
    val (wins, reglue, unk) = tr.span("text.windows") {
      val enc = new graft.text.WindowEncoder(graft.text.Vocab.default,
        graft.text.Vocab.tokenToId, graft.text.Tags.labelMap, cfg.maxSeqLen)
      sents.mapPartitions { it =>
        var w = 0L; var r = 0L; var u = 0L
        it.foreach { s =>
          val (ws, _) = enc.encodeWithCounts(s.guid, s.words, s.tags)
          w += ws.length; if (ws.length > 1) r += 1
          ws.foreach(x => u += x.tokens.count(_ == "[UNK]"))
        }
        Iterator.single((w, r, u))
      }.collect().foldLeft((0L, 0L, 0L)) {
        case ((a1, b1, c1), (a2, b2, c2)) => (a1 + a2, b1 + b2, c1 + c2)
      }
    }
    l("text.busy_s", w("text.sentences"), "s"); l("text.sentences", nS, "count")
    l("text.windows_per_sentence", wins.toDouble / nS, "ratio")
    l("text.reglue_sentences", reglue, "count"); l("text.unk_pieces", unk, "count")

    val dr = tr.span("detect.rows") {
      KgPipeline.detectRows(spark, sents, tagger, cfg).toDF()
        .agg(count(col("mention")), count(col("relation"))).head()
    }
    val nMent = dr.getLong(0)
    l("detect.busy_s", math.max(0.0, w("detect.rows") - w("text.sentences")), "s")
    l("detect.mentions", nMent, "count"); l("detect.relations", dr.getLong(1), "count")

    // link, replayed over materialized detect rows. The program links
    // inline in `run` (a broadcast-map udf, or a salted join over its own
    // detect cache), which cannot be split from outside, so these figures
    // come from a replay of the same lookup and are no share of a build.
    val rows = KgPipeline.detectRows(spark, sents, tagger, cfg).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    tr.span("link.input") { rows.count() }
    val (linked, skew) = tr.span("link.replay") {
      if (salted) replaySalted(rows) else (replayBroadcast(rows), 0)
    }
    rows.unpersist()
    val linkSpan = tr.named("link.replay").head
    l("link.replay_s", linkSpan.wallS, "s")
    l("link.replay_shuffle_bytes", linkSpan.shuffleWrite.get.toDouble, "bytes")
    l("link.linked_ratio", linked.toDouble / nMent, "ratio")
    l("link.replay_skew_keys", skew, "count")
    val bits = ctx.bloomBits.get
    l("link.bloom_fill",
      bits.map(java.lang.Long.bitCount).sum.toDouble / (64.0 * bits.length), "ratio")

    l("dict.build_s", w("dict.prepare"), "s"); l("dict.rows", aliasRows, "count")
    val comps = tr.span("canon.components") {
      ConnectedComponents.canonicalMap(spark, aliases.toDF())
        .agg(countDistinct(col("canonical_id"))).head().getLong(0)
    }
    l("canon.busy_s", w("canon.components"), "s"); l("canon.components", comps, "count")

    // link, canon and triple assembly of the real path: `run` minus the
    // `detectRows` prefix
    val nTriples = tr.span("kg.run") {
      KgPipeline.run(spark, docs, aliases, cfg = cfg, ctx = Some(ctx)).count()
    }
    val kgSpan = tr.named("kg.run").head
    l("triples.busy_s", math.max(0.0, kgSpan.wallS - w("detect.rows")), "s")
    l("triples.rows", nTriples, "count")
    l("triples.shuffle_bytes", kgSpan.shuffleWrite.get.toDouble, "bytes")

    // the full build: commit = build minus the unsaved `run`
    val tour = buildChecked("store.tour_build").get
    l("commit.busy_s", math.max(0.0, tour.buildS - kgSpan.wallS), "s")
    val tdir = LineageStore.triplesPath(tour.root)
    l("commit.files", Inputs.dataFiles(tdir), "count")
    l("commit.bytes_per_triple",
      Inputs.dirBytes(tdir).toDouble / math.max(1L, tour.rows), "bytes")
    l("resume.noop_s", tour.resumeS, "s")
    l("resume.buckets", tour.resumed, "count")
    l("store.cold_build_s", coldS, "s")
    l("compact.busy_s", w("compact"), "s"); l("obj_index.busy_s", w("obj_index"), "s")

    l("lookup.files_scanned", files.sum.toDouble / math.max(1, files.length), "count")
    l("lookup.rows", nrows.sum.toDouble / math.max(1, nrows.length), "count")
    lat.foreach { case (p, xs) =>
      l(s"lookup.${p}_p50_ms", Stats.median(xs), "ms")
      l(s"lookup.${p}_p90_ms", Stats.pct(xs, 90), "ms")
      l(s"lookup.${p}_p99_ms", Stats.pct(xs, 99), "ms")
    }
    l("lookup.samples", lat.values.map(_.length).sum, "count")

    l("ner.p90_ms", Stats.pct(open.latMs.toSeq, 90), "ms")
    l("ner.p99_ms", Stats.pct(open.latMs.toSeq, 99), "ms")
    l("ner.gen_late_ms", open.lateMs.max, "ms")
    l("ner.memo_hits", server.get.memoHitCount.toDouble, "count")
    l("ner.samples", open.latMs.length, "count")
    l("ner.closed_p50_ms", Stats.median(closed.latMs.toSeq), "ms")

    l("trace.overhead_s", overhead(), "s")

    tr.settle()
    val all = tr.all
    l("spark.tasks", all.map(_.tasks.get).sum.toDouble, "count")
    l("spark.stages", all.map(_.stages.get).sum.toDouble, "count")
    l("spark.spill_bytes", all.map(_.spill.get).sum.toDouble, "bytes")
    l("spark.gc_s", all.map(_.gcMs.get).sum / 1e3, "s")
    l("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")

    println(Out.json(ListMap("layers" -> groupedTable, "spans" -> tr.table)))
  }

  /** The broadcast path's inline link replayed: the same dictionary and
    * canonical-map lookup over every mention and relation endpoint.
    * Returns the mentions that link. */
  private def replayBroadcast(rows: DataFrame): Long = {
    val dict = spark.sparkContext.broadcast(ctx.dict)
    val canon = spark.sparkContext.broadcast(ctx.canon)
    val link = udf { (surface: String, typ: String) =>
      Linker.bestCandidate(dict.value.getOrElse(CorpusGen.normSurface(surface), Seq.empty), typ)
        .map(a => (canon.value.getOrElse(a.entity_id, a.entity_id), a.prior))
    }.asNondeterministic()
    rows.select(
      when(col("mention").isNotNull,
        link(col("mention.surface"), col("mention.entity_type"))).as("lm"),
      when(col("relation").isNotNull,
        link(col("relation.subj_surface"), col("relation.subj_type"))).as("ls"),
      when(col("relation").isNotNull,
        link(col("relation.obj_surface"), col("relation.obj_type"))).as("lo"))
      .agg(count(col("lm")), count(col("ls")), count(col("lo"))).head().getLong(0)
  }

  /** The salted path's link join replayed: mention rows and both
    * relation endpoints through `Linker.linkSaltedCarry` on the
    * `DictStore` snapshot, with the context's bloom bits and skew keys
    * inferred from an 8% sample of the mentions. Returns (mentions that
    * link, skew keys). */
  private def replaySalted(rows: DataFrame): (Long, Int) = {
    val norm = udf((s: String) => CorpusGen.normSurface(s))
    def unit(role: String, p: String, surface: String, typ: String) = struct(
      col(s"$p.doc_id").as("doc_id"), col(s"$p.span_offset").as("span_offset"),
      col(s"$p.sentence_idx").as("sentence_idx"),
      norm(col(s"$p.$surface")).as("surface_norm"),
      col(s"$p.$typ").as("entity_type"), lit(role).as("role"))
    val joinIn = rows.where(col("media").isNull)
      .select(explode(when(col("mention").isNotNull,
          array(unit("m", "mention", "surface", "entity_type")))
        .otherwise(array(unit("s", "relation", "subj_surface", "subj_type"),
          unit("o", "relation", "obj_surface", "obj_type")))).as("u"))
      .select("u.*")
    val skew = Linker.inferSkewKeysNorm(spark,
      joinIn.where(col("role") === "m").select("surface_norm"), sampleFraction = 0.08)
    val scored = DictStore.ensureScored(spark, dictRoot,
      ctx.dictSnapshotId.get, aliases, None)
    val linked = Linker.linkSaltedCarry(spark, joinIn, aliases, cfg.saltBuckets,
      Some(skew), bloomBits = ctx.bloomBits, scored = Some(scored))
      .agg(count(when(col("role") === "m", 1))).head().getLong(0)
    (linked, skew.size)
  }

  /** Tracing overhead: traced build wall minus untraced build wall, one
    * of each after the layer tour's builds have warmed the JVM. */
  private def overhead(): Double = {
    def once(): Double = buildChecked("store.overhead_build").map { b =>
      dropRoot(b.root); b.buildS
    }.getOrElse(0.0)
    val off = tr.off(once())
    once() - off
  }

  /** The per-layer metrics grouped by layer name (the part before the
    * first dot). */
  private def groupedTable: ListMap[String, Any] =
    ListMap(layer.toSeq.groupBy(_._1.takeWhile(_ != '.')).toSeq.sortBy(_._1).map {
      case (g, kvs) => g -> Out.metrics(kvs)
    }: _*)
}
