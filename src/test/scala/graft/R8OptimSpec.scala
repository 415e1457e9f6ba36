package graft

import org.scalatest.funsuite.AnyFunSuite

/** Focused tests for the round-8 optimization internals: the gated
  * input fan-out, the single-stream triple assembly (media + linked
  * endpoints riding the doc-keyed grouping), and the metadata-only
  * store min queries.
  */
class R8OptimSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import graft.kg.Triples
  import graft.kg.Triples.{DocUnit, SlimEndpoint, SlimMedia, SlimMention}

  test("Par.fanOut: narrow input repartitioned to parallelism, wide input untouched") {
    import spark.implicits._
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val fanned = graft.ops.Par.fanOut(narrow)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val wide = spark.range(0, 100, 1,
      spark.sparkContext.defaultParallelism + 2).toDF("id")
    assert(graft.ops.Par.fanOut(wide) eq wide) // identity, no new plan
    // results unchanged
    assert(fanned.as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  test("Par.fanIn: size-gated coalesce of an over-partitioned checkpoint; identity otherwise") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    // tiny bytes spread over p*8 checkpointed partitions → coalesce to p
    val many = spark.range(0, 1000, 1, p * 8).toDF("id").localCheckpoint()
    val in = graft.ops.Par.fanIn(many)
    assert(in.rdd.getNumPartitions == p)
    assert(in.as[Long].collect().sorted.toSeq == (0L until 1000L))
    // at/below parallelism: identity (no new plan)
    val small = spark.range(0, 100, 1, p).toDF("id").localCheckpoint()
    assert(graft.ops.Par.fanIn(small) eq small)
    // not a materialized cache (nothing to size) → identity
    val plain = spark.range(0, 100, 1, p * 8).toDF("id")
    assert(graft.ops.Par.fanIn(plain) eq plain)
  }

  test("single-stream buildUnits == cogroup buildUnits (mentions+media), endpoints pair per doc") {
    import spark.implicits._
    val ms = Seq(
      DocUnit("d1", SlimMention(0, 0, "E1", 0.9), null),
      DocUnit("d1", SlimMention(2, 0, "E2", 0.8), null),
      DocUnit("d2", SlimMention(0, 1, "E1", 0.7), null))
    val mediaTuples = Seq(("d1", 1, "m://x"), ("d2", 9, "m://far"))
    // legacy: separate media input
    val legacy = Triples.buildUnits(spark, spark.createDataset(ms),
      spark.createDataset(mediaTuples), buckets = 8).collect().toSet
    // r8: media rides the units stream
    val units = ms ++ mediaTuples.map { case (d, off, ref) =>
      DocUnit(d, null, null, SlimMedia(off, ref)) }
    val single = Triples.buildUnits(spark, spark.createDataset(units),
      buckets = 8).collect().toSet
    assert(single == legacy)

    // endpoint pairing: complete pair links; missing endpoint drops;
    // duplicate same-role candidates merge by max entity id
    val rk = "visited\u0001a\u0001PER\u0001b\u0001LOC"
    val eps = Seq(
      DocUnit("d3", null, null, null, SlimEndpoint(0, 0, "s", rk, "PER_1#0")),
      DocUnit("d3", null, null, null, SlimEndpoint(0, 0, "s", rk, "PER_0#0")),
      DocUnit("d3", null, null, null, SlimEndpoint(0, 0, "o", rk, "LOC_2#0")),
      // second candidate missing its object endpoint → dropped
      DocUnit("d3", null, null, null,
        SlimEndpoint(1, 0, "s", "met\u0001x\u0001PER\u0001y\u0001PER", "PER_9#0")))
    val rels = Triples.buildUnits(spark, spark.createDataset(eps), 8)
      .collect().filter(_.pred == "visited")
    assert(rels.length == 1)
    assert(rels.head.subj == "PER_1#0" && rels.head.obj == "LOC_2#0")
    assert(Triples.buildUnits(spark, spark.createDataset(eps), 8)
      .collect().count(_.pred == "met") == 0)
  }

  test("buildUnits: pinned doc_id repartition reused by the grouping — one exchange, AQE-proof count") {
    import spark.implicits._
    val units = (1 to 50).map(i => DocUnit(s"d$i", SlimMention(0, 0, s"E$i", 1.0), null))
    val df = Triples.buildUnits(spark, spark.createDataset(units), buckets = 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // hash(doc_id) from the pinned repartition satisfies the grouping's
    // distribution: exactly ONE exchange, no second one for the groupBy
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly 1 exchange:\n$p")
    // the pin keeps the pre-AQE count — byte-based coalescing must NOT
    // shrink the CPU-heavy triple-assembly stage (tiny input bytes here
    // would otherwise collapse it to one partition)
    val want = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    assert(df.rdd.getNumPartitions == want,
      s"pinned exchange coalesced: ${df.rdd.getNumPartitions} != $want")
  }

  test("ShinglesNExpr == the HOF column form on edge inputs (byte-identical arrays)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "a b c d e", "one two three", "two words", "", " ", "   ",
      "a  b c", "tab\there space mix", "ünï çödé wörds here",
      "x " * 200 + "x", // 201 words
      null.asInstanceOf[String])
    val df = texts.toDF("text")
    def hof(text: org.apache.spark.sql.Column, n: Int) = {
      val w = split(text, " ")
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    for (n <- Seq(2, 3, 5)) {
      val a = df.select(graft.ops.TextOps.shinglesN(col("text"), n)).collect()
        .map(_.getSeq[String](0))
      val b = df.select(hof(col("text"), n)).collect().map(_.getSeq[String](0))
      assert(a.toSeq == b.toSeq, s"n=$n mismatch")
    }
  }

  test("minSubject/minObject: manifest metadata answer equals the scan answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r8_minsubj").toString
    val docs = graft.gen.CorpusGen.docs(spark, 60, parts = 4)
    graft.store.LineageStore.runResumable(spark, dir, "triples", docs,
      ds => graft.pipeline.KgPipeline.run(spark, ds,
        graft.gen.CorpusGen.aliases(spark),
        cfg = graft.pipeline.KgPipeline.Config(buckets = 16)),
      buckets = 16, "r8min")
    // BEFORE compaction there is no manifest: must fall back to the scan
    val scanMin = graft.store.LineageStore.readTriples(spark, dir)
      .toDF().agg(org.apache.spark.sql.functions.min("subj")).head.getString(0)
    assert(graft.store.LineageStore.minSubject(spark, dir).contains(scanMin))
    // after compaction the manifest answers without opening data files
    graft.store.LineageStore.compactTriples(spark, dir,
      rowGroupBytes = Some(16L * 1024), maxRecordsPerFile = Some(64L))
    graft.store.LineageStore.buildObjIndex(spark, dir,
      rowGroupBytes = Some(16L * 1024), maxRecordsPerFile = Some(64L))
    assert(graft.store.LineageStore.minSubject(spark, dir).contains(scanMin))
    val scanMinObj = graft.store.LineageStore.readTriples(spark, dir)
      .toDF().agg(org.apache.spark.sql.functions.min("obj")).head.getString(0)
    assert(graft.store.LineageStore.minObject(spark, dir).contains(scanMinObj))
  }
}
