package graft

import graft.gen.CorpusGen
import graft.kg.Linker
import org.scalatest.funsuite.AnyFunSuite

/** Context-aware linking (co-mention anchors): the planted flip cases,
  * the type-match dominance over context, and exact parity with the
  * prior-only salted path when no context signal exists.
  */
class LinkerCtxSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import org.apache.spark.sql.functions._

  private def mentionsDf(rows: Seq[(String, Int, Int, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "span_offset", "sentence_idx", "surface_norm",
      "entity_type")
  }

  test("co-mention anchor flips the ambiguous winner; absent context = prior-only") {
    val neu = CorpusGen.normSurface("Neustadt")
    val falk = CorpusGen.normSurface("Falkenburg")
    val adler = CorpusGen.normSurface("Adlerburg")
    val m = mentionsDf(Seq(
      ("d_none", 0, 0, neu, "LOC"),                 // no anchor -> A (prior)
      ("d_b", 0, 0, neu, "LOC"), ("d_b", 0, 1, falk, "LOC"),   // B anchor -> FLIP to B
      ("d_a", 0, 0, neu, "LOC"), ("d_a", 0, 1, adler, "LOC"),  // A anchor -> A
      ("d_both", 0, 0, neu, "LOC"),                 // both anchors -> tie on
      ("d_both", 0, 1, falk, "LOC"),                // ctx, prior decides -> A
      ("d_both", 0, 2, adler, "LOC")))
    val out = Linker.linkContextual(spark, m, CorpusGen.ctxAliases(spark))
      .collect().map(r => (r.getString(0), r.getString(3)) ->
        (r.getString(5), r.getLong(7))).toMap
    assert(out(("d_none", neu)) == ("LOCX_A#0", 0L))
    assert(out(("d_b", neu)) == ("LOCX_B#0", 1L)) // context FLIPPED it
    assert(out(("d_a", neu)) == ("LOCX_A#0", 1L))
    assert(out(("d_both", neu)) == ("LOCX_A#0", 1L))
    // anchors themselves link to themselves with ctx_hit = 1
    assert(out(("d_b", falk)) == ("LOCX_B#0", 1L))
  }

  test("type match outranks context: anchored ORG cannot steal a LOC-typed mention") {
    val fr = CorpusGen.normSurface("Franken")
    val fw = CorpusGen.normSurface("Franken Werke")
    val m = mentionsDf(Seq(
      ("d1", 0, 0, fr, "LOC"), ("d1", 0, 1, fw, "ORG"), // ORGX_F anchored
      ("d2", 0, 0, fr, "ORG")))                          // ORG-typed mention
    val out = Linker.linkContextual(spark, m, CorpusGen.ctxAliases(spark))
      .collect().map(r => (r.getString(0), r.getString(3)) -> r.getString(5))
      .toMap
    assert(out(("d1", fr)) == "LOCX_F#0") // type match wins over anchor+prior
    assert(out(("d2", fr)) == "ORGX_F#0")
  }

  test("parity with the prior-only salted path when no surface is ambiguous") {
    import spark.implicits._
    val aliases = CorpusGen.aliases(spark)
    val m = CorpusGen.goldMentions(spark, 300, parts = 8)
      .map(g => (g.doc_id, g.span_offset, g.sentence_idx,
        CorpusGen.normSurface(g.surface), g.entity_type))
      .toDF("doc_id", "span_offset", "sentence_idx", "surface_norm",
        "entity_type")
      .distinct()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "span_offset", "sentence_idx", "entity_id", "conf")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getDouble(4))).toSet
    val ctx = keyed(Linker.linkContextual(spark, m, aliases))
    val prior = keyed(Linker.linkSaltedCarry(spark, m, aliases))
    assert(ctx == prior)
    assert(ctx.nonEmpty)
  }
}
