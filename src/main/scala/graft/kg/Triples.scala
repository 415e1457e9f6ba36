package graft.kg

import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}

/** (subj, pred, obj) triple materialization.
  *
  * Three triple families (north rule + FIXTURES.md §6):
  *   - (doc, mentions, entity)     one per distinct (doc, canonical entity)
  *   - (a, co_occurs_with, b)      per unordered entity pair within a doc
  *   - (entity, depicted_in, ref)  entity in a text span ADJACENT to a
  *                                 media span of the same doc
  *
  * Shuffle budget: one groupByKey on doc_id covers the per-doc
  * distinct, the pair expansion (entity sets per doc are tiny), the
  * media adjacency AND the relation-endpoint re-pairing — all of them
  * doc-local, with media and endpoints riding the same units stream.
  * Output is bucketed by hash(doc_id) for stable lineage partition ids.
  */
object Triples {

  /** Deterministic bucket (stable across JVMs — String.hashCode is
    * specified by the JLS; never partition/task dependent).
    */
  def bucketOf(docId: String, buckets: Int): Int =
    (docId.hashCode & Int.MaxValue) % buckets

  /** Shuffle-slim mention projection: only what triple assembly needs
    * (the surface/type columns would double the exchange payload).
    */
  case class SlimMention(span_offset: Int, sentence_idx: Int,
                         entity_id: String, conf: Double)

  /** Canonically-linked relation, slim for the shuffle. */
  case class SlimRelation(span_offset: Int, sentence_idx: Int,
                          subj: String, rel: String, obj: String)

  /** A doc's media span, slim for the shuffle: media rides the units
    * stream off the single detect pass.
    */
  case class SlimMedia(span_offset: Int, media_ref: String)

  /** One LINKED relation endpoint (role "s" or "o"), slim for the
    * shuffle — re-paired with its partner INSIDE the per-doc group
    * ([[pairEndpoints]]): the pairing key (span, sentence, rel_key) is
    * doc-local, so carrying endpoints through the doc-keyed grouping
    * replaces a corpus-wide re-pairing shuffle (r8).
    */
  case class SlimEndpoint(span_offset: Int, sentence_idx: Int,
                          role: String, rel_key: String, entity_id: String)

  /** One per-doc unit for the grouping: exactly one of m / r / md / ep
    * non-null.
    */
  case class DocUnit(doc_id: String, m: SlimMention, r: SlimRelation,
                     md: SlimMedia = null, ep: SlimEndpoint = null)

  /** Spark's StringType max = UTF8 binary order; Java String max is
    * UTF-16 code-unit order — they disagree on supplementary-plane vs
    * U+E000—U+FFFF mixes, so the in-group merge compares UTF-8 bytes to
    * replay the previous max(when(role…)) aggregate bit-for-bit.
    */
  private def maxUtf8(a: String, b: String): String =
    if (java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) >= 0) a else b

  /** Re-pair linked endpoints within one doc: per (span, sentence,
    * rel_key), subj = max entity among role-"s" rows, obj = max among
    * role-"o" (exactly the old corpus-wide groupBy + max(when…)
    * aggregate); a candidate missing either endpoint is dropped (its
    * endpoint failed the inner link join). rel = first field of the
    * packed rel_key.
    */
  private def pairEndpoints(eps: Seq[SlimEndpoint]): Seq[SlimRelation] =
    eps.groupBy(e => (e.span_offset, e.sentence_idx, e.rel_key)).toSeq
      .flatMap { case ((so, si, rk), es) =>
        val subj = es.filter(_.role == "s").map(_.entity_id)
          .reduceOption(maxUtf8)
        val obj = es.filter(_.role == "o").map(_.entity_id)
          .reduceOption(maxUtf8)
        for (s <- subj; o <- obj)
          yield SlimRelation(so, si, s, rk.split('\u0001')(0), o)
      }

  /** All triples of a document, computed from its canonically-linked
    * mentions and media adjacency rows. Pure per-doc function → used
    * inside one grouped stage.
    */
  def triplesOfDoc(docId: String, buckets: Int,
                   ms: Seq[SlimMention],
                   media: Seq[(Int, String)],
                   rels: Seq[SlimRelation] = Seq.empty): Seq[Triple] = {
    val b = bucketOf(docId, buckets)
    // mentions: distinct entity, first occurrence as provenance, max conf
    val mentionTriples = ms.groupBy(_.entity_id).toSeq.map { case (eid, occ) =>
      val first = occ.minBy(m => (m.span_offset, m.sentence_idx))
      Triple(docId, "mentions", eid, docId, b, occ.map(_.conf).max,
        first.span_offset, first.sentence_idx)
    }
    // co-occurrence: unordered pairs of distinct entities
    val ents = ms.map(_.entity_id).distinct.sorted
    val coTriples = for {
      i <- ents.indices; j <- (i + 1) until ents.size
    } yield Triple(ents(i), "co_occurs_with", ents(j), docId, b, 1.0, -1, -1)
    // media adjacency: entity in span at media offset ± 1
    val byOffset = ms.groupBy(_.span_offset)
    val mediaTriples = media.flatMap { case (off, ref) =>
      val adj = byOffset.getOrElse(off - 1, Seq.empty) ++
                byOffset.getOrElse(off + 1, Seq.empty)
      adj.map(_.entity_id).distinct.map { eid =>
        Triple(eid, "depicted_in", ref, docId, b, 1.0, off, -1)
      }
    }
    // typed verb relations: distinct (subj, rel, obj), first occurrence
    // as provenance
    val relTriples = rels.groupBy(r => (r.subj, r.rel, r.obj)).toSeq.map {
      case ((s, r, o), occ) =>
        val first = occ.minBy(x => (x.span_offset, x.sentence_idx))
        Triple(s, r, o, docId, b, 1.0, first.span_offset, first.sentence_idx)
    }
    (mentionTriples ++ coTriples ++ mediaTriples ++ relTriples)
      .sortBy(t => (t.pred, t.subj, t.obj))
  }

  /** Assemble triples from ONE grouped input: mentions, relations
    * (pre-paired OR as raw linked endpoints) AND media. Endpoints re-pair
    * and media adjacency resolves inside the per-doc group, so neither
    * needs a second shuffle input.
    *
    * Grouping is `groupBy(col).as[K, T]`, NOT `groupByKey(closure)`:
    * the closure form plans an AppendColumns pass that deserializes
    * and re-serializes EVERY unit row on the map side just to extract
    * a key that already exists as a column; the column form feeds the
    * exchange straight from codegen output (same key, same hash
    * partitioning, same groups).
    */
  def buildUnits(spark: SparkSession, units: Dataset[DocUnit],
                 buckets: Int): Dataset[Triple] = {
    import spark.implicits._
    // pinned doc_id partitioning (explicit numPartitions — AQE leaves
    // user-numbered repartitions alone, the q108 lesson applied to the
    // triple-assembly exchange): the grouped stage's INPUT is a slim
    // unit projection (~15 MB at bench scale, AQE-coalesced to 10
    // partitions) but its OUTPUT is the per-doc triple expansion —
    // co-occurrence pairs are quadratic in a doc's entity set — so
    // byte-based coalescing serializes CPU-heavy assembly onto a
    // fraction of the cores. The pin keeps the SAME pre-AQE partition
    // count the groupBy exchange would get (shuffle.partitions,
    // floored by the session parallelism) and hash(doc_id) satisfies
    // the grouping's distribution, so no second exchange appears
    // (plan-asserted in R8OptimSpec).
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    units.repartition(parts, org.apache.spark.sql.functions.col("doc_id"))
      .groupBy(org.apache.spark.sql.functions.col("doc_id"))
      .as[String, DocUnit]
      .flatMapGroups { (docId, us) =>
        val all = us.toSeq
        triplesOfDoc(docId, buckets,
          all.filter(_.m != null).map(_.m),
          all.filter(_.md != null).map(u => (u.md.span_offset, u.md.media_ref)),
          all.filter(_.r != null).map(_.r) ++
            pairEndpoints(all.filter(_.ep != null).map(_.ep)))
      }
  }
}
