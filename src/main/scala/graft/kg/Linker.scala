package graft.kg

import graft.model._
import graft.gen.CorpusGen.normSurface
import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity linking: mention surface → entity record.
  *
  * One logical join (SURVEY.md §2.4) in these forms:
  *
  *  - [[linkBroadcast]]: the alias dictionary fits in memory → broadcast
  *    map lookup inside a typed map (a dictionary join, like the
  *    reference's label/vocab lookups, data_processor.py:428). Zero
  *    shuffle; `KgPipeline`'s broadcast path does the same lookup, and
  *    the tests use it as the reference.
  *
  *  - [[scoredDict]] joined plainly: `KgPipeline`'s salted path joins
  *    its mention rows ONCE against the scored dictionary, with no
  *    hint — Spark plans a broadcast-hash join while the scored table is
  *    under the broadcast threshold and a shuffled one past it, where
  *    AQE's skew-join split takes the head-entity skew.
  *
  *  - [[linkSaltedCarry]] (and [[linkSaltedJoin]], its `Mention`-typed
  *    form): the same scored dictionary, joined with hand SALTING of
  *    head-entity skew (Zipfian surfaces mean a handful of keys carry
  *    most mentions): the dictionary rows of head surfaces are
  *    replicated S× with a salt column, the mention side draws
  *    `pmod(hash(doc_id), S)`, and the join key becomes
  *    (surface_norm, salt). Used by query entries and link replays.
  *
  *  - [[linkContextual]]: the co-mention re-ranking of the
  *    `q102_ctx_linking` query.
  *
  * Candidate scoring picks type match, then max prior, then min
  * entity_id: [[bestCandidate]] on the broadcast side, and the
  * dictionary-side `min_by` aggregations of [[scoredDict]] for the
  * plain and salted joins — the corpus is never regrouped to rank
  * candidates. [[linkContextual]] adds its context slot to that order.
  */
object Linker {

  /** Best (entity_id, type, prior) per surface, type-compatible. */
  def bestCandidate(cands: Seq[Alias], typ: String): Option[Alias] = {
    val matching = cands.filter(_.entity_type == typ)
    val pool = if (matching.nonEmpty) matching else cands
    if (pool.isEmpty) None
    else Some(pool.minBy(a => (-a.prior, a.entity_id)))
  }

  def linkBroadcast(spark: SparkSession, mentions: Dataset[Mention],
                    dict: Map[String, Seq[Alias]]): Dataset[LinkedMention] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(dict)
    mentions.flatMap { m =>
      val cands = bc.value.getOrElse(normSurface(m.surface), Seq.empty)
      bestCandidate(cands, m.entity_type).map { a =>
        LinkedMention(m.doc_id, m.span_offset, m.sentence_idx,
          m.surface, m.entity_type, a.entity_id, a.prior)
      }
    }
  }

  /** Empty-skew-head sentinel: keeps the literal array expression
    * well-typed; the NUL escape can never be a normalized surface, so
    * `array_contains` is vacuously false. (Salting is result-invariant
    * either way — the sentinel only keeps routing deterministic.)
    */
  private val NoSkew = "\u0000"

  /** The skew head as a literal array column (tiny — tens of keys). */
  private def skewArray(skew: Seq[String]) =
    if (skew.isEmpty) array(lit(NoSkew)) else array(skew.map(lit): _*)

  /** Mention-side salt: heavy surfaces scatter across `saltBuckets`
    * sub-keys by doc hash; everything else joins unreplicated on salt 0.
    */
  private def mentionSalt(skewArr: org.apache.spark.sql.Column,
                          saltBuckets: Int) =
    when(array_contains(skewArr, col("surface_norm")),
      pmod(hash(col("doc_id")), lit(saltBuckets))).otherwise(lit(0))

  /** Dictionary-side salt explode: rows of heavy surfaces replicated
    * `saltBuckets`x, the rest once on salt 0 — blowup is
    * O(heavy keys x salts), never O(dictionary).
    */
  private def explodeSalts(df: DataFrame,
                           skewArr: org.apache.spark.sql.Column,
                           saltBuckets: Int): DataFrame =
    df.withColumn("salts",
        when(array_contains(skewArr, col("surface_norm")),
          sequence(lit(0), lit(saltBuckets - 1)))
          .otherwise(array(lit(0))))
      .withColumn("salt", explode(col("salts"))).drop("salts")

  /** [[linkSaltedCarry]] over `Mention` rows, for dictionaries beyond
    * broadcast size: the surface is normalized through the native
    * codegen expression [[NormalizeSurfaceExpr]] (the mention side never
    * leaves whole-stage codegen), and the join runs without bloom prune
    * or canonicalization. One row per linked mention occurrence — the
    * ranking is the scored dictionary's, so nothing regroups the
    * mentions after the join.
    */
  def linkSaltedJoin(spark: SparkSession, mentions: Dataset[Mention],
                     aliases: Dataset[Alias], saltBuckets: Int = 8,
                     skewKeys: Option[Seq[String]] = None): Dataset[LinkedMention] = {
    import spark.implicits._
    NormalizeSurface.register(spark)
    val m = mentions.toDF()
      .withColumn("surface_norm", NormalizeSurface(col("surface")))
    linkSaltedCarry(spark, m, aliases, saltBuckets, skewKeys,
        bloomPrune = false, canon = None)
      .select(col("doc_id"), col("span_offset"), col("sentence_idx"),
        col("surface"), col("entity_type"), col("entity_id"), col("conf"))
      .as[LinkedMention]
  }

  /** Incremented per from-scratch [[scoredDict]] build — lets tests (and
    * the streaming micro-batch spec) assert the scored dictionary is
    * REUSED from the store rather than recomputed per run.
    */
  val scoredDictBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** The SCORED DICTIONARY: one row per surface with the best candidate
    * per entity type (`by_type`) plus the type-agnostic fallback
    * (`any_best`) — the dictionary side of the salted link join, fully
    * canonicalized when `canon` (the (entity_id, canonical_id) map from
    * [[ConnectedComponents.canonicalMap]]) is given. This is the
    * expensive O(dictionary) slice of the no-broadcast regime (canon
    * join + two aggregations); it depends ONLY on the dictionary
    * snapshot, never on the corpus, so
    * [[graft.store.DictStore]] materializes it once per snapshot and
    * every run/micro-batch over the same dictionary reads the table
    * instead of rebuilding (the amortization the 100 TB contract
    * assumes). Candidate ordering (type match, max prior, min id) is on
    * the RAW alias id so tie-breaks are identical to the broadcast path.
    */
  def scoredDict(spark: SparkSession, aliases: Dataset[Alias],
                 canon: Option[DataFrame] = None): DataFrame = {
    scoredDictBuilds.incrementAndGet()
    // dictionary-side canonicalization: map each alias's OUTPUT id to its
    // canonical id before scoring (ordering stays on the raw id)
    val aliasC = canon match {
      case Some(c) =>
        aliases.toDF().join(
            c.select(col("entity_id"), col("canonical_id")), Seq("entity_id"),
            "left")
          .withColumn("out_id", coalesce(col("canonical_id"), col("entity_id")))
      case None => aliases.toDF().withColumn("out_id", col("entity_id"))
    }
    // dictionary-side scoring: best candidate per (surface, type) + the
    // any-type fallback, folded into ONE row per surface
    val ord = struct(negate(col("best_t.prior")), col("best_t.raw_id"))
    aliasC
      .groupBy("surface_norm", "entity_type")
      .agg(min_by(
        struct(col("out_id").as("entity_id"), col("prior"),
          col("entity_id").as("raw_id")),
        struct(negate(col("prior")), col("entity_id"))).as("best_t"))
      .groupBy("surface_norm")
      .agg(
        map_from_entries(collect_list(struct(col("entity_type"), col("best_t"))))
          .as("by_type"),
        min_by(col("best_t"), ord).as("any_best"))
  }

  /** Carry-through form of the salted link join: every column of `m`
    * passes through unchanged and gains `entity_id` + `conf` — callers
    * tag provenance columns (e.g. mention vs relation-endpoint role) and
    * re-split after the join. With `canon` (the distributed
    * (entity_id, canonical_id) map from
    * [[ConnectedComponents.canonicalMap]]) the emitted ids are already
    * canonical: the map is folded into the DICTIONARY side before the
    * per-surface best aggregation — an O(dictionary) join, so
    * canonicalization costs ZERO corpus-sized shuffles and the driver
    * never materializes the dictionary or the canon map (the 100 TB
    * contract of the no-broadcast regime). Candidate ordering (type
    * match, max prior, min id) stays on the RAW alias id so tie-breaks
    * are identical to the broadcast path, which also orders raw then
    * canonicalizes the winner.
    */
  def linkSaltedCarry(spark: SparkSession, m: DataFrame,
                      aliases: Dataset[Alias], saltBuckets: Int = 8,
                      skewKeys: Option[Seq[String]] = None,
                      bloomPrune: Boolean = true,
                      bloomBits: Option[Array[Long]] = None,
                      canon: Option[DataFrame] = None,
                      scored: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    // Bloom pre-prune on the DICTIONARY's surface set: the link join is
    // INNER, so a mention whose surface is not in the dictionary cannot
    // survive it — the bloom passes a superset (false positives fall
    // out in the join itself), so output is identical while the OOV
    // mention fraction never reaches the shuffle. Bits come prebuilt
    // from the driver-resident dictionary when a LinkContext is around
    // (zero extra jobs), else from one O(dictionary) aggregation;
    // membership is two md5 expressions per mention row at the scan.
    val mIn =
      if (!bloomPrune) m
      else bloomBits match {
        case Some(bits) =>
          graft.ops.Bloom.pruneWithBits(m, "surface_norm", bits)
        case None =>
          // the scored table (when given) is already one row per surface
          // — cheaper bloom source than a distinct over raw aliases
          val surfaces = scored
            .map(_.select(col("surface_norm").cast("string")))
            .getOrElse(
              aliases.select(col("surface_norm").cast("string")).distinct())
          graft.ops.Bloom.prune(m, "surface_norm", surfaces.as[String])
      }
    val skew = skewKeys.getOrElse(inferSkewKeysNorm(spark, mIn))
    val skewArr = skewArray(skew)
    // the scored dictionary: read the pre-materialized table when the
    // caller has one (store-amortized across runs/micro-batches over the
    // same dictionary snapshot — [[graft.store.DictStore]]), else build
    // it inline from the raw aliases
    val best = scored.getOrElse(scoredDict(spark, aliases, canon))
    // skew-aware salting: heads replicated saltBuckets×, rest on salt 0.
    // The scored dictionary table is MATERIALIZED once (dictionary-sized,
    // cheap): a caller consuming the link output twice would otherwise
    // re-run the whole dict-side chain per consumer — canon join, two
    // aggregations, salt explode (zero ReusedExchange across branches).
    val bestSalted = explodeSalts(best, skewArr, saltBuckets)
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val salted = mIn.withColumn("salt", mentionSalt(skewArr, saltBuckets))
    val picked = coalesce(
      element_at(col("by_type"), col("entity_type")), col("any_best"))
    salted.join(bestSalted, Seq("surface_norm", "salt"), "inner")
      .select(m.columns.map(col).toIndexedSeq :+
        picked.getField("entity_id").as("entity_id") :+
        picked.getField("prior").as("conf"): _*)
  }

  /** CONTEXT-AWARE linking: candidate scoring gains a co-mention
    * feature between type match and prior — a candidate whose
    * (canonical) entity is independently ANCHORED in the same document
    * outranks a higher-prior candidate that is not. Anchors are the
    * entities of UNAMBIGUOUS mentions (surfaces whose dictionary
    * candidates collapse to one canonical entity): the classic
    * document-coherence signal, and exactly the prior-only ordering
    * (type match, max prior, min raw id) whenever the doc has no
    * anchors or no candidate is anchored — parity asserted in
    * LinkerCtxSpec.
    *
    * Scale shape (the 100 TB contract): the candidate table is an
    * O(dictionary) aggregation (one array row per surface, fan-out
    * bounded by candidates-per-surface — dictionary-shaped, never
    * corpus²); the mention side pays ONE surface-keyed join and one
    * doc-keyed window over the already-joined mentions for the anchor
    * set (the joined rows are read once, not once for an anchor
    * aggregation and again for its join-back). Best-candidate selection
    * is a per-row `aggregate` higher-order function over the carried
    * array — no re-shuffle on a wide mention key.
    *
    * `m` carries (doc_id, span_offset, sentence_idx, surface_norm,
    * entity_type); output adds (entity_id, conf, ctx_hit 1/0). A row
    * without a candidate drops (OOV — same semantics as every other
    * link path).
    */
  def linkContextual(spark: SparkSession, m: DataFrame,
                     aliases: Dataset[Alias],
                     canon: Option[DataFrame] = None): DataFrame = {
    val joined = m.join(ctxCandidates(aliases, canon), Seq("surface_norm"))
    // n_ents == 1 ⇒ every candidate row shares one out_id; collect_set
    // skips the nulls of ambiguous rows
    val anchorId = when(col("n_ents") === 1,
      element_at(col("cands"), 1).getField("entity_id"))
    val ctx = joined.withColumn("anchors", collect_set(anchorId)
      .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    // lexicographic candidate key: (type mismatch, context miss,
    // -prior, raw id) — struct comparison gives the total order; the
    // prior-only key is the same struct minus the context slot, so
    // absent context degenerates to it exactly
    def key(c: org.apache.spark.sql.Column) = struct(
      when(c.getField("alias_type") === col("entity_type"), lit(0))
        .otherwise(lit(1)),
      when(array_contains(col("anchors"), c.getField("entity_id")), lit(0))
        .otherwise(lit(1)),
      negate(c.getField("prior")),
      c.getField("raw_id"))
    val picked = ctx.withColumn("best",
      aggregate(col("cands"), element_at(col("cands"), 1),
        (acc, x) => when(key(x) < key(acc), x).otherwise(acc)))
    picked.select(m.columns.map(col).toIndexedSeq :+
      col("best").getField("entity_id").as("entity_id") :+
      col("best").getField("prior").as("conf") :+
      when(array_contains(col("anchors"),
        col("best").getField("entity_id")), lit(1L)).otherwise(lit(0L))
        .as("ctx_hit"): _*)
  }

  /** The dictionary side of [[linkContextual]]: one array row per
    * surface — every candidate (canonicalized `entity_id`, the raw id
    * for tie-breaks, prior, declared type) plus the canonical-entity
    * ambiguity count (n_ents == 1 ⇒ mentions of this surface anchor).
    * O(dictionary).
    */
  private def ctxCandidates(aliases: Dataset[Alias],
                            canon: Option[DataFrame]): DataFrame = {
    val aliasC = canon match {
      case Some(c) =>
        aliases.toDF().join(
            c.select(col("entity_id"), col("canonical_id")), Seq("entity_id"),
            "left")
          .withColumn("out_id", coalesce(col("canonical_id"), col("entity_id")))
      case None => aliases.toDF().withColumn("out_id", col("entity_id"))
    }
    aliasC.groupBy("surface_norm")
      .agg(
        collect_list(struct(
          col("out_id").as("entity_id"), col("prior"),
          col("entity_id").as("raw_id"),
          col("entity_type").as("alias_type"))).as("cands"),
        countDistinct(col("out_id")).as("n_ents"))
  }

  /** Skewed surface keys of a pre-normalized mention projection: the
    * sampled mention-frequency heads. At 100 TB this is a CHEAP SAMPLE +
    * count over the mention stream (never a full corpus-sized
    * aggregation — skew keys are an optimization hint, and a Zipf head
    * survives heavy sampling); the head is tiny (tens of keys) and
    * broadcast as a literal set.
    */
  def inferSkewKeysNorm(spark: SparkSession, m: DataFrame,
                        topK: Int = 20, sampleFraction: Double = 0.01): Seq[String] = {
    val s = if (sampleFraction < 1.0) m.sample(sampleFraction, 42) else m
    s.groupBy("surface_norm").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("surface_norm")).limit(topK)
      .collect().map(_.getString(0)).toSeq
  }
}
