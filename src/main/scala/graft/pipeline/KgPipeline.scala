package graft.pipeline

import graft.decode.Decode
import graft.gen.CorpusGen
import graft.kg.{ConnectedComponents, Linker, Triples}
import graft.model._
import graft.tag.{GazetteerTagger, MentionTagger}
import graft.text._
import org.apache.spark.sql.{Dataset, SparkSession}

/** End-to-end KG construction pipeline (the flagship "query"):
  *
  *   docs → sentences → encoded windows → batched tagger →
  *   re-glue+re-align → BIO mentions → entity linking →
  *   canonicalization (connected components) → triples
  *
  * Stage structure mirrors the reference's inference lifecycle
  * (webapp/app.py:215-317, SURVEY.md §3.1) but is expressed as ONE lazy
  * Spark plan: sentence extraction, window packing, tagging and decoding
  * all live in a single mapPartitions stage (no shuffle — windows of a
  * sentence are produced and consumed in the same task, batched across
  * sentences like the reference's DataLoader, data_processor.py:360).
  * Linking is a broadcast-map udf (`broadcastLink`, the default) or ONE
  * left-outer join of every detect row — mentions, both relation
  * endpoints, media — against the scored dictionary, whose physical
  * form (broadcast-hash or shuffled) Spark picks from the table's size.
  * Either way the detect output has one consumer, and the one keyed
  * exchange the pipeline itself adds is the per-doc grouping that
  * materializes triples. The chain has no optional stages: [[Config]]
  * picks only the output buckets, the link regime and the
  * scored-dictionary store.
  */
object KgPipeline {

  /** The settings callers choose: output buckets (the lineage and
    * resume grain), the link regime and the scored-dictionary store.
    */
  case class Config(
      buckets: Int = 64,
      broadcastLink: Boolean = true,
      // store root for the snapshot-keyed scored-dictionary table
      // (graft.store.DictStore): when set, the salted path READS the
      // pre-materialized scored dictionary instead of rebuilding its
      // O(dictionary) canon+scoring slice per run — the amortization
      // every micro-batch / repeated job over the same dictionary
      // snapshot relies on at scale
      dictStore: Option[String] = None) {
    // here so the benchmark's window counter encodes as detect does (Makefile:38)
    val maxSeqLen: Int = 128
    // here for the benchmark's salted link replay; `run` itself never salts
    val saltBuckets: Int = 8
  }

  /** Build the standard tagger/encoder pair over the built-in vocab and
    * the generator's gazetteer (normalized surface → type).
    */
  def defaultGazetteer: Map[String, String] = {
    val all = CorpusGen.persons ++ CorpusGen.locations ++ CorpusGen.orgs
    val full = all.map { case (_, ws, typ) => CorpusGen.normSurface(ws.mkString(" ")) -> typ }
    val lastNames = CorpusGen.persons.map { case (_, ws, typ) =>
      CorpusGen.normSurface(ws.last) -> typ
    }
    (full ++ lastNames).toMap
  }

  /** A doc's text spans in offset order, one sentence each; guid =
    * doc/offset/sentIdx. [[fusedDetect]] parses media sentinel guids in
    * the same format, and the sentence index at the end keeps their "/m"
    * suffix from colliding.
    */
  private def textSentences(d: Doc): Array[Sentence] =
    d.spans.filter(_.kind == "text").sortBy(_.offset).zipWithIndex.map {
      case (sp, sidx) =>
        val words = TextCore.whitespaceTokenize(sp.text)
        Sentence(s"${d.doc_id}/${sp.offset}/$sidx", words,
          Array.fill(words.length)("O"))
    }

  /** docs → sentences: one per text span; guid = doc/offset/sentIdx. */
  def sentences(spark: SparkSession, docs: Dataset[Doc]): Dataset[Sentence] = {
    import spark.implicits._
    docs.flatMap(d => textSentences(d))
  }

  /** [[sentences]] PLUS the doc's media spans as sentinel rows (guid =
    * doc/offset/m, words = [media_ref]) — ONE pass over the doc table
    * serves both the detect stage and triple assembly's media
    * adjacency (the fused detect passes sentinels through untouched).
    */
  private def sentencesAndMedia(spark: SparkSession,
                                docs: Dataset[Doc]): Dataset[Sentence] = {
    import spark.implicits._
    docs.flatMap { d =>
      val media = d.spans.filter(_.kind == "media").map { sp =>
        Sentence(s"${d.doc_id}/${sp.offset}/m", Array(sp.media_ref),
          Array.empty[String])
      }
      textSentences(d) ++ media
    }
  }

  /** Raw-text ingestion (the reference's `/ner` entry point,
    * webapp/app.py:215-317): each doc's text spans concatenated into ONE
    * raw untokenized string, then word-tokenized and sentence-split by
    * the deterministic [[SentenceSplitter]] (SoMaJo subset) INSIDE the
    * same flatMap — no shuffle; sentence guids are doc/0/idx because the
    * raw path has a single logical span.
    */
  def rawSentences(spark: SparkSession, docs: Dataset[Doc]): Dataset[Sentence] = {
    import spark.implicits._
    docs.flatMap { d =>
      val raw = d.spans.filter(_.kind == "text").sortBy(_.offset)
        .map(_.text).mkString(" ")
      SentenceSplitter.sentences(raw).zipWithIndex.map { case (words, sidx) =>
        Sentence(s"${d.doc_id}/0/$sidx", words, Array.fill(words.length)("O"))
      }
    }
  }

  /** The fused detect stage: encode → batched tag → decode in ONE
    * mapPartitions (no shuffle). Batches windows ACROSS sentences
    * (64 at a time) so the tagger sees production-sized
    * batches, then re-glues within the task. With `emitRelations` the
    * same pass also extracts typed verb-pattern relation candidates over
    * the decoded mentions (zero extra passes); mention-only consumers
    * skip that work. One code path for both views — they cannot drift.
    */
  private def fusedDetect(spark: SparkSession, sents: Dataset[Sentence],
                          tagger: MentionTagger, cfg: Config,
                          emitRelations: Boolean): Dataset[DetectRow] = {
    import spark.implicits._
    val bcTagger = spark.sparkContext.broadcast(tagger)
    val bcEncoder = spark.sparkContext.broadcast(
      new WindowEncoder(Vocab.default, Vocab.tokenToId, Tags.labelMap, cfg.maxSeqLen))
    val bcRealigner = spark.sparkContext.broadcast(new Realigner(Vocab.default))
    val batchSize = 256 // windows per tagger batch (webapp/config.json:2)
    val sentBatch = 64  // sentences buffered per encode batch
    sents.mapPartitions { it =>
      val enc = bcEncoder.value
      val tag = bcTagger.value
      val real = bcRealigner.value
      // task-local word->pieces memo (Zipfian word frequency)
      val cache = new java.util.HashMap[String, Array[String]]()
      it.grouped(sentBatch).flatMap { group =>
        // media sentinels (guid suffix "/m") ride the same scan but
        // bypass encode/tag/decode entirely — emitted as passthrough
        // media rows for triple assembly (one doc pass total)
        val (mediaSent, realSent) = group.partition(_.guid.endsWith("/m"))
        val mediaRows = mediaSent.map { s =>
          val p = s.guid.split('/')
          DetectRow(null, null, MediaSpanRow(p(0), p(1).toInt, s.words(0)))
        }
        val perSent = realSent.map { s =>
          val (wins, counts) = enc.encodeWithCounts(s.guid, s.words, s.tags, cache)
          (s, wins, counts)
        }
        // tagBatch preserves order, so tagged windows zip back to their
        // sentences positionally — no keyed map, no tuple boxing
        val allWins = perSent.iterator.flatMap(_._2).toSeq
        val tagged = allWins.grouped(batchSize).flatMap(tag.tagBatch).toArray
        var cursor = 0
        mediaRows ++ perSent.flatMap { case (s, wins, counts) =>
          val tws = tagged.slice(cursor, cursor + wins.length)
          cursor += wins.length
          // windows of one sentence were emitted in winIdx order
          val (_, preds) = real.reglue(scala.collection.immutable.ArraySeq
            .unsafeWrapArray(tws.map(w => (w.tokens, w.preds))))
          val wordTags = real.realignWithCounts(s.words, counts, preds).map(_._2)
          val mentions = Decode.mentionsOf(s.guid, s.words, wordTags)
          if (!emitRelations) mentions.map(DetectRow(_, null))
          else {
            val rels = graft.kg.Relations.extract(s.words, mentions).map {
              case (a, rel, b) => RelationCandidate(a.doc_id, a.span_offset,
                a.sentence_idx, a.surface, a.entity_type, rel, b.surface, b.entity_type)
            }
            mentions.map(DetectRow(_, null)) ++ rels.map(DetectRow(null, _))
          }
        }
      }
    }
  }

  /** Fused detect emitting mentions + typed relation candidates. */
  def detectRows(spark: SparkSession, sents: Dataset[Sentence],
                 tagger: MentionTagger, cfg: Config = Config()): Dataset[DetectRow] =
    fusedDetect(spark, sents, tagger, cfg, emitRelations = true)

  /** Mention-only view of the fused stage (driver queries, eval paths) —
    * same code path, relation extraction skipped.
    */
  def detectMentions(spark: SparkSession, sents: Dataset[Sentence],
                     tagger: MentionTagger, cfg: Config = Config()): Dataset[Mention] = {
    import spark.implicits._
    fusedDetect(spark, sents, tagger, cfg, emitRelations = false).map(_.mention)
  }

  /** A prepared dictionary side for [[run]], reused across runs over
    * the same dictionary snapshot. `dictSnapshotId` is the content
    * fingerprint of the alias snapshot this context was prepared FROM;
    * when present, the salted path trusts it instead of
    * re-fingerprinting (zero extra jobs). The
    * caller's contract is the usual warm-singleton one: a context is
    * valid for the dictionary snapshot it was built from — after a
    * dictionary push, prepare a new context (or run ctx-less, which
    * re-fingerprints and picks up the right store entry).
    */
  case class LinkContext(dict: Map[String, Seq[Alias]],
                         canon: Map[String, String],
                         // bloom bitset over the dictionary's surfaces, for
                         // the bloom-pruned Linker joins and link replays;
                         // `run` does not read it
                         bloomBits: Option[Array[Long]] = None,
                         dictSnapshotId: Option[String] = None,
                         // true for contexts built by prepareSaltedContext:
                         // they carry NO driver dictionary, so the broadcast
                         // branch must reject them instead of silently
                         // linking nothing
                         saltedOnly: Boolean = false)

  /** One slim detect row of the salted path: a mention projection
    * (surface_norm + join key + type — the minimum the link join
    * consumes), an UNLINKED relation candidate (`rel` non-null) holding
    * its normalized endpoint surfaces + types, or a media span
    * (`media_ref` non-null). Raw surfaces and word offsets are dropped
    * here; linking and canonicalization of every family happen in the
    * one distributed join downstream — the salted path never touches a
    * driver-resident dictionary.
    */
  case class SaltedRow(doc_id: String, span_offset: Int, sentence_idx: Int,
                       surface_norm: String, entity_type: String,
                       rel: String, subj_norm: String, subj_type: String,
                       obj_norm: String, obj_type: String,
                       media_ref: String = null)

  /** Incremented per [[prepareLinkContext]] call — lets tests assert the
    * salted path never materializes the driver-side dictionary.
    */
  val linkContextCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Dictionary-side preparation: alias lookup map + canonicalization map
    * from connected components over the alias graph. This is O(dictionary)
    * one-time setup, independent of the document corpus — at 10^12 docs it
    * amortizes to zero and is shared across every job over the same
    * dictionary snapshot (the reference's warm-singleton-model pattern,
    * webapp/app.py:126-149).
    */
  def prepareLinkContext(spark: SparkSession, aliases: Dataset[Alias]): LinkContext = {
    linkContextCalls.incrementAndGet()
    val all = aliases.collect().toSeq
    val canonMap = ConnectedComponents.canonicalMap(spark, aliases.toDF())
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dict = all.groupBy(_.surface_norm)
    // bloom bits + dictionary fingerprint for the salted path, built
    // here driver-side once per context — no per-run Spark job (the
    // rows are already collected; the fingerprint is bit-identical to
    // DictStore.fingerprint's distributed form)
    LinkContext(dict, canonMap,
      Some(graft.ops.Bloom.buildBitsLocal(dict.keysIterator)),
      Some(graft.store.DictStore.fingerprintLocal(all)))
  }

  /** The no-broadcast regime's link context: NOTHING dictionary-sized
    * touches the driver — only the FIXED-SIZE bloom bitset (m/64 longs)
    * and the snapshot fingerprint. Ensures the scored dictionary is
    * materialized in `storeRoot` (one O(dictionary) build per snapshot)
    * and derives the bloom bits from its surface column distributed
    * (`run` reads only the fingerprint; the bits serve link replays).
    * This is the once-per-dictionary-snapshot setup every salted run /
    * streaming micro-batch shares — the amortized steady state (the
    * reference's warm-singleton pattern, webapp/app.py:126-149, applied
    * to the dictionary side).
    */
  def prepareSaltedContext(spark: SparkSession, aliases: Dataset[Alias],
                           storeRoot: String): LinkContext = {
    import spark.implicits._
    val snapId = graft.store.DictStore.fingerprint(spark, aliases)
    val scored = graft.store.DictStore.ensureScored(spark, storeRoot,
      snapId, aliases,
      Some(ConnectedComponents.canonicalMap(spark, aliases.toDF())))
    val bits = graft.ops.Bloom.buildBits(
      scored.select(org.apache.spark.sql.functions.col("surface_norm")
        .cast("string")).as[String], 1 << 16, 4)
    LinkContext(Map.empty, Map.empty, Some(bits), Some(snapId),
      saltedOnly = true)
  }

  /** Full run: docs + alias dict → triples. Pass a prepared [[LinkContext]]
    * to reuse dictionary-side setup across runs.
    */
  def run(spark: SparkSession, docs: Dataset[Doc], aliases: Dataset[Alias],
          gazetteer: Map[String, String] = defaultGazetteer,
          cfg: Config = Config(),
          ctx: Option[LinkContext] = None): Dataset[Triple] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, coalesce, col, concat_ws, element_at, explode, lit, struct, udf, when}
    import graft.kg.Triples.{DocUnit, SlimRelation}
    // ONE doc pass: media spans ride the sentence stream as sentinels
    // through detect
    val sents = sentencesAndMedia(spark, docs)
    val units: Dataset[DocUnit] =
      if (cfg.broadcastLink) {
        // broadcast regime: the dictionary fits in memory by premise, so
        // the driver-resident LinkContext is legitimate — prepared lazily
        // HERE so the salted branch never materializes it
        val context = ctx.getOrElse(prepareLinkContext(spark, aliases))
        require(!context.saltedOnly,
          "a salted-regime LinkContext (prepareSaltedContext: no driver " +
            "dictionary) was passed to the broadcast path — it would link " +
            "nothing; use Config(broadcastLink = false) or prepareLinkContext")
        val bcDict = spark.sparkContext.broadcast(context.dict)
        val bcCanon = spark.sparkContext.broadcast(context.canon)
        def linkCanon(surface: String, typ: String): Option[(String, Double)] = {
          val cands = bcDict.value.getOrElse(CorpusGen.normSurface(surface), Seq.empty)
          Linker.bestCandidate(cands, typ).map { a =>
            (bcCanon.value.getOrElse(a.entity_id, a.entity_id), a.prior)
          }
        }
        // single pass: fused detect emits mentions + relations; linking +
        // canonicalization inline via broadcast dictionary.
        // r8 third pass: COLUMNAR unit assembly (the same codegen-path
        // rebuild the salted branch got) — the previous typed flatMap
        // deserialized every DetectRow, constructed a DocUnit and
        // re-encoded it (decode–construct–encode per row over ~1.2M
        // mention rows at bench scale; kgprobe: detect itself is 0.44 s
        // while the full run was 1.95 s — the gap was this boundary plus
        // assembly). Only the dictionary lookup itself stays Scala (it
        // reads the broadcast maps), as ONE small udf over the two
        // surface/type columns; everything around it is when()/struct
        // selects that reach the doc-keyed exchange straight from
        // whole-stage codegen. Marked nondeterministic so the keep
        // filter below is not pushed past the projection and the udf
        // is evaluated ONCE per row (guide §4.4).
        val linkUdf = udf(linkCanon _).asNondeterministic()
        val rows = detectRows(spark, sents, new GazetteerTagger(gazetteer), cfg)
          .toDF()
        val withLc = rows.select(col("mention"), col("relation"), col("media"),
          when(col("mention").isNotNull,
            linkUdf(col("mention.surface"), col("mention.entity_type")))
            .as("lm"),
          when(col("relation").isNotNull,
            linkUdf(col("relation.subj_surface"), col("relation.subj_type")))
            .as("ls"),
          when(col("relation").isNotNull,
            linkUdf(col("relation.obj_surface"), col("relation.obj_type")))
            .as("lo"))
        withLc.where(col("media").isNotNull ||
            (col("mention").isNotNull && col("lm").isNotNull) ||
            (col("relation").isNotNull && col("ls").isNotNull &&
              col("lo").isNotNull))
          .select(
            coalesce(col("mention.doc_id"), col("relation.doc_id"),
              col("media.doc_id")).as("doc_id"),
            when(col("mention").isNotNull,
              struct(col("mention.span_offset").as("span_offset"),
                col("mention.sentence_idx").as("sentence_idx"),
                col("lm._1").as("entity_id"), col("lm._2").as("conf")))
              .as("m"),
            when(col("relation").isNotNull,
              struct(col("relation.span_offset").as("span_offset"),
                col("relation.sentence_idx").as("sentence_idx"),
                col("ls._1").as("subj"), col("relation.rel").as("rel"),
                col("lo._1").as("obj"))).as("r"),
            when(col("media").isNotNull,
              struct(col("media.offset").as("span_offset"),
                col("media.media_ref").as("media_ref"))).as("md"),
            lit(null).cast(org.apache.spark.sql.Encoders
              .product[Triples.SlimEndpoint].schema).as("ep"))
          .as[DocUnit]
      } else {
        // salted path — the "dictionary does NOT fit in memory" regime:
        // NOTHING dictionary-sized ever reaches the driver. The fused
        // detect stage is read ONCE as a slim projection (normalized
        // surfaces + join keys only) that feeds ONE join input: mention
        // rows, both relation endpoints and media rows, through ONE
        // left-outer join whose dictionary side is pre-scored and
        // pre-canonicalized. Media rows carry a null surface, so they
        // pass the join unmatched (a join per union branch would read
        // the detect output once per branch).
        val slim = detectRows(spark, sents, new GazetteerTagger(gazetteer), cfg)
          .map { row =>
            if (row.media != null)
              SaltedRow(row.media.doc_id, row.media.offset, -1, null, null,
                null, null, null, null, null, row.media.media_ref)
            else if (row.mention != null) {
              val m = row.mention
              SaltedRow(m.doc_id, m.span_offset, m.sentence_idx,
                CorpusGen.normSurface(m.surface), m.entity_type,
                null, null, null, null, null)
            } else {
              val r = row.relation
              SaltedRow(r.doc_id, r.span_offset, r.sentence_idx, null, null,
                r.rel, CorpusGen.normSurface(r.subj_surface), r.subj_type,
                CorpusGen.normSurface(r.obj_surface), r.obj_type)
            }
          }
          .toDF()
        // the full candidate tuple packed into ONE carry column: the
        // shuffle row of every MENTION (the overwhelming majority) pays
        // one null slot instead of five. \u0001 cannot occur in a
        // normalized surface (control chars never survive cleaning), so
        // the packing is collision-free.
        // Each field is coalesced to a \\u0002 sentinel first: concat_ws
        // silently DROPS null args (shifting positions), so a future
        // null in any field would otherwise mis-extract `rel` and could
        // collide two distinct candidates — detect guarantees non-null
        // today; the sentinel makes the invariant structural.
        def packed(c: String) = coalesce(col(c), lit("\u0002"))
        val relKey = concat_ws("\u0001", packed("rel"), packed("subj_norm"),
          packed("subj_type"), packed("obj_norm"), packed("obj_type"))
        // one explode over the slim rows: fan-out is 1 (mention, media)
        // or 2 (relation endpoints, each carrying the packed candidate
        // tuple so the pair re-assembles per doc in Triples.buildUnits)
        val noStr = lit(null).cast("string")
        def fld(role: String, surf: org.apache.spark.sql.Column,
                typ: org.apache.spark.sql.Column,
                rk: org.apache.spark.sql.Column) = struct(
          col("doc_id"), col("span_offset"), col("sentence_idx"),
          surf.as("surface_norm"), typ.as("entity_type"),
          lit(role).as("role"), rk.as("rel_key"), col("media_ref"))
        val joinIn = slim
          .select(explode(
            when(col("media_ref").isNotNull,
              array(fld("md", noStr, noStr, noStr)))
            .when(col("rel").isNull,
              array(fld("m", col("surface_norm"), col("entity_type"), noStr)))
            .otherwise(array(
              fld("s", col("subj_norm"), col("subj_type"), relKey),
              fld("o", col("obj_norm"), col("obj_type"), relKey)))).as("u"))
          .select("u.*")
        // keep media rows and every row that found a candidate: for
        // mentions and endpoints that is the inner join's result, so an
        // unlinked endpoint still drops its relation candidate
        val isMedia = col("role") === "md"
        def canon = ConnectedComponents.canonicalMap(spark, aliases.toDF())
        // the scored dictionary: READ from the snapshot-keyed DictStore
        // table (built at most once per dictionary snapshot) or built
        // inline per run (tests / one-shot jobs). No join hint: Spark
        // broadcasts it when it is small and shuffles otherwise, where
        // AQE's skew-join split takes the hot surfaces (left-outer
        // splits the left side)
        val scored = cfg.dictStore match {
          case Some(storeRoot) =>
            val snapId = ctx.flatMap(_.dictSnapshotId)
              .getOrElse(graft.store.DictStore.fingerprint(spark, aliases))
            graft.store.DictStore.ensureScored(spark, storeRoot, snapId,
              aliases, Some(canon))
          case None => Linker.scoredDict(spark, aliases, Some(canon))
        }
        val picked = coalesce(
          element_at(col("by_type"), col("entity_type")), col("any_best"))
        val linked = joinIn.join(scored, Seq("surface_norm"), "left_outer")
          .where(isMedia || col("any_best").isNotNull)
          .select(joinIn.columns.map(col).toIndexedSeq :+
            picked.getField("entity_id").as("entity_id") :+
            picked.getField("prior").as("conf"): _*)
        // COLUMNAR DocUnit construction — `when`/`struct` selects whose
        // field names mirror the case classes, so the rows reach the
        // doc-keyed exchange straight from whole-stage codegen; endpoint
        // units are re-paired INSIDE the per-doc group by
        // [[Triples.buildUnits]] (the re-pairing key is doc-local)
        linked.select(
          col("doc_id"),
          when(col("role") === "m",
            struct(col("span_offset"), col("sentence_idx"),
              col("entity_id"), col("conf"))).as("m"),
          lit(null).cast(org.apache.spark.sql.Encoders
            .product[SlimRelation].schema).as("r"),
          when(isMedia, struct(col("span_offset"), col("media_ref"))).as("md"),
          when(col("role").isin("s", "o"),
            struct(col("span_offset"), col("sentence_idx"), col("role"),
              col("rel_key"), col("entity_id"))).as("ep"))
          .as[DocUnit]
      }
    Triples.buildUnits(spark, units, cfg.buckets)
  }

  /** Per-row span-sequence invariant (BASELINE.json input_hint; the
    * reference's reconstruction asserts, app.py:301-313): the pipeline's
    * view of a document must preserve (kind, text, media_ref, order).
    * Returns the number of VIOLATING docs (0 expected). Checks the
    * sentence+media extraction round trip against the input spans.
    */
  def spanSequenceViolations(spark: SparkSession, docs: Dataset[Doc]): Long = {
    import spark.implicits._
    docs.map { d =>
      val sorted = d.spans.sortBy(_.offset)
      val roundTrip = sorted.map { sp =>
        if (sp.kind == "text")
          Span("text", TextCore.whitespaceTokenize(sp.text).mkString(" "), null, sp.offset)
        else sp
      }
      val ok = roundTrip.zip(sorted).forall { case (a, b) =>
        a.kind == b.kind && a.text == b.text &&
        a.media_ref == b.media_ref && a.offset == b.offset
      }
      if (ok) 0L else 1L
    }.reduce(_ + _)
  }
}
