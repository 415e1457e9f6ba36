package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps.hexInt

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and tokenization: repetition-based quality signals
  * (the Gopher/C4 family of filters, Rae et al. 2021 §A1.1 — public),
  * deterministic downsampling of over-represented sources to a token
  * budget, and benchmark decontamination (n-gram overlap screening,
  * GPT-3 appendix C style). All randomness is md5-derived, so every
  * operator replays bit-identically in the DuckDB oracles.
  */
object Filters {

  /** Per-document repetition signals in ONE typed pass (zero shuffle,
    * zero fan-out — the DuckDB twin explodes words and bigrams; this
    * kernel keeps per-doc hash maps, bounded by the doc's vocabulary):
    *   - dup_word_ratio: 1 − |distinct words| / |words|
    *   - top_bigram_ratio: occurrences of the most frequent bigram /
    *     (|words| − 1)
    *   - max_run: longest run of consecutive identical words.
    * High values of any signal mark degenerate machine text for removal.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // fan-out REVERTED in the r8 second pass: the per-row kernel is
    // light (0.22 s single-task in the r7 driver's contended window),
    // so the repartition premium never pays; identity at scale anyway.
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val ws = text.split(" ", -1)
          val nw = ws.length
          val distinct = new java.util.HashSet[String]()
          val bigrams = new java.util.HashMap[String, Int]()
          var maxRun = 1
          var run = 1
          var topBigram = 0
          var i = 0
          while (i < nw) {
            distinct.add(ws(i))
            if (i > 0) {
              if (ws(i) == ws(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
              else run = 1
              val b = ws(i - 1) + " " + ws(i)
              val c = bigrams.merge(b, 1, Integer.sum)
              if (c > topBigram) topBigram = c
            }
            i += 1
          }
          val dupRatio = AnnKernels.round6(1.0 - distinct.size.toDouble / nw)
          val topRatio =
            if (nw < 2) 0.0
            else AnnKernels.round6(topBigram.toDouble / (nw - 1))
          (id, nw.toLong, distinct.size.toLong, dupRatio, topRatio, maxRun.toLong)
        }
      }
      .toDF("doc_id", "n_words", "n_distinct", "dup_word_ratio",
        "top_bigram_ratio", "max_run")
  }

  /** Downsample each source to ~`budgetTokens` whitespace tokens with a
    * deterministic md5 Bernoulli draw: keep_ppm = min(10^6,
    * budget·10^6 div total_tokens) — integer division, so both engines
    * agree exactly — and doc survives iff h60(doc_id‖"_samp") mod 10^6 <
    * keep_ppm. The per-source totals are one aggregation; the filter is
    * a broadcast join + pure column predicate — the corpus is scanned
    * once and never shuffled. Returns the per-source sampling report.
    */
  def sampleToBudget(docs: DataFrame, budgetTokens: Long = 5000): DataFrame = {
    val toks = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val totals = toks.groupBy("source")
      .agg(sum("n_tokens").as("total_tokens"))
      .withColumn("keep_ppm",
        // clamped to >= 1 ppm: for a source whose total exceeds 10^6 ×
        // budget the floored ratio is 0 and the source would be DELETED
        // outright instead of downsampled; 1 ppm is the documented
        // resolution floor (keeps ~total/10^6 tokens, the closest this
        // quantization can get to the budget)
        greatest(lit(1L), least(lit(1000000L),
          expr(s"CAST(${budgetTokens * 1000000L} AS BIGINT) div total_tokens"))))
    val kept = toks.join(broadcast(totals), "source")
      .where(pmod(hexInt(concat(col("doc_id"), lit("_samp"))), lit(1000000L))
        < col("keep_ppm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum("n_tokens").as("tokens_kept"))
    totals.join(kept, Seq("source"), "left")
      .select(col("source"), col("total_tokens"), col("keep_ppm"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }

  /** Benchmark decontamination: count, per corpus doc, the distinct word
    * `n`-grams it shares with a benchmark set (docs with id <
    * `benchMaxId` stand in for the held-out benchmark). The benchmark
    * gram set is dictionary-sized and broadcast; corpus grams fan out
    * only into an immediately-joined stream (never shuffled on the gram
    * key). One row per NON-benchmark doc, n_hits = 0 when clean.
    */
  def contamination(docs: DataFrame, benchMaxId: Long = 20, n: Int = 8): DataFrame = {
    val grams = array_distinct(TextOps.shinglesN(col("text"), n))
    val docText = docs.select(col("doc_id"), col("text"))
    val bench = docText.where(col("doc_id") < benchMaxId)
      .select(explode(grams).as("gram")).distinct()
    val corpus = docText.where(col("doc_id") >= benchMaxId)
    val hits = corpus.select(col("doc_id"), explode(grams).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Deterministic train/validation/test split assignment — the last
    * step of every training-data pipeline. Each row's md5-derived draw
    * (mod 10^6, a fixed uniform ppm) falls into integer cumulative
    * buckets of `ppm` (must sum to 10^6): same id → same split on every
    * engine, every run, every partitioning; adding rows never reshuffles
    * existing assignments (the property a growing corpus needs — a
    * row_number split would reassign everything per ingest). Pure
    * per-row column arithmetic: zero shuffle, codegen'd.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  ppm: Seq[(String, Long)] =
                    Seq("train" -> 800000L, "valid" -> 100000L,
                      "test" -> 100000L)): DataFrame = {
    require(ppm.map(_._2).sum == 1000000L, "split ppm must sum to 10^6")
    val draw = hexInt(concat(col(idCol).cast("string"),
      lit("_split"))) % 1000000L
    val cum = ppm.scanLeft(0L)(_ + _._2).tail
    val assign = ppm.zip(cum).foldRight(lit(ppm.last._1): Column) {
      case (((name, _), hi), els) => when(draw < hi, name).otherwise(els)
    }
    df.withColumn("split", assign)
  }

  /** PII detection + redaction — the scrubbing pass every published
    * training corpus runs (emails, international phone numbers): plant a
    * deterministic contact line on an md5-selected ~30% of docs (both
    * engines synthesize the identical corpus — the q71 planted-signal
    * recipe), then count and redact with ONE regexp pass per class.
    * Patterns are RE2-safe (no lookaround/backrefs) so Java and DuckDB
    * evaluate them identically; the redacted text is emitted as its md5
    * (compact, and a hash match proves byte-identical redaction).
    */
  /** RE2-safe PII patterns (no lookaround/backrefs — Java and DuckDB
    * evaluate them identically); shared by [[piiRedact]] and
    * [[curationFunnel]].
    */
  private[ops] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val phoneRe = "\\+[0-9]{7,14}"

  def piiRedact(docs: DataFrame): DataFrame = {
    val seeded = docs.select(col("doc_id"),
      when(pmod(hexInt(concat(col("doc_id").cast("string"), lit("_pii"))),
        lit(100)) < 30,
        concat(col("text"), lit(" kontakt nutzer"),
          pmod(col("doc_id"), lit(97)), lit("@beispiel.de tel +4930"),
          pmod(col("doc_id"), lit(100000)) + 1000000))
        .otherwise(col("text")).as("text"))
    seeded.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("redacted_md5"))
  }

  /** DSIR-style data selection via hashed-n-gram importance weights
    * (Xie et al. 2023, "Data selection for language models via
    * importance resampling" — public algorithm family): token features
    * hash into `nBuckets` buckets, a target bag-of-buckets distribution
    * p̂ is fit on the `isTarget` docs and a raw distribution q̂ on the
    * whole corpus, and each doc scores its importance log-ratio
    * Σ_tokens [log₂ p̂(bucket) − log₂ q̂(bucket)]; the `topDocs` best
    * (score desc, doc_id asc) are the selected training subset — docs
    * RESEMBLING the target distribution rank high whether or not they
    * were in the target set, which is the point of importance
    * resampling. Deterministic top-k stands in for DSIR's gumbel
    * resampling step so both engines agree exactly.
    *
    * Everything is FIXED-POINT INTEGER (the BM25/PageRank micro-unit
    * discipline): bucket = h60(word) mod nBuckets, counts get +1
    * smoothing, and log₂ is [[VocabOps.bm25]]'s linear-mantissa
    * log2_fp16 (exact at powers of two, ≤ 0.086 bits between them,
    * replayable via `bin`/shift in any SQL engine). log₂ p̂ − log₂ q̂
    * expands to [lg(tgt_b+1) − lg(T+1)] − [lg(raw_b+1) − lg(R+1)], all
    * Long-safe to ~10¹² tokens (x·2¹⁶ < 2⁶³).
    *
    * Scale shape: ONE token-keyed aggregation with map-side combine
    * (each partition emits ≤ nBuckets rows, so the 64-key shuffle moves
    * O(partitions·nBuckets), not O(tokens)); the weight table is an
    * O(nBuckets) broadcast; scoring is one doc-keyed aggregation; the
    * top-k is TakeOrderedAndProject, never a global sort.
    */
  def dsirSelect(docs: DataFrame, isTarget: Column, nBuckets: Int = 64,
                 topDocs: Int = 50): DataFrame = {
    // r8 second pass, measured BOTH ways and kept the two-pass form:
    // the token kernel has two consumers (distribution fit + scoring
    // join) whose pruning yields different exchanges, so it runs twice
    // — but each pass is map-side-combined straight into a tiny
    // exchange, and a shared doc×bucket pre-aggregate + checkpoint (the
    // §2.3 alternative) measured 2× SLOWER locally (1.17 vs ~0.55 s)
    // while shuffling/caching O(docs·nBuckets) ≈ the corpus re-scan it
    // saves. Two streaming passes over a pruned scan is also DSIR's own
    // production shape. The input fan-out (r8 first pass) was REVERTED:
    // this kernel is light (≤ 0.55 s single-task even in the r7
    // driver's contended window), so the repartition premium never pays
    // — the fan-out stays on the heavy shingle/minhash kernels only.
    val toks = docs.select(col("doc_id"), isTarget.as("is_tgt"),
        col("text"))
      .select(col("doc_id"), col("is_tgt"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"), col("is_tgt"),
        pmod(hexInt(col("w")), lit(nBuckets.toLong)).as("bucket"))
    val bc = toks.groupBy("bucket").agg(
        count(lit(1)).as("raw_b"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgt_b"))
      // bc is nBuckets rows but had TWO consumers (totals + weight
      // table), each re-running the full token kernel below it; the
      // lazy cut makes the distribution fit exactly one corpus pass
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val tot = bc.agg(sum("raw_b").as("rr"), sum("tgt_b").as("tt"))
    def lg(x: String) =
      s"((length(bin($x)) - 1) * 65536 + (($x) * 65536) div " +
        s"shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 1) - 65536)"
    val wt = bc.crossJoin(broadcast(tot)).selectExpr("bucket",
      s"${lg("tgt_b + 1")} - ${lg("tt + 1")} - ${lg("raw_b + 1")} + " +
        s"${lg("rr + 1")} AS w_fp16")
    toks.join(broadcast(wt), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w_fp16").as("dsir_fp16"))
      .orderBy(desc("dsir_fp16"), asc("doc_id"))
      .limit(topDocs)
  }

  /** CCNet/RedPajama-style curation cascade (Wenzek et al. 2020 /
    * Together 2023 — public pipeline families) with first-fail
    * accounting: every doc gets exactly one row tagged with the FIRST
    * stage that drops it (`lang` → `length` → `repetition` → `pii` →
    * `duplicate`) or `kept` — the per-stage funnel a production corpus
    * pipeline reports, derivable by one group-by over the output.
    * Stage rules reuse the already-oracled components and are
    * integer/string-exact (no float thresholds): language =
    * [[TextOps.langId]]'s argmax vote; length = whitespace token floor;
    * repetition = duplicate-word ppm (10⁶·(n−distinct) > dupPpmMax·n);
    * PII = the shared RE2-safe email/phone patterns fire at all;
    * dedup = exact content-md5 first-wins AMONG SURVIVORS of the
    * earlier stages (a dropped doc never holds a keeper slot — the
    * cascade order a real pipeline applies).
    *
    * Scale shape: one typed pass per row for the first four stages
    * (zero shuffle), then ONE content-hash aggregation over survivors
    * and a co-keyed join back — at 100 TB the cascade drops the bulk
    * of the corpus BEFORE the only shuffle, which is the reason
    * production pipelines order cheap row-local filters first.
    */
  def curationFunnel(docs: DataFrame, lang: String = "en",
                     minWords: Long = 20,
                     dupPpmMax: Long = 700000L): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    // fan-out REVERTED in the r8 second pass (light kernel — 0.23 s
    // single-task in the r7 driver's contended window; premium > win)
    val staged = docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        when(TextOps.langPredCol(col("text")) =!= lang, "lang")
          .when(size(ws).cast("long") < minWords, "length")
          .when((size(ws) - size(array_distinct(ws))).cast("long")
              * 1000000L > lit(dupPpmMax) * size(ws).cast("long"),
            "repetition")
          .when(size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
              + size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
              > 0, "pii")
          .as("early_drop"))
    // (a checkpoint between the two consumers was tried and measured
    // SLOWER — their canonical plans are identical so the fan-out
    // exchange is already shared via ReuseExchange; the cut only added
    // a store + barrier. Contrast dsirSelect, whose consumers prune
    // different columns and genuinely duplicated the kernel.)
    val keepers = staged.where(col("early_drop").isNull)
      .groupBy("content_hash").agg(min("doc_id").as("keep_doc_id"))
    staged.join(keepers, Seq("content_hash"), "left")
      .select(col("doc_id"),
        coalesce(col("early_drop"),
          when(col("doc_id") =!= col("keep_doc_id"), "duplicate")
            .otherwise("kept")).as("drop_stage"))
  }

  /** Streaming twin of [[curationFunnel]]: stages 1-4 are stateless
    * row-local predicates evaluated per micro-batch (zero state); the
    * duplicate stage is the watermark-bounded FIRST-WINS state of
    * [[Dedup.streamingExact]] over survivors' content hashes — bounded
    * state at an unbounded ingest rate, deduping within the watermark
    * window (the guarantee a stream can honestly offer; the batch
    * funnel's dedup is corpus-global instead). Emits the KEPT docs
    * (doc_id, ts, content_hash); drop accounting is a stateless
    * side-aggregation the caller attaches. Input needs an event-time
    * `ts` column.
    */
  def curationFunnelStreaming(docs: DataFrame, lang: String = "en",
                              minWords: Long = 20,
                              dupPpmMax: Long = 700000L,
                              watermark: String = "1 hour"): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    docs
      .where(TextOps.langPredCol(col("text")) === lang)
      .where(size(ws).cast("long") >= minWords)
      .where((size(ws) - size(array_distinct(ws))).cast("long") * 1000000L
        <= lit(dupPpmMax) * size(ws).cast("long"))
      .where(size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        + size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))) === 0)
      .select(col("doc_id"), col("ts"), md5(col("text")).as("content_hash"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }
}
