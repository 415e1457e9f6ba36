package graft.decode

import graft.model._
import graft.tag.MentionTagger
import graft.text.{Realigner, Tags, Vocab, WindowEncoder}

/** The one detect kernel — encode → batched tag → re-glue → re-align —
  * plus BIO→mention decode. The fused detect stage, the GT eval path and
  * the `/ner` server all call [[detect]], as the reference's batch
  * predictions and its `/ner` routes all call
  * `NERPredictor.classify_text` (webapp/app.py:61-97).
  *
  * The kernel runs inside one task (no shuffle): a sentence's windows are
  * encoded, tagged and re-glued in the same call — the Spark expression
  * of the reference's "keep features and predictions zipped in one
  * process" design (webapp/app.py:76-87, SURVEY.md §2.4 J5). The encoder
  * and realigner depend only on the built-in vocabulary and
  * [[maxSeqLen]], so each JVM builds them once here; only the tagger is
  * the caller's.
  */
object Decode {

  /** Window length in wordpieces, [CLS] and [SEP] included. */
  val maxSeqLen: Int = 128
  /** Windows per tagger call (webapp/config.json:2). */
  private val tagBatchSize = 256

  private val encoder =
    new WindowEncoder(Vocab.default, Vocab.tokenToId, Tags.labelMap, maxSeqLen)
  private val realigner = new Realigner(Vocab.default)

  /** One sentence through the kernel: the glued wordpiece tokens and
    * their raw predictions (specials stripped), and one tag per word.
    */
  final case class Detected(tokens: Array[String], preds: Array[String],
                            tags: Array[String])

  /** Detect a batch of sentences, one [[Detected]] per sentence in input
    * order. Windows are tagged ACROSS sentences, [[tagBatchSize]] per
    * tagger call; the sentences' own tags become the windows' labelIds.
    * `cache` is an optional task-local word→pieces memo.
    */
  def detect(sents: scala.collection.Seq[Sentence], tagger: MentionTagger,
             cache: java.util.HashMap[String, Array[String]] = null): Array[Detected] = {
    val encoded = sents.iterator.map(s =>
      (s.words, encoder.encodeWithCounts(s.guid, s.words, s.tags, cache))).toArray
    // tagBatch preserves order, so tagged windows zip back to their
    // sentences positionally — no keyed map
    val tagged = encoded.iterator.flatMap(_._2._1).grouped(tagBatchSize)
      .flatMap(tagger.tagBatch).toArray
    var cursor = 0
    encoded.map { case (words, (wins, counts)) =>
      val tws = tagged.slice(cursor, cursor + wins.length)
      cursor += wins.length
      // windows of one sentence were emitted in winIdx order
      val (toks, preds) = realigner.reglue(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(tws.map(w => (w.tokens, w.preds))))
      Detected(toks, preds, realigner.realignWithCounts(words, counts, preds).map(_._2))
    }
  }

  /** Word-level tags → mentions. guid format: doc_id/spanOffset/sentIdx. */
  def mentionsOf(guid: String, words: Array[String], tags: Array[String]): Seq[Mention] = {
    val parts = guid.split('/')
    val docId = parts(0); val off = parts(1).toInt; val sidx = parts(2).toInt
    Tags.bioToSpans(tags).toSeq.map { case (a, b, typ) =>
      Mention(docId, off, sidx, a, b, words.slice(a, b).mkString(" "), typ)
    }
  }
}
