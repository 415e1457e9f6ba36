package perfbench

import graft.gen.CorpusGen
import graft.model.{Alias, Doc, GoldTriple}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes. The README records them; both sides of a comparison must
  * run the same ones. */
object Sizes {
  val docs = 3000L          // documents per corpus
  val parts = 16            // input parquet parts
  val buckets = 8           // store buckets (`Main run`'s layout argument)
  val distractors = 20000L  // extra alias rows on kg_salted (2 per entity)
}

/** The benchmark's inputs, all made from the seed: the document corpus
  * (`CorpusGen.genDoc` over a seed-offset index range), the alias table,
  * and the generator-side answer key (`CorpusGen.expectedTriples`), which
  * the pipeline never produces.
  */
final class Inputs(spark: SparkSession, seed: Long, work: String,
                   withDistractors: Boolean) {
  import spark.implicits._

  /** First document index: a seed-derived offset, so each seed sees
    * different documents. */
  val base: Long = java.lang.Math.floorMod(CorpusGen.mix64(seed), 1000000000L) * 4L
  val n: Long = Sizes.docs
  val docsDir = s"$work/inputs/docs"
  val aliasDir = s"$work/inputs/aliases"

  private def indices(parts: Int): Dataset[java.lang.Long] =
    spark.range(base, base + n, 1, parts)

  /** Writes documents and aliases as parquet; returns the alias row count. */
  def write(): Long = {
    indices(Sizes.parts).mapPartitions(_.map(i => CorpusGen.genDoc(i).doc))
      .write.mode(SaveMode.Overwrite).parquet(docsDir)
    val gen = spark.createDataset(CorpusGen.aliasDict).repartition(1)
    val all =
      if (!withDistractors) gen
      else gen.union(Inputs.distractors(spark, seed, Sizes.distractors))
    all.write.mode(SaveMode.Overwrite).parquet(aliasDir)
    CorpusGen.aliasDict.size + (if (withDistractors) Sizes.distractors else 0L)
  }

  def docs: Dataset[Doc] = spark.read.parquet(docsDir).as[Doc]
  def aliases: Dataset[Alias] = spark.read.parquet(aliasDir).as[Alias]

  /** The answer key, generated in this JVM's own memory, independently
    * of the pipeline. */
  lazy val answerKey: Array[GoldTriple] =
    (base until base + n).iterator
      .flatMap(i => CorpusGen.expectedTriples(CorpusGen.genDoc(i))).toArray

  /** Input make-up: (docs, text sentences, sentences over 128 wordpieces,
    * bytes on disk). */
  def makeup(): (Long, Long, Long, Long) = {
    val enc = new graft.text.WindowEncoder(graft.text.Vocab.default,
      graft.text.Vocab.tokenToId, graft.text.Tags.labelMap)
    val (s, l) = indices(4).mapPartitions { it =>
      var s = 0L; var l = 0L
      it.foreach { i =>
        CorpusGen.genDoc(i).sentences.foreach { st =>
          s += 1
          if (st.words.iterator.map(w => enc.tokenizeWord(w).length).sum > 128) l += 1
        }
      }
      Iterator.single((s, l))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, s, l, Inputs.dirBytes(docsDir) + Inputs.dirBytes(aliasDir))
  }
}

object Inputs {

  /** Distractor aliases: `count` rows, two records per entity sharing one
    * surface (so canonicalization has work), ids `DST_…`. Every surface
    * starts with "qx" and encodes the entity number, so none is a
    * normalized surface of the corpus. */
  def distractors(spark: SparkSession, seed: Long, count: Long): Dataset[Alias] = {
    import spark.implicits._
    val types = Array("PER", "LOC", "ORG")
    spark.range(0, count / 2, 1, 4).flatMap { j0 =>
      val j: Long = j0
      val h = CorpusGen.mix64(CorpusGen.mix64(seed) ^ j)
      val sb = new StringBuilder("qx")
      var k = j
      do { sb.append(('a' + (k % 26)).toChar); k /= 26 } while (k > 0)
      sb.append('z')
      var r = h
      (0 until 4).foreach { _ => sb.append(('a' + java.lang.Math.floorMod(r, 26L)).toChar); r >>>= 5 }
      val surf = CorpusGen.normSurface(sb.toString)
      val typ = types(java.lang.Math.floorMod(h >>> 20, 3L).toInt)
      val p = 0.1 + java.lang.Math.floorMod(h >>> 24, 80L) / 100.0
      Seq(Alias(surf, f"DST_$j%07d#0", typ, p),
        Alias(surf, f"DST_$j%07d#1", typ, p / 2))
    }
  }

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }

  def dataFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}

/** Order-independent summary of a triple multiset over
  * (subj, pred, obj, doc_id): row count, distinct-row count, and three
  * hash folds over the distinct rows. Two sets are equal (up to a 64-bit
  * hash collision) when every field but `distractorRows` matches. */
final case class Fingerprint(rows: Long, distinct: Long, xor: Long,
                             sumLo: Long, sumHi: Long, distractorRows: Long) {
  def sameSet(o: Fingerprint): Boolean =
    distinct == o.distinct && xor == o.xor && sumLo == o.sumLo && sumHi == o.sumHi
}

object Fingerprint {
  private val sep = "\u0001"

  /** 60 bits of the md5 of the \u0001-joined row, the same on both sides. */
  private def h60(md: java.security.MessageDigest, row: String): Long = {
    val d = md.digest(row.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h >>> 4
  }

  /** The fingerprint of each store in `df`, a union of stores tagged by
    * a `root` column, computed by Spark in one job. */
  def byRoot(df: DataFrame): Map[String, Fingerprint] = {
    val g = df.groupBy("root", "subj", "pred", "obj", "doc_id").agg(count(lit(1)).as("c"))
    val h = conv(substring(md5(concat_ws(sep, col("subj"), col("pred"), col("obj"),
      col("doc_id"))), 1, 15), 16, 10).cast("long")
    val dst = when(col("subj").startsWith("DST_") || col("obj").startsWith("DST_"),
      col("c")).otherwise(lit(0L))
    g.groupBy("root").agg(sum(col("c")), count(lit(1)), bit_xor(h),
        sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32)), sum(dst))
      .collect().map { r =>
        r.getString(0) -> Fingerprint(r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      }.toMap
  }

  /** The fingerprint of rows held in memory. */
  def ofLocal(rows: Array[GoldTriple]): Fingerprint = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val distinct = rows.iterator.map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSet
    var x = 0L; var lo = 0L; var hi = 0L
    distinct.foreach { case (a, b, c, d) =>
      val h = h60(md, Seq(a, b, c, d).mkString(sep))
      x ^= h; lo += h & 0xffffffffL; hi += h >>> 32
    }
    val dst = rows.count(t => t.subj.startsWith("DST_") || t.obj.startsWith("DST_"))
    Fingerprint(rows.length, distinct.size, x, lo, hi, dst)
  }
}
