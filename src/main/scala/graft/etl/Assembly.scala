package graft.etl

import graft.model.{GtToken, Sentence}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sentence assembly (SURVEY §2.6 A1): GT token relation → ordered
  * (words, tags) sequences — the reference's
  * `gt.groupby('nsentence')` + `sort_values('nword')`
  * (data_processor.py:362-374), as one shuffle on nsentence with the
  * ordering done by `sort_array` inside the aggregate (no per-group sort
  * stage).
  */
object Assembly {

  /** guid = "<nsentence>/0/0" (doc per sentence for the GT eval path). */
  def sentences(spark: SparkSession, gt: Dataset[GtToken]): Dataset[Sentence] = {
    import spark.implicits._
    gt.groupBy("nsentence")
      .agg(sort_array(collect_list(struct(col("nword"), col("word"), col("tag"))))
        .as("toks"))
      .select(
        concat(col("nsentence"), lit("/0/0")).as("guid"),
        expr("transform(toks, t -> t.word)").as("words"),
        expr("transform(toks, t -> t.tag)").as("tags"))
      .as[Sentence]
  }

  /** ST1 — seeded epoch shuffle (data_processor.py:141-193): the
    * reference's 1000-slot random queue becomes a deterministic sort by a
    * seeded hash — stable under any partitioning, different per epoch.
    */
  def shuffledEpoch(sents: Dataset[Sentence], epoch: Int, seed: Long): Dataset[Sentence] =
    sents.orderBy(xxhash64(col("guid"), lit(seed), lit(epoch)))

  /** A2 — label inference: distinct tags sorted (data_processor.py:308-317);
    * collected to a driver-side map for broadcast, UNK → 0.
    */
  def inferLabelMap(gt: Dataset[GtToken]): Map[String, Int] = {
    val tags = gt.select("tag").distinct().orderBy("tag")
      .collect().map(_.getString(0))
    (Seq("UNK") ++ tags ++ Seq("X", "[CLS]", "[SEP]")).distinct.zipWithIndex.toMap
  }
}
