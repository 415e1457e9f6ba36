package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteTop1]]: exact cosine top-1 — the baseline; O(Q·N·d) via an
  *    equi-free join, fine when Q is a bounded query set; at 100 TB the
  *    query side is broadcast and the corpus side streamed.
  *  - [[lshBuckets]] / [[lshTop1]]: random-hyperplane LSH — deterministic
  *    integer plane coefficients derived from md5 (cross-engine
  *    reproducible), bucket = sign-bit string; candidate search within
  *    bucket only — the scale path (pairs drop from N² to Σ bucket²).
  *
  * Dot products use `zip_with` + `aggregate` fold in array order with
  * double promotion — bit-identical to the DuckDB oracle's 1-based
  * list-indexed sum in the same order.
  */
object Ann {

  private def vcol: Column = transform(col("embedding"), x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Rounded cosine over (qv, v) — rounding BEFORE ranking so ties break
    * identically across engines (then by vec_id). Runs through the
    * native codegen'd [[Cosine6Expr]]; bit-identical to the HOF
    * `round(dot/(sqrt·sqrt), 6)` form (parity asserted in OpsSpec).
    */
  private def cosine6(spark: org.apache.spark.sql.SparkSession): Column =
    AnnKernels.cosine6Col(spark, col("qv"), col("v"))

  /** Per-query top-1 of a scored candidate set. */
  private def top1(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("nn_id"), col("cosine"))
  }

  /** Per-query top-k of a scored candidate set (rank column included —
    * the general form of [[top1]]; one shuffle on q_id).
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("nn_id"), col("cosine"))
  }

  private def scoredBrute(emb: DataFrame, queryMod: Int): DataFrame = {
    // the corpus side carries the O(Q·N·d) cosine work of the
    // broadcast-nested-loop join — fan a narrow scan out first
    val e = Par.fanOut(emb.select(col("vec_id"), vcol.as("v")))
    val q = e.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    broadcast(q).join(e, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine6(emb.sparkSession).as("cosine"))
  }

  /** Exact cosine top-1 neighbor for each query vector
    * (query set: vec_id % queryMod == 0).
    */
  def bruteTop1(emb: DataFrame, queryMod: Int = 25): DataFrame =
    top1(scoredBrute(emb, queryMod))

  /** Exact cosine top-k — the exactness baseline for recall evaluation of
    * the LSH/IVF scale paths; O(Q·N·d) with the query side broadcast.
    */
  def bruteTopK(emb: DataFrame, k: Int = 5, queryMod: Int = 25): DataFrame =
    topK(scoredBrute(emb, queryMod), k)

  /** One-pass hyperplane-projection kernel: ALL `nGlobal` plane
    * projections of each vector computed in a single typed
    * `mapPartitions` — zero row fan-out, zero shuffle (the previous
    * formulation exploded every vector ×dims×planes = 512 rows through
    * two shuffled aggregations; at 100 TB of embeddings that is 512×
    * shuffle-input volume for a per-row pure function — same fix as
    * `Dedup.docSignatures`). Plane i's coefficient for dimension d is the
    * md5-derived integer `h60(i+"_"+d) % 2001 - 1000` — bit-identical to
    * the previous column form and the DuckDB oracles; the projection sums
    * in ascending-dimension order, matching the single-partition
    * fold order of the exploded plan. The coefficient table is
    * dictionary-sized (nGlobal × dims longs) and rebuilt per partition.
    * Emits (vec_id, v, sign-bit array) so bucket consumers need no join
    * back to the vector table.
    */
  private def planeSigns(emb: DataFrame, nGlobal: Int)
      : org.apache.spark.sql.Dataset[(String, Array[Double], Array[Boolean])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    Par.fanOut(emb.select(col("vec_id").cast("string"),
        transform(col("embedding"), x => x.cast("double"))))
      .as[(String, Array[Double])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        var coefs: Array[Array[Long]] = null
        var coefDims = -1
        it.map { case (id, v) =>
          val dims = v.length
          if (dims != coefDims) {
            coefs = Array.tabulate(nGlobal, dims)((i, d) =>
              TextOps.h60(md, i.toString + "_" + d) % 2001L - 1000L)
            coefDims = dims
          }
          val bits = new Array[Boolean](nGlobal)
          var i = 0
          while (i < nGlobal) {
            val c = coefs(i)
            var s = 0.0
            var d = 0
            while (d < dims) { s += c(d) * v(d); d += 1 }
            bits(i) = s >= 0
            i += 1
          }
          (id, v, bits)
        }
      }
  }

  /** (vec_id, v, bucket) for the single-table variant — the bucket join's
    * probe side carries the vector inline, so no join back to the base
    * table is needed.
    */
  private def lshBucketedVectors(emb: DataFrame, planes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val idType = emb.schema("vec_id").dataType
    planeSigns(emb, planes)
      .map { case (id, v, bits) =>
        var b = 0L
        var p = 0
        while (p < bits.length) { if (bits(p)) b |= 1L << p; p += 1 }
        (id, v, b)
      }
      .toDF("vec_id", "v", "bucket")
      .withColumn("vec_id", col("vec_id").cast(idType))
  }

  /** Random-hyperplane LSH bucket per vector: plane p's coefficient for
    * dimension d is md5-derived integer in [-1000, 1000]; bit_p =
    * 1{Σ_d c_{p,d}·x_d ≥ 0}; bucket = Σ bit_p << p. One-pass kernel —
    * no exchange anywhere in this plan (asserted in PlanSpec).
    */
  def lshBuckets(emb: DataFrame, planes: Int = 8): DataFrame =
    lshBucketedVectors(emb, planes).select("vec_id", "bucket")

  /** Centroid assignment: deterministic centroid set (every (N/k)-th
    * vector by id — reproducible without a k-means job; a real deployment
    * would plug trained centroids in); each vector ranked against all
    * centroids by dot (broadcast — the centroid set is dictionary-sized),
    * keeping the top `probes` cells.
    */
  /** Cell assignment against an explicit (cent_id, cv) centroid table. */
  private def assignCells(e: DataFrame, cents: DataFrame,
                          probes: Int): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("dot"), asc("cent_id"))
    e.join(broadcast(cents))
      .select(col("vec_id"),
        col("cent_id"),
        AnnKernels.dot6Col(e.sparkSession, col("v"), col("cv")).as("dot"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= probes)
      .select(col("vec_id"), col("cent_id").as("cell"), col("rn"))
  }

  private def centroidAssign(emb: DataFrame, centroidMod: Int,
                             probes: Int): DataFrame = {
    // assignment scores every vector against every centroid — fan out
    val e = Par.fanOut(emb.select(col("vec_id"), vcol.as("v")))
    val cents = e.where(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    assignCells(e, cents, probes)
  }

  /** IVF top-k against TRAINED spherical-k-means centroids
    * ([[Kmeans.train]]) — the production coarse quantizer the
    * modulo-seeded [[ivfTopK]] stands in for in the cross-engine oracle
    * (k-means mean updates are FP-summation-order dependent, so the
    * trained path is engine-tested — KmeansSpec recall comparison —
    * rather than DuckDB-replayed).
    */
  /** Trained centroid table (cent_id, cv) from spherical k-means. */
  def trainedCentroids(emb: DataFrame, nCentroids: Int = 10,
                       trainIters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (cs, _) = Kmeans.train(emb, nCentroids, trainIters)
    spark.createDataset(cs.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v) })
      .toDF("cent_id", "cv")
  }

  /** Cell per vector under the trained quantizer. */
  def ivfCellsTrained(emb: DataFrame, nCentroids: Int = 10,
                      trainIters: Int = 5): DataFrame = {
    val e = emb.select(col("vec_id"), vcol.as("v"))
    assignCells(e, trainedCentroids(emb, nCentroids, trainIters), 1)
      .select("vec_id", "cell")
  }

  def ivfTopKTrained(emb: DataFrame, k: Int = 5, nCentroids: Int = 10,
                     trainIters: Int = 5, probes: Int = 2,
                     queryMod: Int = 25): DataFrame =
    ivfTopKWithCentroids(emb, trainedCentroids(emb, nCentroids, trainIters),
      k, probes, queryMod)

  /** Cell-restricted search under a PRECOMPUTED centroid table — the
    * production IVF shape (train the quantizer once, search many times);
    * [[ivfTopKTrained]] is the train+search convenience over this.
    */
  def ivfTopKWithCentroids(emb: DataFrame, cents: DataFrame, k: Int = 5,
                           probes: Int = 2, queryMod: Int = 25): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), vcol.as("v"))
    val cells = assignCells(e, cents, 1)
      .select(col("vec_id"), col("cell"))
    val ec = e.join(cells, "vec_id")
    val qc = assignCells(e, cents, probes)
      .where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("cell").as("qc"))
    val q = qc.join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
    topK(q.join(ec, col("qc") === col("cell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine6(spark).as("cosine")), k)
  }

  /** IVF coarse quantization: cell = argmax-dot centroid. Search
    * restricted to the cell — the inverted-file ANN variant alongside the
    * hyperplane LSH.
    */
  def ivfCells(emb: DataFrame, centroidMod: Int = 50): DataFrame =
    centroidAssign(emb, centroidMod, 1).select("vec_id", "cell")

  private def scoredIvf(emb: DataFrame, centroidMod: Int, queryMod: Int,
                        probes: Int): DataFrame = {
    val e = Par.fanOut(emb.select(col("vec_id"), vcol.as("v")))
      .join(ivfCells(emb, centroidMod), "vec_id")
    // multi-probe: each query searches its `probes` nearest cells; corpus
    // vectors live in exactly one cell, so candidates never duplicate
    val qCells = centroidAssign(emb, centroidMod, probes)
      .where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("cell").as("qc"))
    val q = qCells.join(
      emb.select(col("vec_id").as("q_id"), vcol.as("qv")), "q_id")
    q.join(e, col("qc") === col("cell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine6(emb.sparkSession).as("cosine"))
  }

  /** Cell-restricted cosine top-1 (probe = 1). */
  def ivfTop1(emb: DataFrame, centroidMod: Int = 50, queryMod: Int = 25): DataFrame =
    top1(scoredIvf(emb, centroidMod, queryMod, probes = 1))

  /** Cell-restricted cosine top-k with multi-probe: queries search their
    * `probes` nearest cells — the recall dial of a production IVF index.
    */
  def ivfTopK(emb: DataFrame, k: Int = 5, probes: Int = 2,
              centroidMod: Int = 50, queryMod: Int = 25): DataFrame =
    topK(scoredIvf(emb, centroidMod, queryMod, probes), k)

  private def scoredLsh(emb: DataFrame, planes: Int, queryMod: Int): DataFrame = {
    // vectors travel WITH their bucket out of the one-pass kernel, and the
    // kernel output is materialized ONCE (localCheckpoint — both join
    // sides read the materialized blocks; without it the broadcast build
    // side would re-run the full kernel). The bounded query side is then
    // broadcast, so the corpus side is never shuffled at all.
    val e = lshBucketedVectors(emb, planes).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val q = e.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qb"))
    broadcast(q).join(e, col("qb") === col("bucket") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine6(emb.sparkSession).as("cosine"))
  }

  /** Bucketed cosine top-1: exact search restricted to the LSH bucket. */
  def lshTop1(emb: DataFrame, planes: Int = 8, queryMod: Int = 25): DataFrame =
    top1(scoredLsh(emb, planes, queryMod))

  /** Bucketed cosine top-k within the LSH bucket. */
  def lshTopK(emb: DataFrame, k: Int = 5, planes: Int = 8,
              queryMod: Int = 25): DataFrame =
    topK(scoredLsh(emb, planes, queryMod), k)

  /** Multi-table LSH buckets: `tables` independent hash tables of
    * `planes` hyperplanes each (global plane index g = tbl·planes + p,
    * coefficients md5-seeded exactly like the single-table variant).
    * Fewer planes per table → wider buckets; OR-ing tables → recall
    * grows with T while each probe stays cheap — the standard
    * recall/cost dial of hyperplane LSH.
    */
  def lshBucketsMulti(emb: DataFrame, planes: Int = 4, tables: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val idType = emb.schema("vec_id").dataType
    // same one-pass kernel over global plane index g = tbl·planes + p
    // (coefficient key g+"_"+d — identical md5 derivation); the only
    // fan-out left is the intrinsic T rows per vector of the operator's
    // own output (previously ×dims×tables·planes through two shuffles)
    planeSigns(emb, planes * tables)
      .flatMap { case (id, _, bits) =>
        (0 until tables).iterator.map { t =>
          var b = 0L
          var p = 0
          while (p < planes) { if (bits(t * planes + p)) b |= 1L << p; p += 1 }
          (id, t, b)
        }
      }
      .toDF("vec_id", "tbl", "bucket")
      .withColumn("vec_id", col("vec_id").cast(idType))
      .select("vec_id", "tbl", "bucket")
  }

  /** Multi-table LSH top-k: candidates = union of same-bucket matches
    * over all tables (dedup'd), then exact cosine rank — recall rises
    * with `tables` without widening any single bucket join.
    */
  def lshTopKMulti(emb: DataFrame, k: Int = 5, planes: Int = 4,
                   tables: Int = 4, queryMod: Int = 25): DataFrame = {
    // bucket table materialized once — the self-join (query side vs
    // corpus side) must not re-run the projection kernel on both sides
    val b = lshBucketsMulti(emb, planes, tables).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val e = emb.select(col("vec_id"), vcol.as("v"))
    val qb = b.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val cands = broadcast(qb)
      .join(b.withColumnRenamed("vec_id", "c_id"), Seq("tbl", "bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id").as("vec_id")).distinct()
    val scored = cands
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
      .join(e, "vec_id")
      .select(col("q_id"), col("vec_id"), cosine6(emb.sparkSession).as("cosine"))
    topK(scored, k)
  }

  /** Per-query recall@k of an approximate result set against the exact
    * baseline: one semi join on (q_id, nn_id) + per-query counts.
    */
  private def recallOf(exact: DataFrame, approx: DataFrame,
                       method: String): DataFrame = {
    val hits = exact.join(approx, Seq("q_id", "nn_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(lit(method).as("method"), col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 4).as("recall"))
  }

  /** Recall@k of both scale paths (hyperplane LSH, multi-probe IVF)
    * against the exact baseline — the evaluation loop a production ANN
    * index is tuned with (planes/probes are recall dials; this measures
    * them). One row per (method, query).
    */
  def recallAtK(emb: DataFrame, k: Int = 5, planes: Int = 8,
                probes: Int = 2, queryMod: Int = 25): DataFrame = {
    // the four searches are INDEPENDENT plans, but each bucketed search
    // materializes its (non-eager) kernel checkpoint while its plan is
    // BUILT — three serialized job barriers before the union ever runs.
    // Build the branches concurrently so those materializations overlap
    // (guide §2.6: actions are only sequential because the driver calls
    // them sequentially); values are unaffected — each branch is the
    // same deterministic plan, just constructed on another thread.
    // a pool of its own (one thread per branch), shut down on the way
    // out, and a bounded wait: a stuck branch surfaces as a
    // TimeoutException instead of hanging the caller
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val exactF = Future(
        bruteTopK(emb, k, queryMod).select(col("q_id"), col("nn_id")))
      val lshF = Future(
        lshTopK(emb, k, planes, queryMod).select(col("q_id"), col("nn_id")))
      val ivfF = Future(
        ivfTopK(emb, k, probes, queryMod = queryMod)
          .select(col("q_id"), col("nn_id")))
      val multiF = Future(
        lshTopKMulti(emb, k, queryMod = queryMod)
          .select(col("q_id"), col("nn_id")))
      def get(f: Future[DataFrame]): DataFrame = Await.result(f, recallBranchWait)
      val exact = get(exactF)
      recallOf(exact, get(lshF), "lsh")
        .unionByName(recallOf(exact, get(ivfF), s"ivf_p$probes"))
        .unionByName(recallOf(exact, get(multiF), "lsh_multi"))
    } finally pool.shutdownNow()
  }

  /** Bound on the wait for each of [[recallAtK]]'s plan builds. */
  private val recallBranchWait = scala.concurrent.duration.Duration(30, "min")

  /** Product-quantization ADC search (Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search" — public
    * algorithm), integer-exact end to end so index build AND search
    * replay bit-identically in SQL.
    *
    * Index: each quantized vector (round(x·scale) longs,
    * [[Kmeans.quantized]]) is cut into `m` contiguous subvectors; per
    * subspace a tiny codebook of `k` centroids is trained with the
    * FP-free Lloyd loop ([[Kmeans.trainQuantizedCentroids]] — init =
    * the k smallest vec_ids' subvectors, truncating-division updates,
    * empty cells dropped, ties to the smaller cell) and every vector
    * is encoded as its per-subspace argmin-distance code: d dims of
    * 8-byte longs collapse to m small ints per vector.
    *
    * Search (asymmetric distance computation): each of the `nQueries`
    * smallest-vec_id queries precomputes one m×k table of exact
    * integer squared-L2 distances from ITS subvectors to every
    * codebook centroid; a candidate's approximate distance is then m
    * table lookups summed, so the corpus scan touches ONLY the m-int
    * codes, never the vectors. Codebooks and query tables travel as
    * broadcasts (m·k·(d/m) resp. Q·m·k longs — fixed-size regardless
    * of corpus), the scan is one shuffle-free mapPartitions, and the
    * only exchange is the per-query top-k. This is the memory-bound
    * regime PQ exists for at 100 TB: the code index is ~d·8/m× smaller
    * than the raw vectors, and codebook training needs only a bounded
    * sample (the codebook is k·d longs no matter the corpus size —
    * here it trains on the full toy corpus to keep the oracle replay
    * exact).
    */
  def pqSearchAdc(emb: DataFrame, m: Int = 2, k: Int = 4,
                  updates: Int = 2, nQueries: Int = 8, topK: Int = 3,
                  scale: Int = 1000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = Kmeans.quantized(emb, scale).persist()
    val head = q.orderBy("_1").limit(math.max(k, nQueries)).collect()
    if (head.isEmpty) {
      q.unpersist()
      return spark.emptyDataset[(Long, Long, Long, Long)]
        .toDF("q_id", "rank", "nn_id", "adc_dist")
    }
    val d = head(0)._2.length
    if (d % m != 0) {
      q.unpersist() // don't leak the cached quantized set on misconfig
      throw new IllegalArgumentException(
        s"embedding dim $d is not divisible by m=$m subspaces")
    }
    val sd = d / m
    // per-subspace codebooks — ALL m books trained in one pass per
    // round, keyed by (subspace, cell) ([[Kmeans.trainQuantizedBooks]]);
    // bit-identical to m sequential slice trainings at 1/m the scans
    val books: IndexedSeq[Seq[(Int, Array[Long])]] =
      Kmeans.trainQuantizedBooks(q, m, k, updates)
    val bcBooks = spark.sparkContext.broadcast(books)
    // encode: vector → m codes; reused by every query, so cut once
    val codes = q.map { case (id, v) =>
      val bs = bcBooks.value
      (id, Array.tabulate(m)(s =>
        Kmeans.nearest(bs(s), v.slice(s * sd, s * sd + sd))._1))
    }.toDF("vec_id", "codes").localCheckpoint()
    q.unpersist()
    // per-query ADC tables, built driver-side from the collected query
    // head (Q·m·k longs — bounded); row index = cell id, dropped cells
    // keep MaxValue but are never referenced (codes only name live cells)
    val tables: Array[(Long, Array[Array[Long]])] =
      head.take(nQueries).map { case (qid, qv) =>
        (qid, Array.tabulate(m) { s =>
          val row = Array.fill(k)(Long.MaxValue)
          books(s).foreach { case (c, cv) =>
            var dist = 0L; var i = 0
            while (i < sd) {
              val t = qv(s * sd + i) - cv(i); dist += t * t; i += 1
            }
            row(c) = dist
          }
          row
        })
      }
    val bcT = spark.sparkContext.broadcast(tables)
    val scored = codes.as[(Long, Array[Int])].mapPartitions { it =>
      val ts = bcT.value
      it.flatMap { case (id, cs) =>
        ts.iterator.withFilter(_._1 != id).map { case (qid, t) =>
          var dist = 0L; var s = 0
          while (s < cs.length) { dist += t(s)(cs(s)); s += 1 }
          (qid, id, dist)
        }
      }
    }.toDF("q_id", "nn_id", "adc_dist")
    val w = Window.partitionBy("q_id").orderBy(asc("adc_dist"), asc("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("adc_dist"))
  }

  /** IVF-PQ: the composed FAISS IndexIVFPQ shape (public algorithm —
    * Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search") joining the two rungs this engine already has: a COARSE
    * integer k-means quantizer restricts each query to its nearest
    * cell(s) ([[ivfSearchQuantized]]'s scale story — the scan touches
    * one cell, not the corpus), and a PQ codebook over the RESIDUALS
    * (vector − its cell centroid) compresses what remains to m small
    * codes ranked by ADC table lookups ([[pqSearchAdc]]'s memory
    * story). Residual PQ beats raw-vector PQ because residuals occupy
    * a far smaller ball than the raw space, so the same k codes carry
    * more precision — which is why FAISS composes them exactly this
    * way.
    *
    * All arithmetic is long-integer (quantize → train → residual →
    * encode → ADC), every tie-break is (distance, smaller id), and the
    * centroid update is truncating division — the whole index build
    * AND search replay bit-exact in DuckDB (the q62 coarse CTEs + the
    * q97 per-subspace CTEs chained through a residual join).
    *
    * Scale shape: codebooks and query tables are fixed-size broadcasts;
    * the corpus scan touches only (cell, m codes) per vector; cell
    * restriction prunes candidates before any distance math; the only
    * exchange is the per-query top-k.
    */
  /** `queryMod`, when set, replaces the smallest-`nQueries`-ids query
    * set with every vec_id ≡ 0 (mod queryMod) — the query pattern the
    * recall sweep's exact baseline uses, so IVF-PQ gets a
    * recall@k-vs-cost row like every other index rung. The collected
    * query set stays bounded (n / queryMod vectors); index build is
    * untouched (default None → the oracled q103 behavior).
    */
  def ivfPqSearch(emb: DataFrame, kc: Int = 4, m: Int = 2, k: Int = 4,
                  updates: Int = 2, nQueries: Int = 8, topK: Int = 3,
                  probes: Int = 1, scale: Int = 1000,
                  queryMod: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = Kmeans.quantized(emb, scale).persist()
    val qhead = q.orderBy("_1").limit(math.max(math.max(kc, k), nQueries))
      .collect()
    if (qhead.isEmpty) {
      q.unpersist()
      return spark.emptyDataset[(Long, Long, Long, Long, Long)]
        .toDF("q_id", "rank", "nn_id", "cell", "adc_dist")
    }
    val d = qhead(0)._2.length
    if (d % m != 0) {
      q.unpersist() // don't leak the cached quantized set on misconfig
      throw new IllegalArgumentException(
        s"embedding dim $d is not divisible by m=$m subspaces")
    }
    val sd = d / m
    // coarse quantizer + per-vector (cell, residual) — one broadcast map
    val cents = Kmeans.trainQuantizedCentroids(q, kc, updates)
    val centOf = cents.toMap
    val bcC = spark.sparkContext.broadcast(cents)
    val bcCMap = spark.sparkContext.broadcast(centOf)
    val resid = q.map { case (id, v) =>
      val (cell, _) = Kmeans.nearest(bcC.value, v)
      val cv = bcCMap.value(cell) // O(1) — kc can be thousands at scale
      (id, cell, Array.tabulate(d)(i => v(i) - cv(i)))
    }.persist()
    // per-subspace PQ books trained on RESIDUALS — all m books in one
    // pass per round keyed by (subspace, cell), not m sequential scans
    // of the persisted residual set ([[Kmeans.trainQuantizedBooks]])
    val books: IndexedSeq[Seq[(Int, Array[Long])]] =
      Kmeans.trainQuantizedBooks(
        resid.map { case (id, _, r) => (id, r) }, m, k, updates)
    val bcB = spark.sparkContext.broadcast(books)
    // the code index: (cell, m codes) per vector — all the scan reads
    val codes = resid.map { case (id, cell, r) =>
      val bs = bcB.value
      (id, cell, Array.tabulate(m)(s =>
        Kmeans.nearest(bs(s), r.slice(s * sd, s * sd + sd))._1))
    }.toDF("vec_id", "cell", "codes").localCheckpoint()
    val queryVecs: Array[(Long, Array[Long])] = queryMod match {
      case Some(qm) => q.filter(_._1 % qm == 0).collect()
      case None => qhead.take(nQueries)
    }
    resid.unpersist(); q.unpersist()
    // per (query, probed cell): residual ADC table (Q·probes·m·k longs,
    // driver-built from the bounded query set — never corpus-sized)
    val tables: Array[(Long, Int, Array[Array[Long]])] =
      queryVecs.flatMap { case (qid, qv) =>
        val probed = cents.map { case (c, cv) =>
          var dist = 0L; var i = 0
          while (i < d) { val t = qv(i) - cv(i); dist += t * t; i += 1 }
          (dist, c)
        }.sorted.take(probes).map(_._2)
        probed.map { cell =>
          val cv = centOf(cell)
          val qr = Array.tabulate(d)(i => qv(i) - cv(i))
          (qid, cell, Array.tabulate(m) { s =>
            val row = Array.fill(k)(Long.MaxValue)
            books(s).foreach { case (c, bv) =>
              var dist = 0L; var i = 0
              while (i < sd) { val t = qr(s * sd + i) - bv(i); dist += t * t; i += 1 }
              row(c) = dist
            }
            row
          })
        }
      }
    val bcT = spark.sparkContext.broadcast(tables.groupBy(_._2))
    val scored = codes.as[(Long, Int, Array[Int])].mapPartitions { it =>
      val byCell = bcT.value
      it.flatMap { case (id, cell, cs) =>
        byCell.getOrElse(cell, Array.empty).iterator
          .withFilter(_._1 != id).map { case (qid, _, t) =>
            var dist = 0L; var s = 0
            while (s < cs.length) { dist += t(s)(cs(s)); s += 1 }
            (qid, id, cell, dist)
          }
      }
    }.toDF("q_id", "nn_id", "cell", "adc_dist")
    val w = Window.partitionBy("q_id").orderBy(asc("adc_dist"), asc("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cell").cast("long").as("cell"), col("adc_dist"))
  }

  /** IVF-PQ with exact re-ranking — the FAISS IndexRefineFlat shape
    * (public): the ADC pass is a CANDIDATE GENERATOR, not a final
    * ranker — at m·log2(k) bits per vector it cannot order neighbors
    * whose true distances differ by less than the quantization error
    * (measured: recall@5 0.12 on 200k planted clusters where every
    * in-cluster neighbor is noise-separated, `BENCH/recall_sweep_r7
    * .json`). Refinement takes the top-`shortlist` by ADC
    * ([[ivfPqSearch]], tie-broken (adc_dist, nn_id) so the cut is
    * deterministic) and re-ranks those few candidates by EXACT integer
    * L2 on the original quantized vectors.
    *
    * Scale shape: the shortlist is Q·shortlist rows — a broadcast — so
    * the re-rank is one corpus scan with a broadcast join (production
    * stores fetch the shortlist's full vectors by key instead); the
    * exact-distance pass touches only shortlist candidates, and the
    * final top-k exchange moves Q·shortlist rows, not the corpus.
    * Everything stays long-integer, so build + search replay bit-exact
    * in DuckDB (the full q103 CTE chain + a shortlist cut + one exact
    * re-rank join — q107).
    */
  def ivfPqRefine(emb: DataFrame, kc: Int = 4, m: Int = 2, k: Int = 4,
                  updates: Int = 2, nQueries: Int = 8, topK: Int = 3,
                  shortlist: Int = 8, probes: Int = 1, scale: Int = 1000,
                  queryMod: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sl = ivfPqSearch(emb, kc, m, k, updates, nQueries, shortlist,
      probes, scale, queryMod).select("q_id", "nn_id")
    val q = Kmeans.quantized(emb, scale)
    // the bounded query set (same selection rule as the ADC pass) — a
    // broadcast map, never corpus-sized
    val queryVecs: Map[Long, Array[Long]] = (queryMod match {
      case Some(qm) => q.filter(_._1 % qm == 0).collect()
      case None => q.orderBy("_1").limit(nQueries).collect()
    }).toMap
    if (queryVecs.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Long)]
        .toDF("q_id", "rank", "nn_id", "dist")
    val bcQ = spark.sparkContext.broadcast(queryVecs)
    val exact = q.toDF("nn_id", "v").join(broadcast(sl), Seq("nn_id"))
      .select(col("q_id"), col("nn_id"), col("v"))
      .as[(Long, Long, Array[Long])]
      .map { case (qid, nid, v) =>
        val qv = bcQ.value(qid)
        var dist = 0L; var i = 0
        while (i < v.length) { val t = qv(i) - v(i); dist += t * t; i += 1 }
        (qid, nid, dist)
      }.toDF("q_id", "nn_id", "dist")
    val w = Window.partitionBy("q_id").orderBy(asc("dist"), asc("nn_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("dist"))
  }

  /** Int8 scalar quantization + integer-L2 top-k — the SQ8 rung of the
    * embedding-compression ladder between raw floats and
    * [[pqSearchAdc]] (FAISS's ScalarQuantizer shape, public): ONE
    * corpus-wide scale (127 / global max |x|, a single order-independent
    * max aggregation — per-vector scales would make L2 incomparable
    * across vectors), every coordinate quantized to round(127·x/max) ∈
    * [-127, 127], and neighbours ranked by exact integer squared L2
    * over the codes (ties → smaller vec_id). 8 bits/dim where the raw
    * column pays 32 — the index is 4× smaller and the distance kernel
    * is pure integer math.
    *
    * Determinism/oracle: max is order-independent, the quantize
    * expression `round(x * 127.0 / m)` is the same IEEE double chain on
    * both engines (ties away from zero), and everything after is long
    * arithmetic — the whole query replays bit-exact in DuckDB. The
    * query side is broadcast (nQueries rows); the corpus side is
    * scanned once with no shuffle before the per-query top-k window.
    */
  def sq8TopK(emb: DataFrame, nQueries: Int = 8, topK: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    val mRow = emb.select(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))).as("m")).collect()(0)
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    // all-zero (or empty) corpus → every code 0, distances 0, ties by id
    val qcol =
      if (m == 0.0) transform(col("embedding"), _ => lit(0L))
      else transform(col("embedding"),
        x => round(x.cast("double") * lit(127.0) / lit(m)).cast("long"))
    val q = Par.fanOut(
        emb.select(col("vec_id").cast("long").as("vec_id"), qcol.as("qv")))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // scale scan done; codes read by both join sides
    val queries = q.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("a"))
    val scored = broadcast(queries).join(q, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        expr("""aggregate(zip_with(a, qv, (x, y) -> (x - y) * (x - y)),
               |0L, (acc, x) -> acc + x)""".stripMargin).as("dist"))
    val w = Window.partitionBy("q_id").orderBy(asc("dist"), asc("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("dist"))
  }
}
