package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Embedding similarity search over an `Array[Float]` column, Spark-first:
 *
 *  - cosine is computed by a native codegen expression (VecDot — one
 *    zero-allocation loop per pair inside whole-stage codegen; the
 *    built-in array HOFs evaluate interpreted and allocate per pair);
 *  - brute-force top-k broadcasts the (small) query set against the
 *    (huge) corpus: one scan, zero shuffle of the corpus, per-query top-k
 *    via window over a filtered candidate set;
 *  - the scale path buckets vectors with sign-LSH (random hyperplanes, a
 *    pure projection) so the join touches only same-bucket candidates —
 *    the 100 TB shape: corpus stays partitioned by bucket, queries
 *    broadcast.
 */
object Similarity {

  /** dot(a,b) as a native whole-stage-codegen expression (VecDot): one
    * zero-allocation loop per pair, elements cast to double BEFORE the
    * multiply, summed as the same sequential IEEE left fold the previous
    * zip_with+aggregate spelling computed — bit-identical results, ~10x
    * cheaper on all-pairs joins (array HOFs evaluate interpreted and
    * materialize an intermediate array per pair). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DedupFunctions.vec_dot(a, b)

  /** sqrt of the self-dot — same fold order as dot(a,a). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b) + lit(1e-12))

  /**
   * Brute-force cosine top-k: every query against every corpus vector.
   * `queries` must be small (it is broadcast). Deterministic ties:
   * (sim desc, vec_id asc).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    // norms are a per-ROW function, so they evaluate once per vector BEFORE
    // the join instead of once per PAIR inside it (cosine would recompute
    // sqrt(dot(v,v)) for both sides of every candidate pair — 3 vec_dots
    // per pair instead of 1). Same expression, same IEEE value, so sim and
    // the rank order are bit-identical.
    val q = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", norm(col("q_vec")))
    val joined = corpus.select(col(idCol), col(vecCol))
      .withColumn("c_nrm", norm(col(vecCol)))
      .join(broadcast(q), col(idCol) =!= col(queryIdCol)) // exclude self-match
      .withColumn("sim",
        dot(col(vecCol), col("q_vec")) / (col("c_nrm") * col("q_nrm") + lit(1e-12)))
    val w = Window.partitionBy(queryIdCol).orderBy(col("sim").desc, col(idCol))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"), col("sim"))
  }

  // ------------------------------------------------------------------- IVF
  /**
   * IVF coarse quantizer: k-means centroids trained on a bounded,
   * deterministically-ordered sample on the DRIVER (standard IVF practice —
   * the model is a few KB; the corpus never leaves the executors). The
   * centroid state is data-dependent, so assignment cannot be a stateless
   * codegen expression (unlike sign-LSH); it runs as a typed mapPartitions
   * with the broadcast centroid matrix — the Array[Float] encoder does a
   * bulk primitive copy (UnsafeArrayData.toFloatArray), no per-element
   * boxing and no ScalaUDF node in the plan.
   */
  def trainCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
                     sampleCap: Int = 4096, iters: Int = 10,
                     idCol: String = "vec_id"): Array[Array[Float]] = {
    val sample = corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(sampleCap).collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1))
      .filter(_ != null).map(_.toArray)
    require(sample.nonEmpty, "empty training sample")
    val k = math.min(nlist, sample.length)
    val dim = sample.head.length
    // deterministic init: evenly-strided sample points
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < dim && j < v.length) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat)
      }
      it += 1
    }
    centroids
  }

  /** Index of the max-cosine centroid (centroids need not be unit norm). */
  def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int =
    nearestCentroids(v, cents, 1)(0)

  private def centroidScore(v: Array[Float], p: Array[Float]): Double = {
    var dot = 0.0; var nv = 0.0; var np = 0.0
    val m = math.min(p.length, v.length)
    var j = 0
    while (j < m) { dot += v(j) * p(j); nv += v(j) * v(j); np += p(j) * p(j); j += 1 }
    dot / (math.sqrt(nv) * math.sqrt(np) + 1e-12)
  }

  def nearestCentroids(v: Array[Float], cents: Array[Array[Float]], n: Int): Array[Int] = {
    if (cents.isEmpty) return Array.emptyIntArray
    if (n == 1) {
      // corpus-assignment hot path: plain argmax, no per-vector Seq/sort
      // allocation. Strict `>` keeps the lowest index on score ties —
      // identical to the general path's (-score, index) ordering.
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val s = centroidScore(v, cents(c))
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      return Array(best)
    }
    val scored = cents.indices.map(c => (c, centroidScore(v, cents(c))))
    scored.sortBy { case (c, s) => (-s, c) }.take(math.min(n, cents.length))
      .map(_._1).toArray
  }

  /**
   * IVF ANN top-k (the alternative scale path to lshTopK): corpus vectors
   * are assigned to their nearest centroid cell; queries probe the
   * `nprobe` nearest cells; exact cosine ranks within the probed cells.
   * One shuffle (the cell join); the corpus is never all-pairs joined.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id")
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cents = trainCentroids(corpus, vecCol, nlist, idCol = idCol)
    val bc = spark.sparkContext.broadcast(cents)
    val corpusB = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, if (v == null) -1 else nearestCentroid(v, cs)) }
      }
      .toDF(idCol, vecCol, "cell")
    val q = queries.select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) =>
          val cells = if (v == null) Array(-1) else nearestCentroids(v, cs, nprobe)
          cells.map(c => (id, v, c))
        }
      }
      .toDF(queryIdCol, "q_vec", "cell")
    // per-row norms before the join — see bruteForceTopK (bit-identical sim)
    val joined = corpusB.withColumn("c_nrm", norm(col(vecCol)))
      .join(broadcast(q.withColumn("q_nrm", norm(col("q_vec")))), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("sim",
        dot(col(vecCol), col("q_vec")) / (col("c_nrm") * col("q_nrm") + lit(1e-12)))
    val w = Window.partitionBy(queryIdCol).orderBy(col("sim").desc, col(idCol))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"), col("sim"))
  }

  /** Deterministic random hyperplanes (splitmix64 gaussians via CLT-sum). */
  def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val r = new graft.SplitMix64(seed)
    def unit(): Double = r.nextDouble() - 0.5
    Array.fill(bits)(Array.fill(dim)((unit() + unit() + unit() + unit()).toFloat))
  }

  /** Sign-LSH bucket id of one vector. */
  def lshBucket(vec: Array[Float], planes: Array[Array[Float]]): Int = {
    var b = 0
    var i = 0
    while (i < planes.length) {
      var s = 0.0f
      val p = planes(i)
      val n = math.min(p.length, vec.length)
      var j = 0
      while (j < n) { s += vec(j) * p(j); j += 1 }
      if (s >= 0) b |= (1 << i)
      i += 1
    }
    b
  }

  /**
   * LSH-bucketed ANN top-k: corpus and queries are bucketed by sign-LSH
   * (a pure codegen'd projection — graft.functions.LshBucket, no UDF, no
   * broadcast variable: hyperplanes regenerate deterministically per
   * executor), then joined bucket-to-bucket. Recall < 1 by design;
   * `probes` extra buckets (hamming-1 flips) trade compute for recall.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, dim: Int = 64, seed: Long = 42L, probes: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id")
             (implicit spark: SparkSession): DataFrame = {
    import graft.functions.DedupFunctions.{lsh_bucket, lsh_probes}
    val corpusB = corpus.select(col(idCol), col(vecCol))
      .withColumn("bucket", lsh_bucket(col(vecCol), bits, dim, seed))
      .withColumn("c_nrm", norm(col(vecCol))) // per-row, not per-pair
    // queries probe their own bucket + `probes` single-bit flips
    val q = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", norm(col("q_vec")))
      .withColumn("bucket", explode(lsh_probes(col("q_vec"), bits, dim, seed, probes)))
    val joined = corpusB.join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("sim",
        dot(col(vecCol), col("q_vec")) / (col("c_nrm") * col("q_nrm") + lit(1e-12)))
    val w = Window.partitionBy(queryIdCol).orderBy(col("sim").desc, col(idCol))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"), col("sim"))
  }
}
