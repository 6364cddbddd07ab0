package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection for training-data pipelines, Spark-first and
 * shuffle-conscious:
 *
 *  - MinHash signatures are computed per-row inside the scan projection
 *    (typed map, zero shuffle, O(len * numPerms) per doc with one base hash
 *    per shingle — the per-executor work the reference would have done
 *    one-file-at-a-time);
 *  - LSH banding explodes to (band, bucket) rows and groups — the ONLY
 *    shuffle; buckets are capped so a degenerate bucket (all-identical
 *    corpus) cannot OOM a reducer;
 *  - candidate pairs are verified by signature agreement (an unbiased
 *    Jaccard estimator), with an optional exact n-gram Jaccard confirm.
 *
 * At 100 TB: signatures are ~numPerms*8 bytes/doc (512 B at 64 perms) —
 * the shuffle moves signatures, never documents.
 */
object Dedup {

  // --------------------------------------------------------------- minhash
  /** Multiply-shift permutations over a 64-bit base hash; constants from
    * splitmix64(seed) so signatures are stable across runs/executors. */
  private[graft] def permConstants(numPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val r = new graft.SplitMix64(seed)
    val a = Array.fill(numPerms)(r.nextLong() | 1L) // odd multipliers
    val b = Array.fill(numPerms)(r.nextLong())
    (a, b)
  }

  /** 64-bit FNV-1a over the UTF-16 units of a shingle window — cheap,
    * allocation-free base hash (one per shingle, reused by all perms). */
  @inline private def shingleHash(s: String, start: Int, len: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = start
    val end = start + len
    while (i < end) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** Normalize for shingling: lowercase, collapse whitespace runs. */
  def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var pend = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) pend = sb.length > 0
      else {
        if (pend) sb.append(' ')
        pend = false
        sb.append(Character.toLowerCase(c))
      }
      i += 1
    }
    sb.toString
  }

  /** MinHash signature of one document (character shingles). */
  def signature(text: String, numPerms: Int = 64, shingle: Int = 5,
                seed: Long = 42L): Array[Long] = {
    val (a, b) = permCache.getOrElseUpdate((numPerms, seed), permConstants(numPerms, seed))
    val norm = normalize(text)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    if (norm.length < shingle) {
      val h = shingleHash(norm, 0, norm.length)
      var p = 0
      while (p < numPerms) { sig(p) = a(p) * h + b(p); p += 1 }
      return sig
    }
    var i = 0
    val last = norm.length - shingle
    while (i <= last) {
      val h = shingleHash(norm, i, shingle)
      var p = 0
      while (p < numPerms) {
        val v = a(p) * h + b(p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }
  private val permCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Long), (Array[Long], Array[Long])]

  /** Estimated Jaccard = fraction of agreeing signature positions. */
  def estimateJaccard(s1: Array[Long], s2: Array[Long]): Double = {
    var eq = 0
    var i = 0
    val n = math.min(s1.length, s2.length)
    while (i < n) { if (s1(i) == s2(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  /** Exact n-gram Jaccard (for candidate confirmation / tests). */
  def exactJaccard(a: String, b: String, shingle: Int = 5): Double = {
    def shingles(t: String): Set[Long] = {
      val n = normalize(t)
      if (n.length < shingle) Set(shingleHash(n, 0, n.length))
      else (0 to n.length - shingle).map(i => shingleHash(n, i, shingle)).toSet
    }
    val sa = shingles(a); val sb = shingles(b)
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // --------------------------------------------------------------- dataset ops
  final case class Sig(id: Long, sig: Array[Long])
  final case class BandRow(id: Long, band: Int, bucket: Long, sig: Array[Long])
  final case class Pair(id_a: Long, id_b: Long, est_jaccard: Double)
  final case class Member(id: Long, sig: Array[Long])
  final case class Bucket(n: Long, members: Array[Member])

  /** (id, text) -> signatures, computed by the codegen'd Catalyst
    * expression (graft.functions.MinHashSignature) directly over the scan:
    * pure projection, no shuffle, no typed-row deserialization. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 numPerms: Int = 64, shingle: Int = 5, seed: Long = 42L)
                (implicit spark: SparkSession): Dataset[Sig] = {
    import spark.implicits._
    signaturesDf(df, idCol, textCol, numPerms, shingle, seed).as[Sig]
  }

  private def signaturesDf(df: DataFrame, idCol: String, textCol: String,
                           numPerms: Int, shingle: Int, seed: Long): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      graft.functions.DedupFunctions.minhash_signature(
        coalesce(col(textCol), lit("")), numPerms, shingle, seed).as("sig"))

  /** LSH band rows via codegen'd column ops (explode over band structs,
    * FNV band hash as a native expression — ANSI mode forbids SQL-level
    * wrapping multiplication): numPerms = bands * rowsPerBand. */
  def bandRows(sigs: Dataset[Sig], bands: Int, rowsPerBand: Int)
              (implicit spark: SparkSession): Dataset[BandRow] = {
    import spark.implicits._
    import graft.functions.DedupFunctions.minhash_band_hash
    sigs.toDF()
      .select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            minhash_band_hash(col("sig"), b, rowsPerBand).as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"), col("sig"))
      .as[BandRow]
  }

  /** Near-dup candidate pairs above `threshold` estimated Jaccard.
    * One shuffle (groupBy band+bucket); per-bucket pair generation is capped
    * at `maxBucket` ids (drop-with-log semantics: a bucket that large means
    * an exact-dup cluster better handled by exact dedup first). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 64, bands: Int = 16, threshold: Double = 0.7,
                   shingle: Int = 5, seed: Long = 42L, maxBucket: Int = 64)
                  (implicit spark: SparkSession): Dataset[Pair] =
    nearDupPairsCounted(df, idCol, textCol, numPerms, bands, threshold,
      shingle, seed, maxBucket)._1

  /** As nearDupPairs, but also returns the dropped-member accumulator: "no
    * silent caps" — a degenerate bucket (all-identical corpus) truncates at
    * maxBucket and the overflow count is observable after the action. */
  def nearDupPairsCounted(df: DataFrame, idCol: String, textCol: String,
                          numPerms: Int = 64, bands: Int = 16, threshold: Double = 0.7,
                          shingle: Int = 5, seed: Long = 42L, maxBucket: Int = 64)
                         (implicit spark: SparkSession)
      : (Dataset[Pair], org.apache.spark.util.LongAccumulator) = {
    import spark.implicits._
    val dropped = spark.sparkContext.longAccumulator("graft.lsh.droppedBucketMembers")
    val rowsPerBand = numPerms / bands
    val sigs = signatures(df, idCol, textCol, numPerms, shingle, seed)
    // DataFrame groupBy, not typed groupByKey: the exchange then carries
    // Tungsten rows (sig stays UnsafeArrayData end to end — no per-row
    // Array[Long] deserialization in the shuffle). The cap is DETERMINISTIC:
    // row_number over (band,bucket) ordered by id keeps the maxBucket
    // SMALLEST ids (an arrival-order cap would make the output depend on
    // task scheduling), the window's external sort bounds reducer memory on
    // degenerate buckets, and the groupBy reuses the window's partitioning —
    // still exactly one exchange. count(*) preserves the overflow signal.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val buckets = bandRows(sigs, bands, rowsPerBand).toDF()
      .withColumn("rn", row_number().over(w))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        collect_list(when(col("rn") <= maxBucket,
          struct(col("id"), col("sig")))).as("members"))
      .select(col("n"), col("members"))
      .as[Bucket]
    val pairs = buckets
      .mapPartitions { it =>
        it.flatMap { b =>
          val members = b.members
          if (b.n > members.length) dropped.add(b.n - members.length)
          if (members.length < 2) Iterator.empty
          else {
            val out = Seq.newBuilder[Pair]
            var i = 0
            while (i < members.length) {
              var j = i + 1
              while (j < members.length) {
                val (x, y) =
                  if (members(i).id < members(j).id) (members(i), members(j))
                  else (members(j), members(i))
                val est = estimateJaccard(x.sig, y.sig)
                if (est >= threshold && x.id != y.id) out += Pair(x.id, y.id, est)
                j += 1
              }
              i += 1
            }
            out.result().iterator
          }
        }
      }
      .dropDuplicates("id_a", "id_b")
    (pairs, dropped)
  }

  // ----------------------------------------------------- cluster collapse
  /**
   * Connected components over near-dup pairs, hybrid by edge-set size:
   *
   *  - **small edge sets** (the overwhelmingly common case: near-dup pairs
   *    are a tiny fraction of the corpus) — collect the EDGES (never the
   *    documents; 16 bytes/edge, bounded by `maxDriverEdges`) and run
   *    path-compressed union-find on the driver. One Spark job total,
   *    instead of the 2-jobs-per-round label-propagation storm.
   *  - **large edge sets** — alternating large-star/small-star
   *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
   *    SoCC'14): converges in O(log d) rounds, each round shuffles only the
   *    shrinking edge set; convergence detected by an (count, checksum)
   *    aggregate folded into the per-round materialization, not a separate
   *    driver count of changed labels.
   *
   * Returns (id, cluster_id) where cluster_id = min id of the component.
   * Logs a warning (and still returns the partial labels) if the iterative
   * path hits `maxRounds` unconverged — callers never get silently split
   * clusters without a signal.
   */
  def clusters(pairs: DataFrame, maxDriverEdges: Long = 4L << 20, maxRounds: Int = 25)
              (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val empty = spark.createDataset(Seq.empty[(Long, Long)]).toDF("id", "cluster_id")
    // ONE action decides the strategy AND fetches the edges: collect through
    // a LIMIT of maxDriverEdges+1 — when the result fits, that IS the edge
    // set (the count() + collect() spelling executed the whole upstream
    // pair pipeline twice; guide §1.2 "don't compute things you throw
    // away"). The sentinel +1 row proves overflow, and only then does the
    // rare large-graph path recompute edges distributed (its upstream
    // shuffle files are reused, not recomputed). Edge ORDER from limit is
    // arbitrary — union-find's min-label output is order-independent.
    val lim = (math.min(maxDriverEdges, Int.MaxValue.toLong - 1) + 1).toInt
    val arr = edges.as[(Long, Long)].limit(lim).collect()
    if (arr.isEmpty) empty
    else if (arr.length < lim) {
      spark.createDataset(unionFindMinLabel(arr).toSeq).toDF("id", "cluster_id")
    } else largeSmallStar(edges, maxRounds)
  }

  /** Path-compressed union-find; labels every node with the component min. */
  private[operators] def unionFindMinLabel(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ks = parent.keys.toArray
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    ks.foreach { k =>
      val r = find(k)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), k)
    }
    ks.map(k => (k, minOf(find(k))))
  }

  /** Distributed CC for edge sets too big to collect. Each round: large-star
    * (hang big neighbors off the local min) then small-star (contract small
    * neighbors), edge set re-canonicalized to (u > v). At fixpoint every
    * edge is (member, root-min). */
  private[operators] def largeSmallStar(edges0: DataFrame, maxRounds: Int)
                                       (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      und.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (u > v): every neighbor in v is strictly smaller
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
    }

    var cur = canon(edges0).localCheckpoint()
    var stable = false
    var round = 0
    var prevSig = (-1L, -1L)
    while (!stable && round < maxRounds) {
      val next = canon(smallStar(canon(largeStar(cur)))).localCheckpoint()
      // convergence = stable (count, order-free checksum) — one aggregate on
      // the already-materialized round output, no extra label diff job
      val sig = next.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))))
        .as[(Long, Long)].head()
      stable = sig == prevSig
      prevSig = sig
      cur = next
      round += 1
    }
    if (!stable) System.err.println(
      s"[graft.Dedup] WARNING: connected-components unconverged after $maxRounds rounds; clusters may be split")
    // fixpoint edges are (member, root); roots label themselves
    cur.select(col("u").as("id"), col("v").as("cluster_id"))
      .union(cur.select(col("v").as("id"), col("v").as("cluster_id")).distinct())
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Keep one canonical doc per near-dup cluster: members of a cluster
    * other than the min-id are dropped; singletons pass through. */
  def collapseNearDups(df: DataFrame, pairs: DataFrame, idCol: String)
                      (implicit spark: SparkSession): DataFrame = {
    val toDrop = clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(toDrop, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard confirmation of candidate pairs, distributed: two
    * hash joins attach the texts to the (small) candidate set, then the
    * kernel fn runs inside mapPartitions. The joined payload is bounded by
    * the candidate-pair count, never the corpus — at 100 TB the documents
    * table streams through the join build once. */
  def confirmPairs(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, shingle: Int = 5)
                  (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d = docs.select(col(idCol).cast("long").as("jid"), col(textCol).as("jtext"))
    pairs.select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .join(d.select(col("jid").as("id_a"), col("jtext").as("text_a")), Seq("id_a"))
      .join(d.select(col("jid").as("id_b"), col("jtext").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (a, b, ta, tb) =>
        val j = exactJaccard(if (ta == null) "" else ta, if (tb == null) "" else tb, shingle)
        if (j >= minJaccard) Some((a, b, j)) else None
      })
      .toDF("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------- embedding-cosine dedup
  /**
   * Embedding-cosine near-duplicate pairs, the 100 TB shape: vectors are
   * bucketed by sign-LSH (a pure projection — positive scaling of a vector
   * cannot change its bucket), candidate pairs form only within a bucket
   * (+ multiprobe single-bit flips on one side), and candidates are verified
   * with an exact double-precision cosine. The corpus never self-joins
   * all-pairs; the shuffle key is the bucket.
   */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, bits: Int = 8, dim: Int = 64,
                            seed: Long = 42L, probes: Int = 2)
                           (implicit spark: SparkSession): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.DedupFunctions.{lsh_bucket, lsh_probes}
    val base = emb.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
      // norm per ROW before the bucket join, not per candidate PAIR inside
      // it (3 vec_dots per pair -> 1); identical IEEE value, sim unchanged
      .withColumn("nrm", Similarity.norm(col("vec")))
    val left = base.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"),
      explode(lsh_probes(col("vec"), bits, dim, seed, probes)).as("bucket"))
    val right = base.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"),
      lsh_bucket(col("vec"), bits, dim, seed).as("bucket"))
    left.join(right, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.dot(col("vec_a"), col("vec_b"))
        / (col("nrm_a") * col("nrm_b") + lit(1e-12)))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }

  // --------------------------------------------------------------- simhash
  /** 64-bit SimHash over whitespace tokens (FNV token hash, unit weights). */
  def simHash64(text: String): Long = {
    if (text == null || text.isEmpty) return 0L
    val votes = new Array[Int](64)
    val norm = normalize(text)
    var start = 0
    var i = 0
    def vote(s: Int, e: Int): Unit = {
      if (e > s) {
        val h = shingleHash(norm, s, e - s)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    while (i < norm.length) {
      if (norm.charAt(i) == ' ') { vote(start, i); start = i + 1 }
      i += 1
    }
    vote(start, norm.length)
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs: block on 4×16-bit chunks (any pair within
    * hamming distance <= maxHamming shares at least one chunk when
    * maxHamming <= 3), verify with full hamming. One shuffle. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3)(implicit spark: SparkSession): DataFrame = {
    val hashes = df.select(col(idCol).cast("long").as("id"),
      graft.functions.DedupFunctions.simhash64(
        coalesce(col(textCol), lit(""))).as("simhash"))
    val chunked = hashes.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("blk"))
      .select(col("id"), col("simhash"), col("blk.chunk"), col("blk.key"))
    val a = chunked.as("a")
    val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------- exact window dedup
  /**
   * Exact substring-duplication stats at token-window granularity — the
   * practical form of Lee et al., "Deduplicating Training Data Makes
   * Language Models Better" (2022): their suffix-array pass marks every
   * 50-token span that recurs anywhere in the corpus; here every
   * length-`win` token window (stride 1) is hashed and counted
   * corpus-wide, flagging exactly the spans a window-granularity suffix
   * array would. The reference processes one file at a time and has no
   * corpus-wide view at all (/root/reference/src/app.py:383-406); this is
   * the substring-level complement to [[nearDupPairs]] (whole-document
   * near-dups) and `QualityFilters.lineDedupStats` (literal line dedup).
   *
   * Scale shape (100 TB): window hashes are computed inside the scan
   * projection with codegen built-ins (transform/slice/xxhash64 — no
   * UDF), so the ONLY bytes that shuffle are the 8-byte hashes: once into
   * the corpus-wide count (map-side partial combine) and once joining the
   * verdict back — the same two-shuffle discipline as `rareTokenStats`.
   * Documents shorter than `win` words contribute no windows and survive
   * via the left join (0, 0, keep).
   *
   * Output: (idCol, n_windows, n_dup_windows, ok_windows) — ok when
   * duplicated windows are at most half of all windows, integer
   * cross-multiplied (never a float ratio).
   */
  def windowDupStats(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", win: Int = 10): DataFrame = {
    require(win >= 1, s"window size must be >= 1, got $win")
    val w = QualityFilters.words(col(textCol))
    // guard the short-text case explicitly: Spark's sequence(1, n) counts
    // DOWN when n < 1, which would fabricate windows
    val hashes = when(size(w) >= win,
      transform(sequence(lit(1), size(w) - (win - 1)),
        i => xxhash64(array_join(slice(w, i, lit(win)), " "))))
      .otherwise(array().cast("array<bigint>"))
    val wh = df.select(col(idCol), explode(hashes).as("wh"))
    val counts = wh.groupBy(col("wh")).agg(count(lit(1)).as("cnt"))
    val perDoc = wh.join(counts, Seq("wh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") > 1, 1).otherwise(0)).cast("long")
          .as("n_dup_windows"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("ok_windows",
        (col("n_dup_windows") * 2 <= col("n_windows")).cast("int"))
  }

  // ------------------------------------------------- normalized exact
  /**
   * RefinedWeb-style normalized exact dedup: documents that differ only
   * in case, punctuation, or whitespace runs collapse to one
   * fingerprint (the normalization the Falcon pipeline applies before
   * its exact-match pass; the reference dedups nothing — every url is
   * processed independently, /root/reference/src/queue.py:24-33).
   * Normalization: lower -> non-alphanumerics to space -> whitespace
   * runs to one space -> trim. The fingerprint is md5 of the normalized
   * text, so the dedup shuffle moves a 32-char hash, never the
   * document. Keeper policy matches exact dedup: lowest id per group.
   */
  def normalizedDedupStats(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val ws = """[ \t\n\x0B\f\r]"""
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)),
        """[^a-z0-9 \t\n\x0B\f\r]""", " "),
      ws + "+", " "))
    // fps feeds BOTH the group aggregate and the join back; hash-partition
    // it by fp ONCE so the two consumers share a single exchange
    // (ReusedExchange) instead of each re-running the scan + the two
    // normalization regex passes + md5. Unlike lineDedupStats (where only
    // a tiny dup subset joins back and a broadcast beats reshuffling the
    // corpus), here BOTH join sides are corpus-sized — the join must
    // co-partition on fp at scale anyway, so the explicit repartition
    // costs nothing extra and halves the scan work. No partition count is
    // pinned: AQE coalesces it like any other exchange.
    val fps = df.select(col(idCol), md5(norm).as("fp"))
      .repartition(col("fp"))
    val groups = fps.groupBy(col("fp"))
      .agg(count(lit(1)).cast("long").as("n_copies"),
        min(col(idCol)).as("first_doc"))
    fps.join(groups, Seq("fp"))
      .select(col(idCol), col("n_copies"),
        (col(idCol) === col("first_doc")).cast("int").as("kept"))
  }
}
