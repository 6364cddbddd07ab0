package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Driver smoke contract: entry() returns rows; every oracleSql key has a
  * matching queries entry; query/oracle column names align by construction
  * (checked value-exactly by tools/check_oracle.py in CI-of-record). */
class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("entry() yields rows on sf0.001 (driver smoke)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() === 1000)
    assert(df.columns.toSet === Set("url", "doc_type", "n_chars", "quality"))
  }

  test("every oracleSql key has a queries implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("all queries run and return rows at sf0.001") {
    // no query may leave a cached frame behind: a later query, or a
    // re-timing of the same one, would hit it
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache() // frames other suites cached in this JVM
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, "/root/testdata/sf0.001").count()
      assert(n > 0, s"query $name returned no rows")
      assert(cacheManager.isEmpty, s"query $name left a cached frame behind")
    }
  }

  // Planted-truth checks for the queries with no SQL oracle (their hash
  // functions are not DuckDB-expressible): the mutation scheme inside the
  // query plants known near-dup pairs, which MUST be recovered.
  private val sfDir = "/root/testdata/sf0.001"
  private def docIds: Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id").as[Long].collect().toSeq
  }

  test("testdata documents.text is ASCII-only, CR-free and non-blank (oracle-parity invariant)") {
    // q_extract_text's oracle returns text verbatim while the kernel applies
    // newline translation and blank->null; q_media_features measures UTF-8
    // byte length. Both are hash-exact ONLY under this invariant — pin it so
    // a testdata change fails here with a name, not as a hash mystery.
    import spark.implicits._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val bad = spark.read.parquet(s"$dir/documents.parquet")
        .select("text").as[String]
        .filter(t => t == null || t.trim.isEmpty || t.exists(c => c > 0x7E || c == '\r'))
        .count()
      assert(bad === 0L, s"$dir violates the ASCII/CR-free/non-blank invariant")
    }
  }

  test("q_minhash_pairs recovers every planted near-dup pair") {
    val planted = docIds.filter(_ % 20 == 0).map(i => (i, i + 1000000L)).toSet
    val found = SparkEntry.queries("q_minhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(found),
      s"missing planted pairs: ${planted -- found}")
  }

  test("q_simhash_pairs recovers most planted near-dup pairs (2-char mutation)") {
    // simhash@hamming<=3 is probabilistic on short docs — require majority
    // recall of the planted pairs, and zero planted-pair inversions
    val planted = docIds.filter(_ % 25 == 0).map(i => (i, i + 1000000L)).toSet
    val found = SparkEntry.queries("q_simhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = planted.intersect(found).size.toDouble / planted.size
    assert(recall >= 0.5, s"simhash planted recall too low: $recall ($found)")
  }

  test("q_dedup_collapse drops EXACTLY the non-min members of the discovered components") {
    val kept = SparkEntry.queries("q_dedup_collapse")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val pairs = SparkEntry.queries("q_minhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find over the discovered pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOf = parent.keys.groupBy(find).map { case (r, ks) => r -> ks.min }
    val expectedDrops = parent.keys.filter(k => minOf(find(k)) != k).toSet
    val corpus = docIds.toSet ++ docIds.filter(_ % 20 == 0).map(_ + 1000000L)
    assert(kept === corpus -- expectedDrops,
      s"collapse mismatch: extra=${kept -- (corpus -- expectedDrops)} missing=${(corpus -- expectedDrops) -- kept}")
  }

  test("q_ann_lsh returns valid bucketed results (recall floor on this corpus)") {
    // testdata embeddings are near-orthogonal (intra-label mean dot ~0.002),
    // so LSH recall here is mathematically ~= the candidate fraction; the
    // structured-recall guarantee (>=0.5 on clustered vectors) lives in
    // OperatorsSpec. This check pins the plumbing: valid ids, ranks, a
    // non-degenerate recall floor.
    val dir01 = "/root/testdata/sf0.01"
    val brute = SparkEntry.queries("q_ann_topk")(spark, dir01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRows = SparkEntry.queries("q_ann_lsh")(spark, dir01).collect()
    val lsh = lshRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshRows.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 10))
    assert(lshRows.forall(r => r.getLong(1) != r.getLong(0)), "self-matches excluded")
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.04, s"LSH recall degenerate: $recall")
  }

  test("scanBytes counts data files, and a failed listing is an unknown layout") {
    val dir = java.nio.file.Files.createTempDirectory("scan-bytes")
    java.nio.file.Files.write(dir.resolve("part-0.parquet"), new Array[Byte](10))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), new Array[Byte](3))
    assert(SparkEntry.scanBytes(dir.toFile) === 10L)
    assert(SparkEntry.scanBytes(dir.resolve("missing.parquet").toFile) === -1L)
    val unlistable = new java.io.File(dir.toFile, "unlistable") {
      override def isFile: Boolean = false
      override def isDirectory: Boolean = true
      override def listFiles(): Array[java.io.File] = null
    }
    assert(SparkEntry.scanBytes(unlistable) === -1L)
  }

  test("tblFan fans a starved scan out only from its byte floor up") {
    val split = 128L << 20
    assert(!SparkEntry.fansOut(-1L, split, 4), "unknown layout")
    assert(!SparkEntry.fansOut(SparkEntry.FanMinBytes - 1, split, 4))
    assert(SparkEntry.fansOut(SparkEntry.FanMinBytes, split, 4))
    assert(!SparkEntry.fansOut(SparkEntry.FanMinBytes, split, 1), "one task thread")
    assert(SparkEntry.fansOut(2 * split, split, 4))
    assert(!SparkEntry.fansOut(3 * split, split, 4), "3 splits already use most of 4 threads")
  }
}
