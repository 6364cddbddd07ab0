package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends AnyFunSuite {

  private implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-extensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("registerAll: every shipped function callable from SQL, defaults and literal args") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT sanitize_text('abc') AS s,
        |       printable_ratio('abc') AS pr,
        |       text_quality('the cat and dog sat') AS q,
        |       lang_id_ngram('the quick brown fox jumps over the lazy dog and runs far away from the house') AS lang,
        |       simhash64('hello world hello') AS sh,
        |       size(minhash_signature('hello world, this is a longer text')) AS m_default,
        |       size(minhash_signature('hello world, this is a longer text', 16, 3, 7)) AS m_16,
        |       size(winnow_fingerprints('some longer text for winnowing fingerprints right here')) AS w,
        |       lsh_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))) AS b,
        |       size(lsh_probes(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 6, 2, 42, 3)) AS p,
        |       minhash_band_hash(minhash_signature('abc def ghi'), 0, 4) AS bh
        |""".stripMargin).collect().head
    assert(r.getAs[String]("s") === "abc")
    assert(r.getAs[Double]("pr") === 1.0)
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Long]("sh") !== 0L)
    assert(r.getAs[Int]("m_default") === 64)
    assert(r.getAs[Int]("m_16") === 16)
    assert(r.getAs[Int]("w") > 0)
    assert(r.getAs[Int]("p") === 4) // own bucket + 3 probes
    // band hash must agree with the expression API on the same signature
    val viaApi = {
      import org.apache.spark.sql.functions._
      import graft.functions.DedupFunctions
      spark.range(1).select(DedupFunctions.minhash_band_hash(
        DedupFunctions.minhash_signature(lit("abc def ghi")), lit(0), 4).as("bh"))
        .collect().head.getLong(0)
    }
    assert(r.getAs[Long]("bh") === viaApi)
  }

  test("vec_dot / canonicalize_url / url_key callable from SQL, agree with the Column API") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)),
        |               array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
        |       canonicalize_url('HTTP://User@Example.COM:80/a?b=2&a=1#frag') AS cu,
        |       url_key('HTTP://User@Example.COM:80/a?b=2&a=1#frag') AS k,
        |       canonicalize_url('not a url') AS passthru,
        |       canonicalize_url(NULL) AS cu_null,
        |       url_key(NULL) AS k_null,
        |       canonicalize_url(42) AS cu_int,
        |       url_key(X'6869') = url_key('hi') AS k_binary
        |""".stripMargin).collect().head
    assert(r.getAs[Double]("d") === 1.5 * 2.0 + (-2.0) * 0.5)
    assert(r.getAs[String]("cu") === "http://User@example.com/a?a=1&b=2")
    assert(r.getAs[String]("passthru") === "not a url")
    // non-string arguments cast to STRING, as with the string built-ins
    assert(r.isNullAt(r.fieldIndex("cu_null")))
    assert(r.getAs[Long]("k_null") === 42L)
    assert(r.getAs[String]("cu_int") === "42")
    assert(r.getAs[Boolean]("k_binary"))
    val viaApi = {
      import org.apache.spark.sql.functions._
      spark.range(1).select(graft.functions.UrlFunctions.urlKey(
        lit("HTTP://User@Example.COM:80/a?b=2&a=1#frag")).as("k"))
        .collect().head.getLong(0)
    }
    assert(r.getAs[Long]("k") === viaApi)
  }

  test("nfc/nfkc normalize: composition, compat folding, codegen, SQL parity") {
    GraftFunctions.registerAll(spark)
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // decomposed e + U+0301 composes to precomposed é; NFKC also folds the
    // U+FB01 fi-ligature; pure-ASCII passes through unchanged
    val df = spark.range(1).select(
      TextFunctions.nfc_normalize(lit("café")).as("nfc"),
      TextFunctions.nfkc_normalize(lit("éﬁn")).as("nfkc"),
      TextFunctions.nfc_normalize(lit("plain ascii")).as("ascii"))
    val r = df.collect().head
    assert(r.getString(0) === "café")
    assert(r.getString(1) === "éfin")
    assert(r.getString(2) === "plain ascii")
    // stays in whole-stage codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // SQL front door agrees with the Column API
    val sqlR = spark.sql("SELECT nfc_normalize('café') AS a, " +
      "nfkc_normalize('ﬁn') AS b").collect().head
    assert(sqlR.getString(0) === "café" && sqlR.getString(1) === "fin")
  }

  test("fix_mojibake: repairs CP1252-mis-decoded UTF-8, leaves clean text alone") {
    GraftFunctions.registerAll(spark)
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val df = spark.range(1).select(
      // UTF-8 é (C3 A9) read as CP1252 shows "Ã©"
      TextFunctions.fix_mojibake(lit("thÃ© end")).as("a"),
      // UTF-8 ’ (E2 80 99) read as CP1252 shows "â€™" (€/™ are CP1252-only)
      TextFunctions.fix_mojibake(lit("itâ€™s")).as("b"),
      // genuine Latin-1 text: byte image E9 is NOT valid UTF-8 -> unchanged
      TextFunctions.fix_mojibake(lit("café")).as("c"),
      // pure ASCII fast path
      TextFunctions.fix_mojibake(lit("plain ascii")).as("d"),
      // emoji is outside CP1252 entirely -> encoder REPORTs -> unchanged
      TextFunctions.fix_mojibake(lit("ok 😀")).as("e"))
    val r = df.collect().head
    assert(r.getString(0) === "thé end")
    assert(r.getString(1) === "it’s")
    assert(r.getString(2) === "café")
    assert(r.getString(3) === "plain ascii")
    assert(r.getString(4) === "ok 😀")
    // repaired output is a fixpoint (idempotent on clean text)
    val again = spark.range(1).select(
      TextFunctions.fix_mojibake(lit("thé end")).as("a")).collect().head
    assert(again.getString(0) === "thé end")
    // stays in whole-stage codegen; SQL front door agrees
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    val sqlR = spark.sql(
      "SELECT fix_mojibake('thÃ©') AS a").collect().head
    assert(sqlR.getString(0) === "thé")
  }

  test("non-literal optional parameter rejected at analysis with a clear message") {
    GraftFunctions.registerAll(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT minhash_signature('x', length('ab') + 14, 3, 7)").collect()
    }
    assert(ex.getMessage.contains("integer literal"))
  }

  test("SparkSessionExtensions injection applies without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
