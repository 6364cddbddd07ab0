package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class UrlFunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("url-functions")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("u").select(UrlFunctions.canonicalizeUrl(col("u"))).collect()
      .map(_.getString(0)).toSeq
  }

  test("canonicalization rules") {
    // scheme+host lowercase; default port stripped per scheme
    assert(canon("HTTP://WWW.Example.COM:80/a") === Seq("http://www.example.com/a"))
    assert(canon("https://Site.org:443/a") === Seq("https://site.org/a"))
    // :80 on https and odd ports are NOT default — kept
    assert(canon("https://site.org:80/a") === Seq("https://site.org:80/a"))
    assert(canon("http://site.org:8080/a") === Seq("http://site.org:8080/a"))
    // fragment dropped; empty path -> "/"
    assert(canon("http://a.b#frag") === Seq("http://a.b/"))
    assert(canon("http://a.b/x#frag") === Seq("http://a.b/x"))
    // query params sorted; bare "?" dropped
    assert(canon("http://a.b/x?z=1&a=2&m=3") === Seq("http://a.b/x?a=2&m=3&z=1"))
    assert(canon("http://a.b/x?") === Seq("http://a.b/x"))
    // query survives with fragment stripped after it
    assert(canon("http://a.b/x?b=2&a=1#sec") === Seq("http://a.b/x?a=1&b=2"))
    // userinfo is case-sensitive (RFC 3986) and preserved; host still folds
    assert(canon("http://User:Pw@Host.Com:80/x") === Seq("http://User:Pw@host.com/x"))
    // non-authority strings pass through untouched
    assert(canon("not a url", "mailto:x@y.z") === Seq("not a url", "mailto:x@y.z"))
  }

  test("urlKey collapses equivalent spellings, separates distinct pages") {
    import spark.implicits._
    val keys = Seq(
      "HTTP://Example.COM:80/page?b=2&a=1#top",
      "http://example.com/page?a=1&b=2",
      "http://example.com/other").toDF("u")
      .select(UrlFunctions.urlKey(col("u"))).collect().map(_.getLong(0)).toSeq
    assert(keys(0) === keys(1))
    assert(keys(0) !== keys(2))
  }

  test("stays in codegen: no UDF in the plan") {
    import spark.implicits._
    val plan = Seq("http://a.b/x").toDF("u")
      .select(UrlFunctions.canonicalizeUrl(col("u")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
  }

  /** The rule set as regex and array built-ins: the definition the native
    * expression must reproduce exactly. */
  private def composedCanonicalizeUrl(url: Column): Column = {
    val schemeHostPort = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$"
    val scheme = lower(regexp_extract(url, schemeHostPort, 1))
    val authority = regexp_extract(url, schemeHostPort, 2)
    val rest = regexp_extract(url, schemeHostPort, 3)
    val userinfo = regexp_extract(authority, "^(.*@)", 1)
    val hostLower = lower(regexp_replace(authority, "^.*@", ""))
    val hostPort = when(scheme === "http", regexp_replace(hostLower, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostLower, ":443$", ""))
      .otherwise(hostLower)
    val host = concat(userinfo, hostPort)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val path = regexp_replace(noFrag, "\\?.*$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val pathNorm = when(path === "", lit("/")).otherwise(path)
    val sortedQuery = array_join(array_sort(split(query, "&")), "&")
    val queryNorm = when(sortedQuery === "", lit(""))
      .otherwise(concat(lit("?"), sortedQuery))
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, pathNorm, queryNorm))
  }

  private val terminators = Seq("\n", "\r", "\u0085", "\u2028", "\u2029")

  private val handPicked: Seq[String] = {
    val bases = Seq(
      // schemes with + . - and mixed case
      "Svn+SSH://Host.Org/x", "a.b-c://H/", "hTTpS://Y.org:443", "HTTP://X", "z9+-.://Q",
      // userinfo with several '@'
      "http://a@b@Host.COM/x", "http://u:P@x@Y@H:80/", "http://@h/", "http://a@/",
      // default ports on both schemes, and doubled
      "http://h:80/", "http://h:443/", "https://h:80/", "https://h:443/",
      "http://h:80:80/", "https://h:443:443", "http://h:8080/", "http://h:80", "http://:80",
      "HTTP://H:80?b&a", "https://h:443#f",
      // '#' before '?', bare '?', '&&', trailing '&'
      "http://h/p#f?x=1", "http://h?#", "http://h/?", "http://h/p?a&&b", "http://h/p?b&",
      "http://h/?&", "http://h/?&&", "http://h#?", "http://h?", "http://h/p?b=2&a=1#x&y",
      // non-ASCII hosts, paths and params
      "http://BÜCHER.de/Straße?ü=1&a=2", "http://İSTANBUL.com/", "http://ΣΊΣΥΦΟΣ.gr/ΣΑ",
      "https://例え.JP/パス?キー=値&a=b", "http://Ａ.com/", "http://\u212A.com",
      "http://h/x?\uD83D\uDE00=1&\uFFFD=2&\uE000=3&a=4", "http://ü@Ü.de:80/",
      // no "://"
      "not a url", "mailto:x@y.z", "http:/x", "://x", "1http://x", "http//x", "")
    val withTerminators = for {
      t <- terminators
      b <- Seq("http://Example.COM:80/p?b=2&a=1#f", "https://U@H:443", "http://h/x?", "x")
      i <- Seq(0, b.length / 2, b.indexOf('/') + 3, b.indexOf('?'), b.length).distinct
      if i >= 0 && i <= b.length
    } yield b.substring(0, i) + t + b.substring(i)
    val tails = for {
      t <- terminators ++ Seq("\r\n", "\n\n", "\r\r", "\n\r", "\u0085\n")
      b <- Seq("http://H:80", "http://H:80/x", "https://h:443?b&a", "http://u\n@H/")
    } yield b + t
    bases ++ withTerminators ++ tails
  }

  private def fuzzed(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
    Seq.fill(n) {
      val u = pick("http", "HTTPS", "hTtP", "https", "ftp", "svn+ssh", "", "1x", "h ttp") +
        pick("://", "://", "://", ":/", "//") +
        pick("", "", "u@", "U:P@", "a@b@", "x\n@", "@") +
        pick("Example.COM", "h", "BÜCHER.de", "İ.x", "", "h\r", "a\u2028b", "Σ.gr") +
        pick("", "", ":80", ":443", ":80:80", ":8080", ":443:80") +
        pick("", "/", "/A/b", "/x#y", "/ü") +
        pick("", "?", "?b=2&a=1", "?a&&b", "?b&", "?&", "?z\u00e9=1&z\uD83D\uDE00=2&z\uFFFD=3") +
        pick("", "", "#", "#f?x", "#a&b") +
        pick("", "", "", "\n", "\r\n", "\u0085", "\u2028", "\u2029", "\n\n", "\r", "x\ny")
      if (rnd.nextInt(5) == 0) {
        val i = rnd.nextInt(u.length + 1)
        u.substring(0, i) + pick(terminators: _*) + u.substring(i)
      } else u
    }
  }

  /** Rows where native and composed disagree, on canonical string or key. */
  private def mismatches(df: DataFrame): Seq[String] =
    df.select(col("u"),
        UrlFunctions.canonicalizeUrl(col("u")).as("native"),
        composedCanonicalizeUrl(col("u")).as("composed"),
        UrlFunctions.urlKey(col("u")).as("native_key"),
        xxhash64(composedCanonicalizeUrl(col("u"))).as("composed_key"))
      .filter(!(col("native") <=> col("composed")) || !(col("native_key") <=> col("composed_key")))
      .collect().map(r => Seq(0, 1, 2).map(i => Option(r.getString(i))
        .map(_.flatMap(c => if (c < 0x20 || c > 0x7E) f"\\u${c.toInt}%04x" else c.toString)))
        .mkString(" | ")).toSeq

  test("differential: native canonicalizeUrl/urlKey equal the composed regex formula") {
    import spark.implicits._
    val corpus = (handPicked ++ fuzzed(3000, 7L)).map(Option(_)) :+ None
    assert(handPicked.size > 150)
    val local = corpus.toDF("u")
    // a local relation evaluates the projection interpreted (folded at
    // planning); the repartitioned copy runs it in generated code
    for (df <- Seq(local, local.repartition(3)))
      assert(mismatches(df).isEmpty, mismatches(df).take(20).mkString("\n"))
    // invalid UTF-8 bytes: both decode with replacement the same way
    val bytes = Seq("http://H\u00ffX/p?b&a", "x\u00c3", "HTTP://U@H:80/\u00ff#f")
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).toDF("b")
      .select(col("b").cast("string").as("u"))
    assert(mismatches(bytes).isEmpty, mismatches(bytes).mkString("\n"))
    // url_key(null) is xxhash64's seed
    assert(Seq(Option.empty[String]).toDF("u").select(UrlFunctions.urlKey(col("u")))
      .head().getLong(0) === 42L)
  }
}
