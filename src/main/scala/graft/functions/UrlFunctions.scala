package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.ColumnBridge

/**
 * URL canonicalization for crawl dedup/join keys — the normalization a
 * web pipeline applies before url-level dedup, resume keying, and
 * host-level salting (the reference keys its whole queue on the url,
 * /root/reference/src/queue.py:24-33, with no normalization at all: two
 * spellings of one page are two jobs; canonicalization collapses them).
 *
 * Deterministic rule set (RFC 3986 §6 normalizations that are safe
 * without fetching):
 *   1. scheme and host lowercased (case-insensitive per spec);
 *   2. default ports stripped (:80 for http, :443 for https);
 *   3. fragment dropped (never sent to the server);
 *   4. query parameters SORTED bytewise (param order is almost always
 *      insignificant; sorting makes the key canonical) — empty query
 *      ("?") dropped;
 *   5. empty path normalized to "/".
 *
 * Deliberately NOT done (lossy without server knowledge): percent-decode,
 * dot-segment removal, tracking-param stripping, www-folding.
 *
 * The rules run as ONE native Catalyst expression ([[CanonicalizeUrl]]):
 * a left-to-right scan with a static codegen call, ASCII hosts lowercased
 * without ICU. Its output is defined as that of the regex composition
 * below, character for character, including java.util.regex's treatment
 * of line terminators (`.` stops at \n, \r, U+0085, U+2028 and U+2029; `$` also
 * matches before a final one). `UrlFunctionsSpec` keeps that composition
 * as the differential reference:
 *
 *   m         = ^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$   (no match: url unchanged)
 *   scheme    = lower(m1);  userinfo = regexp_extract(m2, '^(.*@)', 1)
 *   host      = lower(regexp_replace(m2, '^.*@', '')) minus ':80$' (http) / ':443$' (https)
 *   path      = m3 up to the first '#', then up to the first '?'; '' -> '/'
 *   query     = params after that '?', split on '&', sorted bytewise, rejoined
 *   canonical = scheme://userinfo host path [?query]
 *
 * The DuckDB oracle SQL of `q_url_canon` is the external mirror of these
 * rules, written with DuckDB's regex built-ins.
 */
object UrlFunctions {

  /** Canonical url per the rule set above. Non-authority strings (no
    * scheme://) are returned unchanged; null stays null. */
  def canonicalizeUrl(url: Column): Column =
    ColumnBridge.column(CanonicalizeUrl(ColumnBridge.expression(url)))

  /** The canonical dedup/salting key: xxhash64 of the canonical url. */
  def urlKey(url: Column): Column = ColumnBridge.column(urlKeyExpr(ColumnBridge.expression(url)))

  /** Catalyst form of [[urlKey]] (xxhash64's default seed, 42). */
  def urlKeyExpr(url: Expression): Expression = new XxHash64(Seq(CanonicalizeUrl(url)))

  /** Static entry point for codegen. `icuLower` is Spark's
    * `spark.sql.icu.caseMappings.enabled`, read as `lower` reads it. */
  def canonicalize(u: UTF8String, icuLower: Boolean): UTF8String = {
    val s = u.toString
    val n = s.length
    // scheme: [A-Za-z][A-Za-z0-9+.-]* then "://"
    if (n == 0 || !isAlpha(s.charAt(0))) return u
    var schemeEnd = 1
    while (schemeEnd < n && isSchemeChar(s.charAt(schemeEnd))) schemeEnd += 1
    if (!s.startsWith("://", schemeEnd)) return u
    val authStart = schemeEnd + 3
    // authority: up to the first '/', '?' or '#'; userinfo runs to the
    // last '@' before the authority's first line terminator
    var authEnd = authStart
    var hostStart = authStart
    var sawTerminator = false
    while (authEnd < n && !isDelimiter(s.charAt(authEnd))) {
      val c = s.charAt(authEnd)
      if (isTerminator(c)) sawTerminator = true
      else if (c == '@' && !sawTerminator) hostStart = authEnd + 1
      authEnd += 1
    }
    // the rest `(.*)$` stops at its first line terminator, which must be
    // (the start of) the final one, or the url does not parse
    var restEnd = authEnd
    while (restEnd < n && !isTerminator(s.charAt(restEnd))) restEnd += 1
    if (!dollarAt(s, restEnd)) return u

    val out = new java.lang.StringBuilder(n + 1)
    val scheme = asciiLower(s.substring(0, schemeEnd))
    out.append(scheme).append("://").append(s, authStart, hostStart)
    val host = lowerHost(s.substring(hostStart, authEnd), icuLower)
    val port = scheme match {
      case "http" => ":80"
      case "https" => ":443"
      case _ => null
    }
    val portStart = if (port == null) -1 else suffixAt(host, port)
    if (portStart < 0) out.append(host)
    else out.append(host, 0, portStart).append(host, portStart + port.length, host.length)

    var fragment = authEnd
    while (fragment < restEnd && s.charAt(fragment) != '#') fragment += 1
    var query = authEnd
    while (query < fragment && s.charAt(query) != '?') query += 1
    if (query == authEnd) out.append('/') else out.append(s, authEnd, query)
    if (query + 1 < fragment) {
      val params = s.substring(query + 1, fragment).split("&", -1)
      java.util.Arrays.sort(params, CodePointOrder)
      out.append('?').append(params(0))
      var i = 1
      while (i < params.length) { out.append('&').append(params(i)); i += 1 }
    }
    UTF8String.fromString(out.toString)
  }

  private def isAlpha(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
  private def isDelimiter(c: Char): Boolean = c == '/' || c == '?' || c == '#'

  /** java.util.regex line terminators (no UNIX_LINES). */
  private def isTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Whether a non-MULTILINE `$` matches at index i: at the end, before a
    * final line terminator (but not between \r and \n), or before a final
    * \r\n. */
  private def dollarAt(s: String, i: Int): Boolean = {
    val n = s.length
    i == n ||
      (i == n - 1 && isTerminator(s.charAt(i)) && !(s.charAt(i) == '\n' && i > 0 && s.charAt(i - 1) == '\r')) ||
      (i == n - 2 && s.charAt(i) == '\r' && s.charAt(i + 1) == '\n')
  }

  /** Start of the first match of `suffix$` in s, or -1. */
  private def suffixAt(s: String, suffix: String): Int = {
    var end = math.max(suffix.length, s.length - 2)
    while (end <= s.length) {
      if (s.startsWith(suffix, end - suffix.length) && dollarAt(s, end)) return end - suffix.length
      end += 1
    }
    -1
  }

  private def asciiLower(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == s.length) s
    else {
      val a = s.toCharArray
      while (i < a.length) {
        if (a(i) >= 'A' && a(i) <= 'Z') a(i) = (a(i) + 32).toChar
        i += 1
      }
      new String(a)
    }
  }

  /** `lower` of the host: ASCII folds A-Z directly; anything else goes
    * through the same call Spark's `lower` makes. */
  private def lowerHost(h: String, icuLower: Boolean): String = {
    var i = 0
    while (i < h.length && h.charAt(i) < 0x80) i += 1
    if (i == h.length) asciiLower(h)
    else CollationSupport.Lower.exec(UTF8String.fromString(h),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
  }

  /** UTF-8 byte order (= code point order), the order `array_sort` gives
    * strings; String.compareTo orders UTF-16 units, which differs once a
    * surrogate meets a char in U+E000..U+FFFF. */
  private val CodePointOrder: java.util.Comparator[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length else codePointRank(a.charAt(i)) - codePointRank(b.charAt(i))
  }
  private def codePointRank(c: Char): Int =
    if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
}

/** canonicalize_url(s): the url canonical form of [[UrlFunctions]]. Like
  * the string built-ins the rules were composed of, it casts a non-string
  * argument to STRING (so `canonicalize_url(NULL)` is NULL). */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  private lazy val icuLower: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  override def inputTypes: Seq[StringType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UrlFunctions.canonicalize(v.asInstanceOf[UTF8String], icuLower)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlFunctions.canonicalize($c, $icuLower)")
  override protected def withNewChildInternal(c: Expression): CanonicalizeUrl = copy(child = c)
  override def prettyName: String = "canonicalize_url"
}
