package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/**
 * One registry of every graft Catalyst expression, with two front doors:
 *
 *  - `spark.sql.extensions=graft.GraftExtensions` (cluster-wide, the
 *    idiomatic way to ship a function library: every session on every
 *    driver gets the functions at session build, no imperative register
 *    calls) — see [[GraftExtensions]];
 *  - `GraftFunctions.registerAll(spark)` for an already-running session
 *    (tests, notebooks).
 *
 * Optional parameters are accepted as integer literals, mirroring how
 * built-in SQL functions take them (e.g.
 * `minhash_signature(text, 64, 5, 42)`); non-literal parameters are
 * rejected at analysis time with a clear message rather than failing in
 * codegen.
 */
object GraftFunctions {

  private def need(es: Seq[Expression], n: Set[Int], name: String): Unit =
    if (!n.contains(es.length))
      throw new IllegalArgumentException(
        s"$name takes ${n.toSeq.sorted.mkString(" or ")} arguments, got ${es.length}")

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case Literal(v: Short, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal parameter, got $other")
  }
  private def longLit(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal parameter, got $other")
  }

  /** (name, builder) for every expression this library ships. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "sanitize_text" -> { es => need(es, Set(1), "sanitize_text"); SanitizeText(es.head) },
    "printable_ratio" -> { es => need(es, Set(1), "printable_ratio"); PrintableRatio(es.head) },
    "text_quality" -> { es => need(es, Set(1), "text_quality"); TextQuality(es.head) },
    "lang_id_ngram" -> { es => need(es, Set(1), "lang_id_ngram"); LangIdNgram(es.head) },
    "nfc_normalize" -> { es => need(es, Set(1), "nfc_normalize"); NfcNormalize(es.head) },
    "nfkc_normalize" -> { es => need(es, Set(1), "nfkc_normalize"); NfkcNormalize(es.head) },
    "fix_mojibake" -> { es => need(es, Set(1), "fix_mojibake"); FixMojibake(es.head) },
    "simhash64" -> { es => need(es, Set(1), "simhash64"); SimHash64(es.head) },
    "minhash_signature" -> { es =>
      need(es, Set(1, 4), "minhash_signature")
      if (es.length == 1) MinHashSignature(es.head)
      else MinHashSignature(es.head, intLit(es(1), "minhash_signature"),
        intLit(es(2), "minhash_signature"), longLit(es(3), "minhash_signature"))
    },
    "winnow_fingerprints" -> { es =>
      need(es, Set(1, 3), "winnow_fingerprints")
      if (es.length == 1) WinnowFingerprints(es.head)
      else WinnowFingerprints(es.head, intLit(es(1), "winnow_fingerprints"),
        intLit(es(2), "winnow_fingerprints"))
    },
    "lsh_bucket" -> { es =>
      need(es, Set(1, 4), "lsh_bucket")
      if (es.length == 1) LshBucket(es.head)
      else LshBucket(es.head, intLit(es(1), "lsh_bucket"),
        intLit(es(2), "lsh_bucket"), longLit(es(3), "lsh_bucket"))
    },
    "lsh_probes" -> { es =>
      need(es, Set(1, 5), "lsh_probes")
      if (es.length == 1) LshProbes(es.head)
      else LshProbes(es.head, intLit(es(1), "lsh_probes"), intLit(es(2), "lsh_probes"),
        longLit(es(3), "lsh_probes"), intLit(es(4), "lsh_probes"))
    },
    "minhash_band_hash" -> { es =>
      need(es, Set(3), "minhash_band_hash")
      MinHashBandHash(es.head, es(1), intLit(es(2), "minhash_band_hash"))
    },
    "vec_dot" -> { es => need(es, Set(2), "vec_dot"); VecDot(es.head, es(1)) },
    "canonicalize_url" -> { es => need(es, Set(1), "canonicalize_url"); CanonicalizeUrl(es.head) },
    "url_key" -> { es => need(es, Set(1), "url_key"); UrlFunctions.urlKeyExpr(es.head) }
  )

  /** Imperative registration into a live session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `spark.sql.extensions=graft.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
