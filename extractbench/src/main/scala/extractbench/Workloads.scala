package extractbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.PageGen
import graft.functions.UrlFunctions
import graft.kernel.ExtractKernel
import graft.pipeline.Extract
import graft.tables.SnapshotTable

/** What a correct pass over one generated workload writes. */
final case class Expected(
    workload: String, seed: Long, inputRows: Long, inputBytes: Long,
    pendingRows: Long, written: Long, deduped: Long, digest: Digest.Acc,
    classRows: Map[String, Long], classBytes: Map[String, Long]) {
  def toJson: java.util.Map[String, AnyRef] = Json.obj(
    "workload" -> workload, "seed" -> seed, "input_rows" -> inputRows,
    "input_bytes" -> inputBytes, "pending_rows" -> pendingRows,
    "written" -> written, "deduped" -> deduped, "ok" -> digest.ok,
    "digest_sum" -> digest.sum, "digest_xor" -> digest.xor,
    "class_rows" -> classRows, "class_bytes" -> classBytes)
}

/**
 * Seeded workload generator. Everything a pass reads is written here, before
 * any timing, from `--seed` alone:
 *
 *  - fresh_mixed: `PageGen.page(i, seed)` rows (the PageGen payload mix) into
 *    an empty table;
 *  - resume_90: the same kind of corpus plus a few % url-variant spellings
 *    (case, default port, fragment, query order), run against a committed
 *    chain of 10 `Extract.run` snapshots holding 90% of the url keys and one
 *    quarantine snapshot (retryable and terminal failures).
 *
 * Every workload also gets its predicted pending set (resume, retry re-drive
 * and variant collapse applied, smallest spelling surviving) and the digest
 * of direct `ExtractKernel.extractOne` calls on that set.
 */
object Workloads {
  val Names: Seq[String] = Seq("fresh_mixed", "resume_90")

  /** Kernel payload classes, named after PageGen's `text` column. */
  val Classes: Seq[String] =
    Seq("html_utf8", "html_latin1", "html_edge", "pdf", "text", "junk_text", "binary")

  val ChainSlices = 10
  val DoneShare = 0.9

  /** Input rows at scale 1.0. */
  private def baseRows(name: String): Int = name match {
    case "fresh_mixed" => 24000
    case "resume_90" => 10000
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def rows(name: String, scale: Double): Int =
    math.max(200, math.round(baseRows(name) * scale).toInt)

  def hasChain(name: String): Boolean = name == "resume_90"

  /** PageGen's "html_utf8_uml" pages are UTF-8 HTML like "html_utf8". */
  def classOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === "html_utf8_uml", lit("html_utf8")).otherwise(c)

  /** The pages a pass hands to `Extract.run`. */
  def input(spark: SparkSession, layout: Layout): DataFrame =
    spark.read.parquet(layout.input.toString)

  /** (url, text, bytes): every input row's payload class and size. */
  private def labels(spark: SparkSession, layout: Layout): DataFrame =
    input(spark, layout)
      .select(col("url"), col("text"), length(col("html")).cast("long").as("bytes"))

  // ------------------------------------------------------------------ rng
  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------ resume_90
  private def doneRows(n: Int): Int = (n * DoneShare).toInt
  private def variantCount(n: Int): Int = math.max(5, n * 3 / 100) / 5 * 5

  /** Variant j respells a base page: j%5 = 0 upper-cases scheme and host,
    * 1 adds the default port, 2 adds a fragment, 3 and 4 are the two
    * parameter orders of one query (a pair whose base spelling is absent).
    * Bases are distinct, so no two variant rows share a spelling. */
  private def variantBase(j: Long, n: Int, seed: Long): Long = {
    val pair = if (j % 5 == 4) j - 1 else j
    Math.floorMod(mix(seed, -1L) + pair * 7919L, n.toLong)
  }

  private val UrlParts = "^([a-z]+)://([^/]+)(/.*)$".r

  private def variant(j: Long, n: Int, seed: Long): PageGen.Page = {
    val p = PageGen.page(variantBase(j, n, seed), seed)
    val UrlParts(scheme, host, path) = p.url
    val url = (j % 5).toInt match {
      case 0 => scheme.toUpperCase + "://" + host.toUpperCase + path
      case 1 => s"$scheme://$host:443$path"
      case 2 => s"${p.url}#part-$j"
      case 3 => s"${p.url}?b=2&a=1"
      case _ => s"${p.url}?a=1&b=2"
    }
    p.copy(url = url)
  }

  private def failure(url: String, attempt: Int): ExtractKernel.ExtractedDoc =
    ExtractKernel.ExtractedDoc(url, "html", null, null, null, Array.empty, 0.5, 0L,
      "TimeoutError: fetch timed out", ExtractKernel.Lineage(0, attempt, "error"))

  /** Failure rows of the quarantine snapshot: in the pending tenth, i%10 = 1
    * failed once (retryable) and i%10 = 2 failed three times (terminal); in
    * the done part, every 50th url failed once before it succeeded. */
  private def quarantine(n: Int, seed: Long): Seq[ExtractKernel.ExtractedDoc] = {
    val out = ArrayBuffer[ExtractKernel.ExtractedDoc]()
    def url(i: Int) = PageGen.page(i.toLong, seed).url
    (doneRows(n) until n).foreach { i =>
      i % 10 match {
        case 1 => out += failure(url(i), 0)
        case 2 => (0 until SnapshotTable.DefaultMaxRetries).foreach(a => out += failure(url(i), a))
        case _ =>
      }
    }
    (3 until doneRows(n) by 50).foreach(i => out += failure(url(i), 0))
    out.toSeq
  }

  private def buildChain(spark: SparkSession, n: Int, seed: Long, layout: Layout): SnapshotTable = {
    import spark.implicits._
    val table = new SnapshotTable(layout.chain.toString)
    val done = doneRows(n)
    (0 until ChainSlices).foreach { s =>
      val lo = done.toLong * s / ChainSlices
      val hi = done.toLong * (s + 1) / ChainSlices
      Extract.run(spark, spark.range(lo, hi).map(i => PageGen.page(i, seed)).toDF(), table)
    }
    val q = quarantine(n, seed)
    table.commit(q.toDS().toDF(),
      Map("input" -> q.size.toLong, "extracted" -> 0L, "failed" -> q.size.toLong,
        "deduped" -> 0L))
    table
  }

  // ------------------------------------------------------------ generate
  /** Writes the inputs a pass reads (and the committed chain). */
  def generate(spark: SparkSession, name: String, seed: Long, scale: Double,
               layout: Layout): Unit = {
    import spark.implicits._
    val n = rows(name, scale)
    val parts = Session.nproc * 2
    Log.timed(s"generating $name") {
      name match {
        case "fresh_mixed" =>
          spark.range(0, n, 1, parts).map(i => PageGen.page(i, seed))
            .write.parquet(layout.input.toString)
        case "resume_90" =>
          val nv = variantCount(n)
          spark.range(0, n + nv, 1, parts)
            .map(i => if (i < n) PageGen.page(i, seed) else variant(i - n, n, seed))
            .write.parquet(layout.input.toString)
          Log.timed("building the chain")(buildChain(spark, n, seed, layout))
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
    }
  }

  /** The predicted pending set and the digest of direct
    * `ExtractKernel.extractOne` calls on it: what a correct pass writes. */
  def expect(spark: SparkSession, name: String, seed: Long, layout: Layout): Expected =
    Log.timed("predicting the output")(expected(spark, name, seed, layout))

  private def expected(spark: SparkSession, name: String, seed: Long, layout: Layout): Expected = {
    import spark.implicits._
    val chain = if (hasChain(name)) Some(new SnapshotTable(layout.chain.toString)) else None
    val lab = labels(spark, layout)
    val mix = lab.groupBy(classOf(col("text")).as("cls"))
      .agg(count(lit(1)), sum(col("bytes"))).as[(String, Long, Long)].collect()
    Files2.deleteTree(layout.pending)
    val (pendingRows, written, deduped) = predict(spark, lab, chain, layout)
    val jobs = input(spark, layout).select("url", "html")
      .join(spark.read.parquet(layout.pending.toString), "url")
      .select("url", "html", "prior_attempts").as[(String, Array[Byte], Int)]
    val digest = Digest.of(spark,
      jobs.mapPartitions(_.map { case (u, h, a) => ExtractKernel.extractOne(u, h, 0, a) }))
    require(digest.rows == written, s"pending join lost rows: ${digest.rows} != $written")
    val exp = Expected(name, seed, mix.map(_._2).sum, mix.map(_._3).sum, pendingRows,
      written, deduped, digest,
      mix.map(m => m._1 -> m._2).toMap, mix.map(m => m._1 -> m._3).toMap)
    exp
  }

  /** The pending set a correct pass extracts, written to `layout.pending` as
    * (url, cls, prior_attempts): input rows whose canonical key no committed
    * success or terminal failure covers, one row per key (the smallest
    * spelling), carrying the key's prior failed attempts. Returns (rows past
    * resume, rows written, rows collapsed). */
  private def predict(spark: SparkSession, labels: DataFrame, chain: Option[SnapshotTable],
                      layout: Layout): (Long, Long, Long) = {
    val maxRetries = SnapshotTable.DefaultMaxRetries
    val keyed = labels.select(col("url"), classOf(col("text")).as("cls"),
      UrlFunctions.urlKey(col("url")).as("key"))
    val (notDone, retry) = chain match {
      case None => (keyed, None)
      case Some(t) =>
        val perUrl = t.read(spark).groupBy("url").agg(
          max(when(col("error").isNull, 1).otherwise(0)).as("ok"),
          sum(when(col("error").isNotNull, 1).otherwise(0)).as("fails"))
        val done = perUrl.filter(col("ok") === 1 || col("fails") >= maxRetries)
          .select(UrlFunctions.urlKey(col("url")).as("key"))
        val retry = perUrl.filter(col("ok") === 0 && col("fails") < maxRetries)
          .select(UrlFunctions.urlKey(col("url")).as("key"), col("fails"))
          .groupBy("key").agg(max(col("fails")).cast("int").as("prior_attempts"))
        (keyed.join(done, Seq("key"), "left_anti"), Some(retry))
    }
    val pendingRows = notDone.count()
    val survivors = notDone.groupBy("key")
      .agg(min(col("url")).as("url"), min_by(col("cls"), col("url")).as("cls"))
    val withPrior = retry match {
      case Some(r) => survivors.join(r, Seq("key"), "left")
        .withColumn("prior_attempts", coalesce(col("prior_attempts"), lit(0)))
      case None => survivors.withColumn("prior_attempts", lit(0))
    }
    withPrior.select("url", "cls", "prior_attempts").write.parquet(layout.pending.toString)
    val written = spark.read.parquet(layout.pending.toString).count()
    (pendingRows, written, pendingRows - written)
  }
}
