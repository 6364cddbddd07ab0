package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Iceberg-style snapshot table built from scratch (no Iceberg jar in
 * /opt/spark/jars — SURVEY.md §4.3): immutable Parquet data files +
 * versioned JSON manifests + an atomically-renamed VERSION pointer.
 *
 * Layout:
 *   <dir>/data/snap-<v>-<uuid>/part-*.parquet  (data files of snapshot v)
 *   <dir>/metadata/v<v>.json                   (manifest: files, parent, metrics, lineage)
 *   <dir>/metadata/VERSION                     (version hint; atomic rename)
 *
 * Commit protocol (write data -> create manifest -> rename pointer)
 * reproduces the reference's pending->indexing->done row state machine
 * (/root/reference/src/queue.py:25-78) with snapshot isolation instead of
 * row mutation. Creating `v<v>.json` (parent v - 1) is the commit and is
 * put-if-absent, so of two writers that planned one version the second
 * throws, and it never touches the first's files: each snapshot's data dir
 * is its own. Readers advance past `VERSION` while `v<n+1>.json` exists. A
 * crash before the manifest leaves the partial data dir unreferenced.
 *
 * Readers see the union of the snapshot chain (each snapshot appends data
 * files). Resume reads the chain's (url, error) columns once, with that
 * schema given (no schema-inference job), in one of two forms:
 *  - `resumeIndex`: the chain folded by one Spark job into a
 *    [[ResumeIndex]] on the driver — a sorted `long[]` of url keys plus an
 *    `int[]` of states, 12 bytes per key, so at most about 48 MB at the
 *    4M-row default of `Extract.DefaultBloomResumeMinRows`, past which
 *    resume takes the Bloom path instead;
 *  - `resumeInputs`: DataFrames of the success urls and one per-url
 *    failure aggregate over the failed rows, which the Bloom path joins.
 *    `doneUrls` (successes plus terminal failures, the left-anti side) and
 *    `retryAttempts` (the re-drive set) are both built from it.
 */
object SnapshotTable {
  /** Reference default: src/settings.py:49 MAX_RETRIES = 3. */
  val DefaultMaxRetries = 3

  /** The columns resume reads from every snapshot's data files. */
  private val ResumeSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("error", StringType)))

  /** See [[SnapshotTable.resumeInputs]]. */
  final case class ResumeInputs(ok: DataFrame, fails: Option[DataFrame]) {
    import org.apache.spark.sql.functions.col
    /** Urls with a success or with maxRetries failed attempts. */
    def done(maxRetries: Int): DataFrame =
      fails.fold(ok)(f => ok.union(f.filter(col("fails") >= maxRetries).select("url")))
    /** (url, prior_attempts) of failed urls still below maxRetries, whether
      * or not they later succeeded. */
    def retryable(maxRetries: Int): Option[DataFrame] =
      fails.map(_.filter(col("fails") < maxRetries)
        .select(col("url"), col("fails").cast("int").as("prior_attempts")))
  }
}

final class SnapshotTable(dirStr: String) {
  import SnapshotTable.DefaultMaxRetries
  private val dir: Path = Paths.get(dirStr)
  private val metaDir = dir.resolve("metadata")
  private val dataDir = dir.resolve("data")
  private val mapper = new ObjectMapper

  final case class Manifest(version: Int, parent: Int, dataDirs: Seq[String],
                            metrics: Map[String, Long],
                            lineage: Seq[Map[String, Long]])

  /** The newest committed version: the `VERSION` hint, advanced while the
    * next manifest exists (a commit whose pointer flip has not landed). */
  def currentVersion: Option[Int] = {
    val p = metaDir.resolve("VERSION")
    var v = if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toInt else -1
    while (Files.exists(metaDir.resolve(s"v${v + 1}.json"))) v += 1
    if (v >= 0) Some(v) else None
  }

  def manifest(v: Int): Option[Manifest] = {
    val p = metaDir.resolve(s"v$v.json")
    if (!Files.exists(p)) return None
    val n = mapper.readTree(Files.readAllBytes(p))
    val dirs = n.get("dataDirs").elements().asScala.map(_.asText).toSeq
    val metrics = Option(n.get("metrics")).map { m =>
      m.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty)
    val lineage = Option(n.get("lineage")).map { arr =>
      arr.elements().asScala.map { e =>
        e.properties().asScala.map(kv => kv.getKey -> kv.getValue.asLong).toMap
      }.toSeq
    }.getOrElse(Seq.empty)
    Some(Manifest(n.get("version").asInt, n.get("parent").asInt, dirs, metrics, lineage))
  }

  /** All manifests visible at the current snapshot (chain walk). */
  def visibleManifests: Seq[Manifest] = currentVersion match {
    case None => Seq.empty
    case Some(v) =>
      val out = Seq.newBuilder[Manifest]
      var cur = v
      while (cur >= 0) {
        manifest(cur) match {
          case Some(m) =>
            require(m.parent < cur, s"snapshot table $dir: v$cur.json names parent ${m.parent}")
            out += m; cur = m.parent
          case None => cur = -1
        }
      }
      out.result()
  }

  /** All data dirs visible at the current snapshot (chain walk). */
  def visibleDataDirs: Seq[String] =
    visibleManifests.flatMap(_.dataDirs.filter(d => Files.exists(Paths.get(d))))

  /** Total quarantined rows across the chain per manifest metrics; None if
    * any manifest lacks the metric (then callers must assume failures). */
  def chainFailedTotal: Option[Long] = {
    val ms = visibleManifests
    val counts = ms.map(_.metrics.get("failed"))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Total rows written across the chain per manifest metrics ("input" =
    * rows committed per snapshot, successes + quarantine). None if any
    * manifest lacks the metric (externally-built chain). Upper-bounds the
    * distinct done-url count — the Bloom sizing estimate for resume. */
  def chainRowTotal: Option[Long] = {
    val counts = visibleManifests.map(_.metrics.get("input"))
    if (counts.isEmpty || counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Read the full table at the current snapshot. */
  def read(spark: SparkSession): DataFrame = {
    val dirs = visibleDataDirs
    require(dirs.nonEmpty, s"snapshot table $dir is empty")
    spark.read.parquet(dirs: _*)
  }

  /** Urls no longer pending: any successful row, or >= maxRetries failed
    * attempts (terminal quarantine). Mirrors the reference's
    * retry-then-terminal state machine (/root/reference/src/queue.py:59-78,
    * MAX_RETRIES at src/settings.py:49): a row that failed fewer than
    * maxRetries times stays pending and is re-driven by the next run.
    * Duplicate urls in the union are harmless for the anti-join consumer. */
  def doneUrls(spark: SparkSession, maxRetries: Int = DefaultMaxRetries): Option[DataFrame] =
    resumeInputs(spark).map(_.done(maxRetries))

  /** (url, prior_attempts) for urls that failed but are still retryable and
    * never succeeded — the re-drive set. None when the chain is empty or
    * recorded no failures. Small by construction: Catalyst/AQE will
    * broadcast it. */
  def retryAttempts(spark: SparkSession, maxRetries: Int = DefaultMaxRetries): Option[DataFrame] =
    resumeInputs(spark).flatMap(r =>
      r.retryable(maxRetries).map(_.join(r.ok, Seq("url"), "left_anti")))

  /** Rows across the chain: the manifests' total, or, when a manifest lacks
    * it (an externally built chain), one count job over the data files.
    * None when the chain is empty. */
  def chainRows(spark: SparkSession): Option[Long] = {
    val dirs = visibleDataDirs
    if (dirs.isEmpty) None
    else chainRowTotal.orElse(Some(
      spark.read.schema(SnapshotTable.ResumeSchema).parquet(dirs: _*).count()))
  }

  /** The chain's resume state per url key as a [[ResumeIndex]], from ONE
    * Spark job of one stage: the scan of (url, error) with that schema
    * given projects (url_key, error IS NULL, url of a failed row), each
    * task folds its rows into arrays, and the driver merges them. No
    * exchange, and no row per chain row reaches the driver. Its states
    * equal the [[SnapshotTable.ResumeInputs]] definition: `done` keyed with
    * url_key, and `retryable` with the max count per key. None when the
    * chain is empty. */
  def resumeIndex(spark: SparkSession, maxRetries: Int = DefaultMaxRetries): Option[ResumeIndex] = {
    import org.apache.spark.sql.functions._
    val dirs = visibleDataDirs
    if (dirs.isEmpty) None
    else {
      val t = spark.read.schema(SnapshotTable.ResumeSchema).parquet(dirs: _*)
      val key = graft.functions.UrlFunctions.urlKey(col("url"))
      // with no failures on record every row counts as done, as in resumeInputs
      val rows =
        if (chainFailedTotal.contains(0L)) t.select(key, lit(true), lit(null).cast("string"))
        else t.select(key, col("error").isNull, when(col("error").isNotNull, col("url")))
      val folds = rows.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(ResumeIndex.fold(it))).collect()
      Some(ResumeIndex.merge(folds.toSeq, maxRetries))
    }
  }

  /** The chain's resume inputs, from ONE parquet read of its (url, error)
    * columns with that schema given, so building them runs no
    * schema-inference job. (Listing the data files still runs a Spark job
    * once the chain has more dirs than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, default 32.)
    *  - `ok`: urls with a successful row (every url when the manifests
    *    record no failures: then it is the plain column-pruned url scan);
    *  - `fails`: (url, fails) — failed attempts per url, aggregated over
    *    the failed rows only (error IS NOT NULL pushes to the scan), so
    *    resume costs one success scan plus failure-proportional work, never
    *    a full-chain groupBy. None when the manifests record no failures.
    * None when the chain is empty. */
  def resumeInputs(spark: SparkSession): Option[SnapshotTable.ResumeInputs] = {
    import org.apache.spark.sql.functions._
    val dirs = visibleDataDirs
    if (dirs.isEmpty) None
    else {
      val t = spark.read.schema(SnapshotTable.ResumeSchema).parquet(dirs: _*)
      if (chainFailedTotal.contains(0L)) Some(SnapshotTable.ResumeInputs(t.select("url"), None))
      else Some(SnapshotTable.ResumeInputs(
        t.filter(col("error").isNull).select("url"),
        Some(t.filter(col("error").isNotNull)
          .groupBy("url").agg(count(lit(1)).as("fails")))))
    }
  }

  /** Write the data files for the next snapshot into a dir of its own (the
    * action runs here); manifest is NOT yet visible. Returns (version, snapDir). */
  def writeData(df: DataFrame): (Int, String) = {
    Files.createDirectories(metaDir)
    Files.createDirectories(dataDir)
    val v = currentVersion.map(_ + 1).getOrElse(0)
    val snapDir = dataDir.resolve(s"snap-$v-${java.util.UUID.randomUUID()}")
    df.write.parquet(snapDir.toString)
    (v, snapDir.toString)
  }

  /** Append `df` as a new snapshot. Returns the committed version. */
  def commit(df: DataFrame, metrics: Map[String, Long],
             lineage: Seq[Map[String, Long]] = Seq.empty): Int = {
    val (v, snapDir) = writeData(df)
    commitManifest(v, snapDir, metrics, lineage)
  }

  /** Publish a previously written snapshot: put-if-absent manifest + atomic
    * pointer flip. Throws when version v - 1 is not the current one or
    * another writer committed v first; the table is then unchanged. */
  def commitManifest(v: Int, snapDirStr: String, metrics: Map[String, Long],
                     lineage: Seq[Map[String, Long]] = Seq.empty): Int = {
    val snapDir = Paths.get(snapDirStr)
    val parent = currentVersion.getOrElse(-1)
    if (parent != v - 1)
      throw new java.util.ConcurrentModificationException(
        s"snapshot table $dir: cannot commit v$v over current version $parent")

    val root: ObjectNode = mapper.createObjectNode()
    root.put("version", v)
    root.put("parent", v - 1)
    val dd: ArrayNode = root.putArray("dataDirs")
    dd.add(snapDir.toString)
    val mn = root.putObject("metrics")
    metrics.foreach { case (k, x) => mn.put(k, x) }
    val ln = root.putArray("lineage")
    lineage.foreach { row =>
      val o = ln.addObject()
      row.foreach { case (k, x) => o.put(k, x) }
    }
    // the commit point: linking the written manifest is a put-if-absent create,
    // and readers never see it half written
    val staged = metaDir.resolve(s"v$v.json.${java.util.UUID.randomUUID()}")
    Files.write(staged, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    try Files.createLink(metaDir.resolve(s"v$v.json"), staged)
    finally Files.delete(staged)
    // pointer flip: the hint readers start the version probe from
    val tmp = metaDir.resolve(s"VERSION.tmp.$v")
    Files.write(tmp, v.toString.getBytes)
    Files.move(tmp, metaDir.resolve("VERSION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    v
  }
}
