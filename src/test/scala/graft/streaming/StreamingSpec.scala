package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}

import graft.fixtures.PageGen
import graft.functions.UrlFunctions
import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
import graft.pipeline.Extract
import graft.tables.SnapshotTable

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Drains `pages` into `table` with one AvailableNow run on checkpoint `ckpt`. */
  private def drain(pages: DataFrame, table: SnapshotTable, ckpt: String): StreamingQuery = {
    val q = StreamingExtract.extractInto(pages, table)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q
  }

  private def pageGen(from: Long, until: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).mapPartitions(_.map(i => PageGen.page(i, seed))).toDF()
  }

  /** Rows per url key in `table`. */
  private def rowsPerKey(table: SnapshotTable): Seq[Long] = {
    import spark.implicits._
    table.read(spark).groupBy(UrlFunctions.urlKey(col("url"))).count()
      .select("count").as[Long].collect().toSeq
  }

  test("streaming extraction drains a pages directory batch (AvailableNow)") {
    val dir = tmp("stream-pages")
    pageGen(0, 300, 42L).write.mode("overwrite").parquet(dir)
    val table = new SnapshotTable(tmp("stream-table"))
    drain(StreamingExtract.pages(spark, dir), table, tmp("ckpt"))

    assert(table.read(spark).count() === 300)
    val types = table.read(spark).select("doc_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.contains("html") && types.contains("pdf"))
  }

  test("stream and batch agree: variants, retryable and terminal failures") {
    import spark.implicits._
    val base = pageGen(0, 60, 42L).select("url", "html").as[(String, Array[Byte])].collect()
    val urls = base.map(_._1)
    val (retryUrl, deadUrl) = (urls(3), urls(5))
    // three spellings of a plain key and two of the retryable one, each with
    // its own html, so the surviving spelling shows in the extracted text
    def respell(u: String, i: Int) = i match {
      case 0 => u.replaceFirst("^https://", "HTTPS://")
      case 1 => u.replaceFirst("^https://([^/]+)/", "https://$1:443/") + "#frag"
    }
    val variants = Seq(urls(7), urls(7), retryUrl).zip(Seq(0, 1, 0)).zipWithIndex.map {
      case ((u, v), j) => (respell(u, v), base(40 + j)._2)
    }
    val dir = tmp("stream-agree")
    (base.toSeq ++ variants).toDF("url", "html").coalesce(1).write.mode("overwrite").parquet(dir)

    def failedRow(u: String, att: Int) = ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "transient: simulated", Lineage(0, att, "error"))
    def seeded(): SnapshotTable = {
      val t = new SnapshotTable(tmp("agree-table"))
      t.commit(Seq(failedRow(retryUrl, 0), failedRow(deadUrl, 0), failedRow(deadUrl, 1),
          failedRow(deadUrl, 2)).toDS().toDF(),
        Map("input" -> 4L, "extracted" -> 0L, "failed" -> 4L))
      t
    }
    val (streamTable, batchTable) = (seeded(), seeded())
    val q = drain(StreamingExtract.pages(spark, dir), streamTable, tmp("ckpt-agree"))
    Extract.run(spark, spark.read.parquet(dir), batchTable)

    // the micro-batch scan reads the pages' two columns only
    val lastPlan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
    val readSchemas = lastPlan.linesIterator.filter(_.contains("ReadSchema"))
      .map(_.replaceAll(".*ReadSchema: (\\S+).*", "$1")).toList
    assert(readSchemas === List("struct<url:string,html:binary>"), lastPlan)

    // lineage.partition_id records where a row ran; the attempt is compared
    val cols = Seq("url", "doc_type", "extracted_text", "text_main", "title", "spans",
      "quality", "n_chars", "error", "lineage.attempt").map(col)
    def rows(t: SnapshotTable): Seq[Row] =
      t.read(spark).select(cols: _*).collect().toSeq.sortBy(_.mkString("\u0001"))
    val (streamed, batch) = (rows(streamTable), rows(batchTable))
    // 4 seeded failures + 60 keys, less the terminal one
    assert(streamed.length === 63 && batch.length === 63)
    val diff = streamed.zip(batch).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.length} rows differ, first: ${diff.headOption}")
    def status(t: SnapshotTable) = Extract.statusCounts(spark, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(status(streamTable) === status(batchTable))
    assert(status(streamTable)("error") === 1L && !status(streamTable).contains("pending_retry"))

    // one row per key beyond the seeded failures; the smallest spelling won
    // and the retryable key was re-driven with its prior attempt
    val ok = streamTable.read(spark).filter(col("error").isNull)
      .select(col("url"), col("lineage.attempt")).as[(String, Int)].collect().toMap
    assert(ok.size === 59)
    assert(ok.contains(respell(urls(7), 0)) && !ok.contains(urls(7)))
    assert(ok(respell(retryUrl, 0)) === 1 && !ok.contains(deadUrl))
  }

  test("a later micro-batch's variant of a done key is not extracted") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def page(u: String) =
      (u, s"<html><body><p>${"page body words " * 10} $u</p></body></html>".getBytes("UTF-8"))
    val in = MemoryStream[(String, Array[Byte])]
    val table = new SnapshotTable(tmp("two-batches"))
    val q = StreamingExtract.extractInto(in.toDF().toDF("url", "html"), table)
      .option("checkpointLocation", tmp("ckpt-two")).start()
    try {
      // micro-batch 0: two spellings of key a, so the smallest survives
      in.addData(Seq("https://example.com/a?y=2&x=1", "https://Example.COM/a?x=1&y=2",
        "https://example.com/b").map(page): _*)
      q.processAllAvailable()
      // micro-batch 1: a third spelling of the done key a, and a new key c
      in.addData(Seq("https://example.com:443/a?x=1&y=2#f", "https://example.com/c").map(page): _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(table.manifest(0).get.metrics("input") === 2L)
    assert(table.manifest(0).get.metrics("deduped") === 1L)
    assert(table.manifest(1).get.metrics("input") === 1L, "only key c is new in micro-batch 1")
    assert(table.read(spark).select("url").as[String].collect().toSet ===
      Set("https://Example.COM/a?x=1&y=2", "https://example.com/b", "https://example.com/c"))
  }

  test("crash after table commit: the replayed micro-batch extracts nothing") {
    val dir = tmp("stream-replay")
    pageGen(0, 40, 8L).write.mode("overwrite").parquet(dir)
    val table = new SnapshotTable(tmp("replay-table"))
    val ckpt = tmp("ckpt-replay")
    drain(StreamingExtract.pages(spark, dir), table, ckpt)
    assert(table.currentVersion === Some(0) && table.manifest(0).get.metrics("input") === 40L)

    // the table committed micro-batch 0, the checkpoint never did
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    drain(StreamingExtract.pages(spark, dir), table, ckpt)
    assert(table.currentVersion === Some(1))
    assert(table.manifest(1).get.metrics("input") === 0L, "the replay extracted a done key")
    assert(rowsPerKey(table).sorted === Seq.fill(40)(1L))
  }

  test("crash between data write and manifest: the restart commits each row once") {
    val dir = tmp("stream-orphan")
    val tableDir = tmp("orphan-table")
    val table = new SnapshotTable(tableDir)
    val ckpt = tmp("ckpt-orphan")
    pageGen(0, 20, 9L).write.mode("append").parquet(dir)
    drain(StreamingExtract.pages(spark, dir), table, ckpt)
    pageGen(20, 50, 9L).write.mode("append").parquet(dir)
    drain(StreamingExtract.pages(spark, dir), table, ckpt)
    assert(table.currentVersion === Some(1))

    // undo micro-batch 1's manifest, pointer and checkpoint commit; its data
    // dir stays behind, referenced by nothing
    val orphan = table.manifest(1).get.dataDirs.head
    val meta = Paths.get(tableDir, "metadata")
    Files.write(meta.resolve("VERSION"), "0".getBytes)
    Files.delete(meta.resolve("v1.json"))
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    assert(table.currentVersion === Some(0) && table.read(spark).count() === 20)

    drain(StreamingExtract.pages(spark, dir), table, ckpt)
    assert(table.currentVersion === Some(1))
    assert(table.manifest(1).get.metrics("input") === 30L)
    assert(Files.exists(Paths.get(orphan)) && !table.visibleDataDirs.contains(orphan))
    assert(rowsPerKey(table).sorted === Seq.fill(50)(1L))
  }

  /** The gated read of `table`: its urls and the observed (total, rejected). */
  private def gatedRead(table: SnapshotTable): (Set[String], (Long, Long)) = {
    val gated = StreamingExtract.qualityGate(table.read(spark))
    val urls = gated.collect().map(_.getAs[String]("url")).toSet
    val m = gated.queryExecution.observedMetrics("quality_gate")
    (urls, (m.getAs[Long]("total"), m.getAs[Long]("rejected")))
  }

  test("quality-gated streaming extraction: bad docs rejected, counts observed") {
    import spark.implicits._
    val dir = tmp("stream-gate")
    // text payloads take the fallback path and extract verbatim, so the
    // gate sees exactly these words
    val good = ("the quick brown fox jumps over and over for fun " * 6).trim
    val bad = "way too short for the gate"
    Seq(
      ("doc://good-1", new java.sql.Timestamp(0L), good.getBytes("UTF-8"), "t", "en"),
      ("doc://good-2", new java.sql.Timestamp(0L), good.getBytes("UTF-8"), "t", "en"),
      ("doc://bad-1", new java.sql.Timestamp(0L), bad.getBytes("UTF-8"), "t", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    val table = new SnapshotTable(tmp("gate-table"))
    drain(StreamingExtract.pages(spark, dir), table, tmp("ckpt-gate"))

    // the table keeps the reject; the read drops it and counts it
    assert(table.read(spark).count() === 3)
    val (urls, (total, rejected)) = gatedRead(table)
    assert(urls === Set("doc://good-1", "doc://good-2"))
    assert(total === 3L && rejected === 1L, s"observed total=$total rejected=$rejected")
  }

  test("streaming WARC ingest: .warc.gz through the gopher gate (AvailableNow)") {
    import graft.sources.warc.WarcFixtures
    val dir = Files.createTempDirectory("stream-warc").toFile
    val good = ("the quick brown fox jumps over and over for fun " * 6).trim
    val bad = "way too short for the gate"
    // one gz file (two records, one failing the gate) + one plain file:
    // both layouts must flow through the same stream
    WarcFixtures.writeWarc(new java.io.File(dir, "a.warc.gz"), Seq(
      ("warc://good-1", "2026-01-01T00:00:01Z", good.getBytes("UTF-8")),
      ("warc://bad-1", "2026-01-01T00:00:02Z", bad.getBytes("UTF-8"))),
      gzip = true)
    WarcFixtures.writeWarc(new java.io.File(dir, "b.warc"), Seq(
      ("warc://good-2", "2026-01-01T00:00:03Z", good.getBytes("UTF-8"))))
    val table = new SnapshotTable(tmp("warc-table"))
    drain(StreamingExtract.warcPages(spark, dir.getAbsolutePath), table, tmp("ckpt-warc"))

    val (urls, (total, rejected)) = gatedRead(table)
    assert(urls === Set("warc://good-1", "warc://good-2"))
    assert(total === 3L && rejected === 1L, s"observed total=$total rejected=$rejected")
  }

  test("watermarked event rollup over a bounded stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)

    val q = StreamingExtract.eventRollup(stream)
      .writeStream.format("memory").queryName("rollup")
      .outputMode("complete") // bounded test stream; append would hold back the open window
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val batchTotal = spark.read.parquet(dir).count()
    val streamTotal = spark.sql("SELECT sum(n) FROM rollup").head().getLong(0)
    assert(streamTotal === batchTotal)
  }
}
