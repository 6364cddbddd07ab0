package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

import graft.fixtures.PageGen

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming extraction drains a pages directory batch (AvailableNow)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-pages").toString
    spark.range(300).mapPartitions(_.map(i => PageGen.page(i, 42L)))
      .write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.streamingExtract(spark, dir)
      .writeStream.format("memory").queryName("extracted")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.sql("SELECT count(*) FROM extracted").head().getLong(0)
    assert(rows === 300)
    val types = spark.sql("SELECT DISTINCT doc_type FROM extracted").collect().map(_.getString(0)).toSet
    assert(types.contains("html") && types.contains("pdf"))
  }

  test("stream and batch agree: streamingExtract emits the rows Extract.run writes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-agree").toString
    // PageGen urls are distinct keys, so the batch pass collapses no variant
    spark.range(300).mapPartitions(_.map(i => PageGen.page(i, 42L)))
      .write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.streamingExtract(spark, dir)
      .writeStream.format("memory").queryName("agreement")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-agree").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val table = new graft.tables.SnapshotTable(Files.createTempDirectory("agree-table").toString)
    graft.pipeline.Extract.run(spark, spark.read.parquet(dir), table)

    // lineage records where each row ran, which differs between the paths
    val cols = Seq("url", "doc_type", "extracted_text", "text_main", "title", "spans",
      "quality", "n_chars", "error").map(org.apache.spark.sql.functions.col)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().sortBy(_.getString(0)).toSeq
    val streamed = rows(spark.table("agreement"))
    val batch = rows(table.read(spark))
    assert(streamed.length === 300 && batch.length === 300)
    val diff = streamed.zip(batch).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.length} rows differ, first: ${diff.headOption}")
  }

  test("quality-gated streaming extraction: bad docs rejected, counts observed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-gate").toString
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

    val q = StreamingExtract.qualityGatedExtract(spark, dir)
      .writeStream.format("memory").queryName("gated")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-gate").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val urls = spark.sql("SELECT url FROM gated").collect().map(_.getString(0)).toSet
    assert(urls === Set("doc://good-1", "doc://good-2"))
    // the reject count surfaced through observe() in the progress events
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("quality_gate")))
    val total = metrics.map(_.getAs[Long]("total")).sum
    val rejected = metrics.map(_.getAs[Long]("rejected")).sum
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

    val q = StreamingExtract.streamingWarcExtract(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("warc_gated")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-warc").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val urls = spark.sql("SELECT url FROM warc_gated").collect().map(_.getString(0)).toSet
    assert(urls === Set("warc://good-1", "warc://good-2"))
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("quality_gate")))
    val total = metrics.map(_.getAs[Long]("total")).sum
    val rejected = metrics.map(_.getAs[Long]("rejected")).sum
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

  test("firstSeenUrls emits each url exactly once across a duplicated batch") {
    import spark.implicits._
    val base = (0 until 100).map(i => (s"https://h/$i", i.toLong))
    val dup = base ++ base.map { case (u, t) => (u, t + 10) }
    val out = StreamingExtract.firstSeenUrls(spark, dup.toDS()).collect()
    assert(out.length === 100)
    assert(out.map(_.url).distinct.length === 100)
    out.foreach(s => assert(s.first_ts < 100))
  }

  test("firstSeenUrls state persists ACROSS micro-batches (MemoryStream)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamingExtract.firstSeenUrls(spark, in.toDS())
      .writeStream.format("memory").queryName("first_seen")
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-fs").toString)
      .start()
    try {
      // batch 1: urls 0..49
      in.addData((0 until 50).map(i => (s"https://h/$i", i.toLong)): _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM first_seen").head().getLong(0) === 50)
      // batch 2: 25 repeats (must be suppressed by state) + 25 new urls
      in.addData(((25 until 75)).map(i => (s"https://h/$i", 1000L + i)): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, first_ts FROM first_seen").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size === 75) // 50 + 25 new, repeats emitted nothing
      // a repeat keeps its batch-1 timestamp, a new url gets batch-2's
      assert(rows("https://h/30") === 30L)
      assert(rows("https://h/60") === 1060L)
    } finally q.stop()
  }
}
