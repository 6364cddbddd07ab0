package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.fixtures.PageGen
import graft.tables.SnapshotTable

/** End-to-end: synthesize pages -> Extract.run -> snapshot commit ->
  * resume is a no-op -> incremental append processes only new urls. */
class ExtractPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("extract-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // Both resume strategies must be row-identical end-to-end: the in-scan
  // lookup (bloomMin = MaxValue can never trigger the Bloom path) and the
  // Bloom-pruned exact anti-join (bloomMin = 0 forces it whenever a chain
  // exists).
  private val strategies = Seq("lookup" -> Long.MaxValue, "forced-bloom" -> 0L)

  for ((label, bloomMin) <- strategies)
  test(s"extract 500 pages, commit, resume no-op, incremental append [$label]") {
    import spark.implicits._
    val pagesDir = tmp("pages")
    val tableDir = tmp("table")

    spark.range(500).mapPartitions(_.map(i => PageGen.page(i, 42L)))
      .write.mode("overwrite").parquet(pagesDir)

    val table = new SnapshotTable(tableDir)
    val pages = spark.read.parquet(pagesDir)

    // pass 1: everything pending
    val m1 = Extract.run(spark, pages, table, numPartitions = 4, bloomResumeMinRows = bloomMin)
    assert(m1.version === 0)
    assert(m1.input === 500)
    assert(m1.failed === 0, s"unexpected quarantine rows: ${m1.failed}")
    assert(table.read(spark).count() === 500)

    // pass 2 on same input: resume anti-join -> nothing to do
    val m2 = Extract.run(spark, pages, table, numPartitions = 4, bloomResumeMinRows = bloomMin)
    assert(m2.input === 0, "resume must be a no-op on unchanged input")
    assert(table.read(spark).count() === 500)

    // pass 3: 100 new pages appended -> only those processed
    spark.range(500, 600).mapPartitions(_.map(i => PageGen.page(i, 42L)))
      .write.mode("append").parquet(pagesDir)
    val m3 = Extract.run(spark, spark.read.parquet(pagesDir), table,
      numPartitions = 4, bloomResumeMinRows = bloomMin)
    assert(m3.input === 100, s"expected 100 incremental, got ${m3.input}")
    val all = table.read(spark)
    assert(all.count() === 600)
    assert(all.select("url").distinct().count() === 600, "exactly-once per url")

    // status rollup behaves like the reference's queue stats
    val statuses = Extract.statusCounts(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("done", 0L) > 400)
    assert(!statuses.contains("error"))

    // manifest metrics persisted
    val mf = table.manifest(0).get
    assert(mf.metrics("input") === 500)
    assert(mf.metrics("bytes_in") > 0)
  }

  for ((label, bloomMin) <- strategies)
  test(s"failed rows re-driven with incremented attempt, terminal at maxRetries [$label]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val tableDir = tmp("table3")
    val table = new SnapshotTable(tableDir)
    val pages = spark.range(20).mapPartitions(_.map(i => PageGen.page(i, 11L))).toDF()
    val urls = pages.select("url").as[String].collect().sorted
    val (retryUrl, deadUrl) = (urls(3), urls(5))

    // seed a snapshot holding only failures: retryUrl failed once (attempt 0),
    // deadUrl exhausted all 3 attempts (reference MAX_RETRIES)
    def failedRow(u: String, att: Int) = ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "transient: simulated", Lineage(0, att, "error"))
    val seeded = Seq(failedRow(retryUrl, 0),
      failedRow(deadUrl, 0), failedRow(deadUrl, 1), failedRow(deadUrl, 2)).toDS().toDF()
    table.commit(seeded, Map("input" -> 4L, "extracted" -> 0L, "failed" -> 4L))

    // before the re-drive: one pending_retry, one terminal error
    val pre = Extract.statusCounts(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pre.getOrElse("pending_retry", 0L) === 1)
    assert(pre.getOrElse("error", 0L) === 1)

    // run: all 20 minus deadUrl (terminal) are pending; retryUrl re-driven
    val m1 = Extract.run(spark, pages, table, numPartitions = 2, bloomResumeMinRows = bloomMin)
    assert(m1.input === 19, s"expected 19 pending (terminal url excluded), got ${m1.input}")
    val out = table.read(spark)
    val retryRows = out.filter(col("url") === retryUrl && col("error").isNull)
    assert(retryRows.count() === 1, "re-driven url must now have a success row")
    assert(retryRows.select("lineage.attempt").as[Int].head() === 1,
      "re-drive must carry attempt = prior failure count")
    assert(out.filter(col("url") === deadUrl && col("error").isNull).count() === 0,
      "terminal url must not be re-attempted")

    // resume is again a no-op (successes + terminal failures both done)
    val m2 = Extract.run(spark, pages, table, numPartitions = 2, bloomResumeMinRows = bloomMin)
    assert(m2.input === 0, "nothing pending after re-drive")

    val post = Extract.statusCounts(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(post.getOrElse("pending_retry", 0L) === 0)
    assert(post.getOrElse("error", 0L) === 1)
    assert(post.getOrElse("done", 0L) + post.getOrElse("done_empty", 0L) === 19)
  }

  for ((label, bloomMin) <- strategies)
  test(s"resume over url spellings: max attempts per key, terminal or success spelling is done [$label]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val table = new SnapshotTable(tmp("table5"))
    // three keys, two committed spellings each
    val (a1, a2) = ("https://Example.COM/a?x=1&y=2", "https://example.com:443/a?y=2&x=1#f")
    val (b1, b2) = ("http://B.org/p", "HTTP://b.org:80/p")
    val (c1, c2) = ("http://c.org/q?b&a", "http://C.ORG/q?a&b")
    def failed(u: String, att: Int) = ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "transient: simulated", Lineage(0, att, "error"))
    val ok = ExtractedDoc(c2, "html", "ok text", null, null, Array.empty, 0.5, 7L, null,
      Lineage(0, 0, "t"))
    val chain = Seq(
      failed(a1, 0),                                  // a: 1 and 2 failures
      failed(a2, 0), failed(a2, 1),
      failed(b1, 0), failed(b1, 1), failed(b1, 2),    // b: terminal + retryable
      failed(b2, 0),
      failed(c1, 0), ok)                              // c: failed + succeeded
    table.commit(chain.toDS().toDF(), Map("input" -> 9L, "extracted" -> 1L, "failed" -> 8L))

    def page(u: String) =
      (u, s"<html><body><p>${"page body words " * 10}</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fresh = "https://fresh.org/1"
    val pages = Seq(a1, a2, b1, b2, c1, c2, fresh).map(page).toDF("url", "html")
    val m = Extract.run(spark, pages, table, numPartitions = 2, bloomResumeMinRows = bloomMin)
    assert(m.input === 2, s"only key a (once) and the fresh url are pending: ${m.input}")
    assert(table.manifest(1).get.metrics("deduped") === 1)
    val written = table.read(spark).filter(col("error").isNull && col("url") =!= c2)
      .select(col("url"), col("lineage.attempt")).as[(String, Int)].collect().toMap
    // key a re-driven once, from its smallest spelling, with the larger count
    assert(written === Map(a1 -> 2, fresh -> 0), s"$written")
  }

  for ((label, bloomMin) <- strategies)
  test(s"externally built chain without an input metric: sized by a count, resumes exactly [$label]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val table = new SnapshotTable(tmp("table6"))
    val (okUrl, retryUrl, deadUrl, fresh) =
      ("https://s.org/ok", "https://s.org/retry", "https://s.org/dead", "https://s.org/new")
    def failed(u: String, att: Int) = ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "transient: simulated", Lineage(0, att, "error"))
    val chain = Seq(ExtractedDoc(okUrl, "html", "ok text", null, null, Array.empty, 0.5, 7L,
        null, Lineage(0, 0, "t")),
      failed(retryUrl, 0), failed(deadUrl, 0), failed(deadUrl, 1), failed(deadUrl, 2))
    // no "input" (nor "failed") in the manifest: the chain's size is unknown
    table.commit(chain.toDS().toDF(), Map.empty)
    assert(table.chainRowTotal.isEmpty)

    val body = s"<html><body><p>${"page body words " * 10}</p></body></html>"
    val pages = Seq(okUrl, retryUrl, deadUrl, fresh)
      .map(u => (u, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))).toDF("url", "html")
    val m = Extract.run(spark, pages, table, numPartitions = 2, bloomResumeMinRows = bloomMin)
    assert(m.input === 2, s"only the retryable and the fresh url are pending: ${m.input}")
    val written = table.read(spark).filter(col("error").isNull && col("url") =!= okUrl)
      .select(col("url"), col("lineage.attempt")).as[(String, Int)].collect().toMap
    assert(written === Map(retryUrl -> 1, fresh -> 0), s"$written")
  }

  test("the lookup's index broadcast lives for one pass, also when its write throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    // every job's task binary is a broadcast too, released only once the
    // ContextCleaner sees it collected: the blocks a pass must release
    // itself are those of its ResumeIndex (destroy() is asynchronous)
    def indexBlocks: Int = org.apache.spark.graft.BroadcastBlocks.values(sc)
      .count(_.isInstanceOf[graft.tables.ResumeIndex])
    def released(before: Int): Unit =
      eventually(timeout(20.seconds), interval(50.millis))(assert(indexBlocks <= before))
    val pages = spark.range(40).mapPartitions(_.map(i => PageGen.page(i, 5L))).toDF()
    val table = new SnapshotTable(tmp("table7"))
    Extract.run(spark, pages.filter(col("url").endsWith("0") || col("url").endsWith("5")),
      table, numPartitions = 2)
    val before = indexBlocks

    // plan holds the broadcast until release
    val planned = Extract.plan(spark, pages, Some(table), numPartitions = 2)
    assert(planned.resume.nonEmpty && indexBlocks === before + 1)
    planned.release()
    released(before)

    val m = Extract.run(spark, pages, table, numPartitions = 2)
    assert(m.input === 32)
    released(before)

    // new pages whose html throws in the write, after the index is broadcast
    val boom = udf((b: Array[Byte]) => if (b != null) throw new IllegalStateException("boom") else b)
    val failing = spark.range(40, 50).mapPartitions(_.map(i => PageGen.page(i, 5L))).toDF()
      .withColumn("html", boom(col("html")))
    val e = intercept[Exception](Extract.run(spark, failing, table, numPartitions = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    released(before)
  }

  test("canonical url keys: case/port/fragment/param-order variants collapse to one extraction") {
    import spark.implicits._
    val tableDir = tmp("table4")
    val table = new SnapshotTable(tableDir)
    def page(u: String) =
      (u, s"<html><body><p>${"page body words " * 10}</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val variants = Seq(
      "https://Example.COM:443/a?x=1&y=2#frag",
      "https://example.com/a?y=2&x=1",
      "https://example.com:443/a?x=1&y=2")
    val others = (1 to 5).map(i => s"https://host$i.org/p$i")
    val pages = (variants ++ others).map(page).toDF("url", "html")

    val m1 = Extract.run(spark, pages, table, numPartitions = 2)
    assert(m1.input === 6, s"3 variants must collapse to 1: ${m1.input}")
    val urls = table.read(spark).select("url").as[String].collect().toSet
    assert(urls.count(_.toLowerCase.contains("example.com")) === 1, s"$urls")
    // deterministic representative: lexicographically smallest spelling
    assert(urls.contains(variants.sorted.head), s"$urls")
    assert(table.manifest(0).get.metrics("deduped") === 2)

    // resume: yet another spelling of the same page is already done
    val respelled = Seq(page("https://EXAMPLE.com/a?y=2&x=1#other")).toDF("url", "html")
    val m2 = Extract.run(spark, respelled, table, numPartitions = 2)
    assert(m2.input === 0, "respelled url must resume as done")
  }

  test("incremental maintenance: crawlDelta-driven re-extract equals a full re-extract") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // crawl 1: 150 pages, extracted to the base table
    val crawl1 = spark.range(150).mapPartitions(_.map(i => PageGen.page(i, 42L)))
      .toDF().select("url", "html").cache()
    val base = new SnapshotTable(tmp("tbl-base"))
    Extract.run(spark, crawl1, base, numPartitions = 2)

    // crawl 2: %7 pages vanish, %5 pages get brand-new html (url-keyed
    // content so both paths extract identical bytes), 30 new pages appear
    val i = regexp_extract(col("url"), "/doc/42/(\\d+)$", 1).cast("long")
    val survivors = crawl1.filter(i % 7 =!= 0)
    val crawl2 = survivors
      .withColumn("html", when(i % 5 === 0,
        encode(concat(lit("<html><body><p>updated v2 content for "),
          col("url"), lit(" with enough words to extract</p></body></html>")),
          "UTF-8")).otherwise(col("html")))
      .unionByName(spark.range(1000, 1030)
        .mapPartitions(_.map(j => PageGen.page(j, 42L))).toDF()
        .select("url", "html"))
      .cache()

    // the delta classifies by content hash on the raw payload
    val delta = graft.operators.CorpusStats.crawlDelta(
      crawl1, crawl2, textCol = "html", idCol = "url").cache()
    val byStatus = delta.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus("removed") === 22)   // 0,7,...,147
    assert(byStatus("added") === 30)
    assert(byStatus("changed") === 25)   // 30 %5-multiples minus 5 %35-overlaps
    assert(byStatus("unchanged") === 103)

    // incremental path: re-extract ONLY added+changed into a staging
    // table, then assemble v2 = unchanged rows from base + staging
    val toProcess = crawl2.join(
      delta.filter(col("status").isin("added", "changed")).select("url"), "url")
    val staging = new SnapshotTable(tmp("tbl-staging"))
    val mInc = Extract.run(spark, toProcess, staging, numPartitions = 2)
    assert(mInc.input === 55, s"incremental must process 55, got ${mInc.input}")

    val keep = Seq("url", "doc_type", "extracted_text", "n_chars")
    val incremental = base.read(spark)
      .join(delta.filter(col("status") === "unchanged").select("url"), "url")
      .select(keep.head, keep.tail: _*)
      .unionByName(staging.read(spark).select(keep.head, keep.tail: _*))

    // full path: extract crawl 2 from scratch
    val full = new SnapshotTable(tmp("tbl-full"))
    Extract.run(spark, crawl2, full, numPartitions = 2)
    val fullOut = full.read(spark).select(keep.head, keep.tail: _*)

    def key(df: org.apache.spark.sql.DataFrame) = df.select(col("url"),
      col("doc_type"), md5(encode(coalesce(col("extracted_text"), lit("")),
        "UTF-8")).as("fp"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val (inc, ful) = (key(incremental), key(fullOut))
    assert(inc === ful,
      s"incremental != full; only-inc=${(inc -- ful).take(3)} only-full=${(ful -- inc).take(3)}")
    crawl1.unpersist(); crawl2.unpersist(); delta.unpersist()
  }

  test("interrupted commit leaves previous snapshot intact (crash safety)") {
    import spark.implicits._
    val tableDir = tmp("table2")
    val table = new SnapshotTable(tableDir)
    val pages1 = spark.range(50).mapPartitions(_.map(i => PageGen.page(i, 7L))).toDF()
    Extract.run(spark, pages1, table, numPartitions = 2)
    assert(table.currentVersion === Some(0))

    // simulate a crash between writeData and commitManifest: data written,
    // pointer never flipped
    val pages2 = spark.range(50, 80).mapPartitions(_.map(i => PageGen.page(i, 7L))).toDF()
    import org.apache.spark.sql.functions._
    val (v, dir) = table.writeData(pages2.select(col("url")))
    assert(v === 1)
    // reader still sees snapshot 0 only
    assert(table.currentVersion === Some(0))
    assert(table.read(spark).count() === 50)
  }

  test("two writers planned at one version: the loser throws, the winner's rows stay") {
    import spark.implicits._
    val tableDir = tmp("table8")
    val (a, b) = (new SnapshotTable(tableDir), new SnapshotTable(tableDir))
    a.commit(Seq("https://w.org/0").toDF("url"), Map("input" -> 1L))
    // both plan version 1 before either commits
    val (va, dirA) = a.writeData(Seq("https://w.org/a1", "https://w.org/a2").toDF("url"))
    val (vb, dirB) = b.writeData(Seq("https://w.org/b1").toDF("url"))
    assert(va === 1 && vb === 1)
    a.commitManifest(va, dirA, Map("input" -> 2L))
    intercept[java.util.ConcurrentModificationException](b.commitManifest(vb, dirB, Map("input" -> 1L)))

    assert(a.currentVersion === Some(1) && b.currentVersion === Some(1))
    assert(b.visibleManifests.map(_.version) === Seq(1, 0))
    assert(b.read(spark).as[String].collect().toSet ===
      Set("https://w.org/0", "https://w.org/a1", "https://w.org/a2"))
  }

  test("statusCounts resolves per url key: fails count per spelling, any success is done") {
    import spark.implicits._
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val table = new SnapshotTable(tmp("table9"))
    def failed(u: String, att: Int) = ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "transient: simulated", Lineage(0, att, "error"))
    val (a1, a2) = ("http://a.org/p", "HTTP://A.org:80/p")
    val (b1, b2) = ("http://b.org/p", "http://B.org/p#x")
    val (c1, c2) = ("http://c.org/p", "http://C.org/p")
    // a: one spelling failed once, a later pass succeeded under the other;
    // b: one spelling is terminal; c: two failures per spelling, four per key
    table.commit(Seq(failed(a1, 0), failed(b1, 0), failed(b1, 1), failed(b1, 2), failed(b2, 0),
        failed(c1, 0), failed(c1, 1), failed(c2, 0), failed(c2, 1)).toDS().toDF(),
      Map("input" -> 9L, "extracted" -> 0L, "failed" -> 9L))
    table.commit(Seq(ExtractedDoc(a2, "html", "ok text", null, null, Array.empty, 0.5, 7L, null,
      Lineage(0, 0, "t"))).toDS().toDF(), Map("input" -> 1L, "extracted" -> 1L, "failed" -> 0L))

    val statuses = Extract.statusCounts(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses === Map("done" -> 1L, "error" -> 1L, "pending_retry" -> 1L), s"$statuses")
    // resume agrees: only key c is re-driven
    val body = s"<html><body><p>${"page body words " * 10}</p></body></html>".getBytes("UTF-8")
    val m = Extract.run(spark, Seq(a1, b2, c1).map(u => (u, body)).toDF("url", "html"), table,
      numPartitions = 2)
    assert(m.input === 1L)
  }

  test("the kernel stage partitions on url_key: even rows at P = 4, over 256 tasks at P = 512") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // rows per kernel partition of `Extract.plan` (no table) over n seeded pages
    def rowsPerPartition(n: Int, p: Int): Map[Int, Long] = {
      val pages = spark.range(n).mapPartitions(_.map(i => PageGen.page(i, 3L))).toDF()
      Extract.plan(spark, pages, numPartitions = p).docs
        .groupBy(col("lineage.partition_id")).count().as[(Int, Long)].collect().toMap
    }
    val even = rowsPerPartition(8000, 4)
    val maxOverMean = even.values.max * 4.0 / even.values.sum
    assert(even.size === 4 && maxOverMean <= 1.05,
      f"rows per partition at P = 4: $even, max/mean $maxOverMean%.3f")
    val wide = rowsPerPartition(4000, 512)
    assert(wide.size > 256, s"${wide.size} of 512 kernel partitions hold rows")
  }
}
