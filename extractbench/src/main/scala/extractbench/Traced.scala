package extractbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions
import graft.kernel.{ExtractKernel, QualityScore, TextKernel}
import graft.kernel.html.MainContent
import graft.kernel.pdf.PdfExtract
import graft.tables.SnapshotTable

/**
 * The traced run: per-layer numbers, measured from outside each layer by
 * calling its public functions, with spans kept in memory and written to
 * one JSON file at the end.
 *
 *  1. on the inputs the `prepare` JVM left, predict the output, then warm
 *     up as the untraced run does;
 *  2. for `seconds`, untraced and traced `Extract.run` passes alternate; a
 *     traced pass records spans (pass > table.prepare, extract.run, read_back)
 *     and, under extract.run, one span per Spark stage from a listener,
 *     named by role (scan_exchange, resume, kernel, readback);
 *  3. probes, each a span: the scan into the `noop` sink with and without
 *     `UrlFunctions.urlKey`; `SnapshotTable.doneUrls`, `retryAttempts` and
 *     `visibleManifests` on the pre-pass chain; single-thread kernel calls
 *     on the pass's pending rows; `writeData` and `commitManifest` of the
 *     rows a pass wrote; the manifest read back.
 *
 * The tracing overhead is untraced minus traced pages/s.
 */
object Traced {
  private val MB = 1024.0 * 1024.0
  private val QualitySampleCp = 20000

  def run(workload: String, seed: Long, layout: Layout, seconds: Double,
          outFile: String): java.util.Map[String, AnyRef] = {
    val spark = Session.build(layout)
    val exp = Workloads.expect(spark, workload, seed, layout)
    val passes = new Passes(spark, workload, layout)
    val tracer = new Tracer
    val listener = new StageListener
    val sc = spark.sparkContext
    val tid = s"$workload/${exp.seed}"
    val failures = mutable.ArrayBuffer[String]()
    def keep(p: PassResult): PassResult = { p.failure(exp).foreach(f => failures += s"pass ${p.index}: $f"); p }

    Main.warmUp(passes, 0).foreach(keep)

    // 2. alternate untraced / traced passes
    val untraced = mutable.ArrayBuffer[PassResult]()
    val traced = mutable.ArrayBuffer[(PassResult, StageRoles, Double)]()
    val start = System.nanoTime()
    var i = 100
    while (untraced.length < 2 || traced.length < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      untraced += keep(passes.run(i, "untraced"))
      passes.drop("untraced")
      passes.drop("traced")
      sc.addSparkListener(listener)
      val p = tracer.withTrace(s"$tid/pass${i + 1}") {
        tracer.span("pass")(keep(passes.run(i + 1, "traced", Some(tracer))))
      }
      org.apache.spark.extractbench.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      val run = tracer.last("extract.run")
      // the pass's read-back jobs ran after Extract.run returned
      val roles = StageRoles(listener.take().filter(_.completedMs <= tracer.epochMs(run.endNs) + 1))
      tracer.withTrace(s"$tid/pass${i + 1}") {
        roles.all.foreach(s => tracer.addEpochMs(roles.role(s), run.id, s.submittedMs, s.completedMs))
      }
      traced += ((p, roles, run.durNs / 1e9))
      i += 2
    }
    val lastVersion = traced.last._1.written.get.metrics.version
    val lastTable = new SnapshotTable(layout.table("traced").toString)

    val m = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    val extra = mutable.LinkedHashMap[String, Double]()
    def med(f: ((PassResult, StageRoles, Double)) => Double): Double = Stats.median(traced.map(f).toSeq)
    val pages = exp.inputRows.toDouble

    // 3. probes
    tracer.withTrace(s"$tid/probe") {
      // scan
      def scanTime(withKey: Boolean): Double = Stats.median((0 until 3).map { _ =>
        tracer.span(if (withKey) "probe.scan.url_key" else "probe.scan.noop") {
          val t0 = System.nanoTime()
          val df = Workloads.input(spark, layout).select(col("url"), col("html"))
          (if (withKey) df.withColumn("url_key", UrlFunctions.urlKey(col("url"))) else df)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      })
      val scanS = scanTime(false)
      put("scan.rows_per_s", pages / scanS, "1/s")
      put("scan.mb_per_s", exp.inputBytes / MB / scanS, "MB/s")
      put("scan.url_key_rows_per_s", pages / scanTime(true), "1/s")

      // resume, on the table as the pass found it
      val rt = passes.freshTable("probe-resume")
      def timed3(name: String)(f: => Unit): Double = Stats.median((0 until 3).map { _ =>
        tracer.span(name) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      })
      put("resume.done_urls_s", timed3("probe.resume.done_urls")(rt.doneUrls(spark).foreach(_.count())), "s")
      put("resume.retry_attempts_s",
        timed3("probe.resume.retry_attempts")(rt.retryAttempts(spark).foreach(_.count())), "s")
      val walks = 50
      val walkS = tracer.span("probe.resume.chain_walk") {
        val t0 = System.nanoTime()
        (0 until walks).foreach(_ => rt.visibleManifests)
        (System.nanoTime() - t0) / 1e9
      }
      put("resume.chain_walk_ms", walkS * 1000 / walks, "ms")
      passes.drop("probe-resume")
      val lastMan = lastTable.manifest(lastVersion).get
      put("resume.pending_rows",
        (lastMan.metrics.getOrElse("input", 0L) + lastMan.metrics.getOrElse("deduped", 0L)).toDouble,
        "count")

      // exchange and stages, from the listener (median over traced passes)
      def sum(ss: Seq[StageStat])(f: StageStat => Long): Double = ss.map(f).sum.toDouble
      put("exchange.shuffle_write_mb", med(t => sum(t._2.all)(_.shuffleWriteBytes) / MB), "MB")
      put("exchange.shuffle_records", med(t => sum(t._2.all)(_.shuffleWriteRecords)), "count")
      put("exchange.shuffle_write_s", med(t => sum(t._2.all)(_.shuffleWriteNs) / 1e9), "s")
      // local-mode shuffle blocks never wait and nothing spills at these
      // sizes: both read 0 on every run, so they go to the trace file only
      extra("exchange.fetch_wait_s") = med(t => sum(t._2.all)(_.fetchWaitMs) / 1e3)
      extra("exchange.spill_mb") = med(t => sum(t._2.all)(_.spillBytes) / MB)
      put("stage.scan_cpu_s", med(t => sum(t._2.scan)(_.cpuNs) / 1e9), "s")
      val kernelCpu = med(t => sum(t._2.kernel)(_.cpuNs) / 1e9)
      put("stage.kernel_cpu_s", kernelCpu, "s")
      put("stage.readback_s", med { t =>
        val r = t._2.readback
        if (r.isEmpty) 0.0 else (r.map(_.completedMs).max - r.map(_.submittedMs).min) / 1e3
      }, "s")
      put("tasks.count", med(t => sum(t._2.all)(_.numTasks.toLong)), "count")
      put("tasks.skew", med { t =>
        val ms = t._2.kernel.flatMap(_.taskMs).map(_.toDouble)
        if (ms.isEmpty) 1.0 else ms.max / math.max(1.0, Stats.median(ms))
      }, "ratio")
      put("cpu.util", med(t => sum(t._2.all)(_.cpuNs) / 1e9 / (t._3 * Session.nproc)), "ratio")

      // kernel, single thread, on the pass's pending rows
      val k = kernelProbe(spark, workload, layout, tracer)
      if (k.digest != exp.digest) failures += s"kernel probe digest ${k.digest} != ${exp.digest}"
      put("kernel.docs_per_s", k.docs / k.busyS, "1/s")
      put("kernel.busy_s", k.busyS, "s")
      put("stage.kernel_overhead_s", kernelCpu - k.busyS, "s")
      Workloads.Classes.foreach { c =>
        val (n, s) = k.byClass.getOrElse(c, (0L, 0.0))
        put(s"kernel.$c.docs_per_s", if (s > 0) n / s else 0.0, "1/s")
        put(s"kernel.$c.busy_s", s, "s")
      }
      Seq("html.decode", "html.main_content", "pdf.text", "fallback", "quality").foreach { c =>
        put(s"kernel.${c}_s", k.parts.getOrElse(c, 0.0), "s")
      }

      // write + commit of the rows a pass wrote, extracted once
      val rows = spark.read.parquet(lastMan.dataDirs.head).cache()
      val nRows = rows.count()
      val writes = (0 until 3).map { r =>
        val wt = passes.freshTable(s"probe-write-$r")
        val (ws, v, dir) = tracer.span("probe.write") {
          val t0 = System.nanoTime()
          val (v, dir) = wt.writeData(rows)
          ((System.nanoTime() - t0) / 1e9, v, dir)
        }
        val cs = tracer.span("probe.commit") {
          val t0 = System.nanoTime()
          wt.commitManifest(v, dir, lastMan.metrics, lastMan.lineage)
          (System.nanoTime() - t0) / 1e9
        }
        val mb = Files2.treeBytes(Paths.get(dir)) / MB
        passes.drop(s"probe-write-$r")
        (ws, cs, mb)
      }
      rows.unpersist()
      put("write.rows_per_s", nRows / Stats.median(writes.map(_._1)), "1/s")
      put("write.mb", Stats.median(writes.map(_._3)), "MB")
      put("commit.ms", Stats.median(writes.map(_._2)) * 1000, "ms")

      // the manifest, read back
      val man = tracer.span("probe.manifest")(lastTable.manifest(lastVersion).get)
      put("manifest.deduped", man.metrics.getOrElse("deduped", -1L).toDouble, "count")
      put("manifest.failed", man.metrics.getOrElse("failed", -1L).toDouble, "count")
      val lms = man.lineage.flatMap(_.get("ms")).map(_.toDouble)
      put("lineage.skew", if (lms.isEmpty) 1.0 else lms.max / math.max(1.0, Stats.median(lms)), "ratio")
    }
    passes.drop("traced")

    val ppsUntraced = pages / Stats.median(untraced.filter(_.failure(exp).isEmpty).map(_.wallS).toSeq)
    val ppsTraced = pages / med(_._3)
    put("trace.overhead_pages_per_s", ppsUntraced - ppsTraced, "1/s")

    val metrics = Json.obj(m.toSeq.map { case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val self = tracer.selfSecondsByName.toSeq.sortBy(-_._2)
    val doc = Json.obj("workload" -> workload, "seed" -> exp.seed, "host" -> Main.host(spark),
      "pages_per_s_untraced" -> ppsUntraced, "pages_per_s_traced" -> ppsTraced,
      "self_time_s" -> Json.obj(self: _*), "metrics" -> metrics, "also_measured" -> extra,
      "spans" -> tracer.json)
    val out = Paths.get(outFile)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Json.writeFile(out, doc)
    Json.obj("attempted" -> (untraced.length + traced.length),
      "failed" -> (untraced.count(_.failure(exp).nonEmpty) + traced.count(_._1.failure(exp).nonEmpty)),
      "failures" -> failures.toSeq, "metrics" -> metrics,
      "self_time_s" -> Json.obj(self: _*), "host" -> Main.host(spark))
  }

  final case class KernelProbe(docs: Long, busyS: Double, byClass: Map[String, (Long, Double)],
                               parts: Map[String, Double], digest: Digest.Acc)

  /** Single-thread direct kernel calls on the pending rows, class by class,
    * then the kernel's parts on the same rows. */
  private def kernelProbe(spark: SparkSession, workload: String, layout: Layout,
                          tracer: Tracer): KernelProbe = {
    val rows: Array[Row] = Workloads.input(spark, layout).select("url", "html")
      .join(spark.read.parquet(layout.pending.toString), "url")
      .select("url", "html", "cls", "prior_attempts").collect()
    val byCls = rows.groupBy(_.getString(2))
    var digest = Digest.Zero
    val classes = mutable.LinkedHashMap[String, (Long, Double)]()
    val texts = mutable.ArrayBuffer[String]()
    val busy = tracer.span("probe.kernel") {
      Workloads.Classes.filter(byCls.contains).foreach { c =>
        val t0 = System.nanoTime()
        tracer.span(s"probe.kernel.$c") {
          byCls(c).foreach { r =>
            val d = ExtractKernel.extractOne(r.getString(0), r.getAs[Array[Byte]](1), 0, r.getInt(3))
            digest = digest.add(Digest.doc(d), d.error == null)
            if (d.extracted_text != null) texts += d.extracted_text
          }
        }
        classes(c) = (byCls(c).length.toLong, (System.nanoTime() - t0) / 1e9)
      }
      classes.values.map(_._2).sum
    }

    // the kernel's parts, on the same rows, routed as extractOne routes them
    val payloads = rows.map(_.getAs[Array[Byte]](1)).map(b => if (b == null) Array.emptyByteArray else b)
    val routed = payloads.groupBy(ExtractKernel.sniff)
    val parts = mutable.Map[String, Double]()
    var sink = 0L
    def part(name: String)(f: => Unit): Unit = tracer.span(s"probe.kernel.$name") {
      val t0 = System.nanoTime(); f; parts(name) = (System.nanoTime() - t0) / 1e9
    }
    tracer.span("probe.kernel.parts") {
      val html = routed.getOrElse("html", Array.empty[Array[Byte]])
      var decoded: Array[String] = Array.empty
      part("html.decode") {
        decoded = html.map(b => TextKernel.translateNewlines(
          TextKernel.decodeUtf8Strict(b).getOrElse(TextKernel.decodeLatin1(b))))
      }
      part("html.main_content")(decoded.foreach(s => sink += MainContent.extract(s).text.length))
      part("pdf.text")(routed.getOrElse("pdf", Array.empty[Array[Byte]])
        .foreach(b => sink += PdfExtract.extractText(b).map(_.length).getOrElse(0)))
      part("fallback")(routed.getOrElse("other", Array.empty[Array[Byte]])
        .foreach(b => sink += TextKernel.extractTextFallback(b).map(_.length).getOrElse(0)))
      part("quality")(texts.foreach(t =>
        sink += (QualityScore.computeQuality(TextKernel.truncate(t, Some(QualitySampleCp))) * 1000).toLong))
    }
    if (sink == Long.MinValue) System.err.println("unreachable")
    KernelProbe(rows.length.toLong, busy, classes.toMap, parts.toMap, digest)
  }
}
