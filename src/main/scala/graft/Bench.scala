package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver-run benchmark: times every SparkEntry query at the configured SF,
 * plus the extraction throughput (docs/sec) of `Extract.plan` — the
 * shipped pipeline up to its write, with no table to resume against — on
 * a deterministic synthesized corpus, plus one N-vs-4N scaling pair.
 * Emits ONE JSON line.
 *
 * Fixed-pass protocol:
 *  - sweep: every query is timed once into the `noop` sink, which computes
 *    every column; a query that throws is listed under `queries_failed`
 *    and is neither a timing nor part of `value`;
 *  - extraction: one warm-up pass, then `TimedPasses` timed passes;
 *    `extract_docs_per_sec` is their median, and every pass is listed;
 *  - scaling: the pair `scalingPair` derives from the session's cpus, run
 *    back to back in forked core-pinned child JVMs on the same corpus; it
 *    reports raw efficiency (north rule: >= 0.8 from N to 4N) and the
 *    efficiency per consumed core (docs per process CPU-second, hi over lo).
 *
 * Knobs: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_BENCH_ROWS`
 * (corpus rows, default 100000) and `SPARK_GRAFT_SCALING` (`0` skips the
 * pair). The benchmark of record for the shipped `Extract.run` pipeline is
 * `extractbench/`; this one keeps the driver's `BENCH_*` trajectory.
 */
object Bench {

  val TimedPasses = 5

  /** The scaling children read at most this many rows: a 1-core child then
    * still finishes a pass in seconds. */
  private val ScalingRowsCap = 50000L

  def buildSession(cpus: String): SparkSession = {
    // shuffle spill dir: tmpfs when available so the CPU-scaling measurement
    // is not capped by /tmp disk bandwidth (a real cluster spreads shuffle
    // over many local disks; one sandbox disk would serialize it)
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
      else System.getProperty("java.io.tmpdir")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
      .getOrCreate()
  }

  /** Cache key for the materialized corpus: rows + a content sample of the
    * generator, so a PageGen change can never silently bench stale data. */
  def corpusKey(rows: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq(0L, 1L, math.max(0L, rows - 1), 12345L % math.max(rows, 1L)).foreach { i =>
      val p = graft.fixtures.PageGen.page(i, 42L)
      md.update(p.url.getBytes("UTF-8"))
      md.update(p.html)
    }
    val hex = md.digest().take(6).map("%02x".format(_)).mkString
    s"$rows-$hex"
  }

  /** Materialize the deterministic corpus once (untimed; cached across
    * sessions in /tmp keyed by (rows, generator content hash)) so throughput
    * measures the real workload — parquet scan -> pipeline — not the
    * fixture generator. */
  def materializeCorpus(spark: SparkSession, rows: Long): String = {
    import spark.implicits._
    val dir = s"/tmp/graft-bench-pages-${corpusKey(rows)}"
    val done = new java.io.File(s"$dir/_SUCCESS")
    if (!done.exists()) {
      spark.range(rows)
        .mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, 42L))).toDF()
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Extraction docs/sec at the session's parallelism over `rows` pages:
    * `Extract.plan` with no table, every column computed into the `noop`
    * sink; the docs are those the kernel extracted. */
  def extractThroughput(spark: SparkSession, rows: Long, partitions: Int): (Double, Long) = {
    import scala.jdk.CollectionConverters._
    val pages = spark.read.parquet(materializeCorpus(spark, rows))
    val t0 = System.nanoTime()
    val planned = graft.pipeline.Extract.plan(spark, pages, numPartitions = partitions)
    computeAll(planned.docs.toDF())
    val sec = (System.nanoTime() - t0) / 1e9
    val n = planned.partStats.value.asScala.map(_._2).sum
    (n / sec, n)
  }

  /** One timed extraction pass; `cpuSec` is the whole process's CPU time. */
  final case class Pass(docsPerSec: Double, rows: Long, cpuSec: Double) {
    def cpusUsed: Double = cpuSec * docsPerSec / math.max(rows, 1L)
  }

  /** One untimed warm-up pass (JIT and codegen dominate a cold first pass),
    * then `TimedPasses` timed ones. */
  def timedPasses(spark: SparkSession, rows: Long, partitions: Int): Seq[Pass] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    extractThroughput(spark, rows, partitions)
    Seq.fill(TimedPasses) {
      val cpu0 = os.getProcessCpuTime
      val (dps, n) = extractThroughput(spark, rows, partitions)
      Pass(dps, n, (os.getProcessCpuTime - cpu0) / 1e9)
    }
  }

  /** The median pass by docs/sec (the upper one of an even count). */
  def medianPass(passes: Seq[Pass]): Pass =
    passes.sortBy(_.docsPerSec).apply(passes.length / 2)

  /** Runs `df` into the `noop` sink: every column is computed, where a
    * `count()` lets the optimizer prune the columns nothing reads. */
  def computeAll(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`, or what it threw: a failed run is never a timing. */
  def timed(body: => Any): Try[Double] = {
    val t0 = System.nanoTime()
    try { body; Success((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Failure(e) }
  }

  /** The N-vs-4N pair for a session of `cpus` task threads on a host with
    * `available` processors: hi = min(cpus, available), lo = hi / 4; None
    * (no scaling section) when lo < 1. */
  def scalingPair(cpus: Int, available: Int): Option[(Int, Int)] = {
    val hi = math.min(cpus, available)
    if (hi / 4 < 1) None else Some((hi / 4, hi))
  }

  /** A scaling child's median pass: docs/sec and cores it consumed. */
  final case class Child(docsPerSec: Double, cpusUsed: Double)

  /** One scaling pair; a child that failed is None and the section says so. */
  final case class Scaling(lo: Int, hi: Int, rows: Long,
                           atLo: Option[Child], atHi: Option[Child]) {
    def json: String = (atLo, atHi) match {
      case (Some(l), Some(h)) =>
        val eff = (h.docsPerSec / l.docsPerSec) / (hi.toDouble / lo)
        val effCpu = (h.docsPerSec / h.cpusUsed) / (l.docsPerSec / l.cpusUsed)
        s"""{"pair":[$lo,$hi],"docs_per_sec_$lo":${l.docsPerSec.round},"docs_per_sec_$hi":${h.docsPerSec.round},"efficiency":${"%.3f".format(eff)},"efficiency_per_consumed_core":${"%.3f".format(effCpu)},"cpus_used":[${"%.1f".format(l.cpusUsed)},${"%.1f".format(h.cpusUsed)}],"rows":$rows}"""
      case _ =>
        val failed = Seq(lo -> atLo, hi -> atHi).collect { case (c, None) => c }
        s"""{"pair":[$lo,$hi],"rows":$rows,"failed_children":${failed.mkString("[", ",", "]")}}"""
    }
  }

  /** The bench's one JSON line. `value` sums the successful query timings
    * and the extraction time of the median pass. */
  def jsonLine(sfDir: String, cpus: String, sweep: Seq[(String, Try[Double])],
               passes: Seq[Pass], scaling: Option[Scaling]): String = {
    val ok = sweep.collect { case (name, Success(t)) => name -> t }
    val failed = sweep.collect { case (name, Failure(_)) => "\"" + name + "\"" }
    val median = medianPass(passes)
    val e2eSec = median.rows / median.docsPerSec
    val qs = (ok :+ ("extract_pipeline_e2e" -> e2eSec))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum + e2eSec
    val passesJson = passes.map(_.docsPerSec.round).mkString("[", ",", "]")
    val scalingJson = scaling.fold("")(s => s""","scaling":${s.json}""")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","extract_docs_per_sec":${median.docsPerSec},"extract_docs_per_sec_passes":$passesJson,"extract_rows":${median.rows},"cpus":$cpus$scalingJson}"""
  }

  /** Fork `graft.ScalingBench child` in a JVM with -XX:ActiveProcessorCount
    * pinned to `cpus` (an unpinned JVM sizes its GC and JIT threads to the
    * whole host) and parse its result line; None when the child failed. */
  def runPinnedChild(cpus: Int, rows: Long): Option[Child] = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
      Seq(s"-XX:ActiveProcessorCount=$cpus", "-cp", System.getProperty("java.class.path"),
        "graft.ScalingBench", "child", cpus.toString, rows.toString)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    // drain the WHOLE stream before waitFor: stopping at the result line
    // leaves the child's shutdown logging filling the OS pipe buffer,
    // deadlocking parent (in waitFor) against child (in write)
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines()
      .map { l => System.err.println(s"[child-$cpus] $l"); l }
      .toList
    proc.waitFor()
    lines.find(_.startsWith("CHILD_RESULT ")).map(_.split(" ")).flatMap {
      case Array(_, _, dps, used) => Try(Child(dps.toDouble, used.toDouble)).toOption
      case _ => None
    }
  }

  def main(args: Array[String]): Unit = {
    // the JSON and CHILD_RESULT lines are machine-parsed: a comma-decimal
    // default locale would corrupt both
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "100000").toLong
    val pair =
      if (sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "1") None
      else scalingPair(cpus.toInt, Runtime.getRuntime.availableProcessors)
    val scalingRows = math.min(benchRows, ScalingRowsCap)
    val spark = buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup (not timed)
    try spark.read.parquet(s"$sfDir/documents.parquet").limit(10).count()
    catch { case _: Throwable => }

    val sweep = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = timed(computeAll(fn(spark, sfDir)))
      t.failed.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      name -> t
    }
    val passes = timedPasses(spark, benchRows, cpus.toInt * 2)
    // children only read the corpus; the parent session stops before they
    // start so its idle executor and GC threads cannot compete with them
    if (pair.nonEmpty) materializeCorpus(spark, scalingRows)
    spark.stop()
    val scaling = pair.map { case (lo, hi) =>
      Scaling(lo, hi, scalingRows, runPinnedChild(lo, scalingRows), runPinnedChild(hi, scalingRows))
    }

    val line = jsonLine(sfDir, cpus, sweep, passes, scaling)
    println(line)
    // the stdout capture of a long run can truncate mid-JSON; a file copy
    // keeps the record self-contained
    try {
      val w = new java.io.FileWriter("BENCH_LOCAL.json")
      try w.write(line + "\n") finally w.close()
    } catch { case _: Throwable => }
  }
}

/** Scaling child: `runMain graft.ScalingBench child <cpus> <rows>`, forked
  * by `Bench.runPinnedChild`. Runs the fixed-pass extraction at `cpus` task
  * threads and prints `CHILD_RESULT <cpus> <docs/sec> <cores consumed>` for
  * the median pass. */
object ScalingBench {
  def main(args: Array[String]): Unit = args match {
    case Array("child", cpusArg, rowsArg) =>
      java.util.Locale.setDefault(java.util.Locale.ROOT) // CHILD_RESULT is machine-parsed
      val cpus = cpusArg.toInt
      val spark = Bench.buildSession(cpusArg)
      spark.sparkContext.setLogLevel("ERROR")
      val p = Bench.medianPass(Bench.timedPasses(spark, rowsArg.toLong, cpus * 2))
      spark.stop()
      println(f"CHILD_RESULT $cpus ${p.docsPerSec} ${p.cpusUsed}%.2f")
    case _ =>
      System.err.println("usage: graft.ScalingBench child <cpus> <rows>")
      sys.exit(2)
  }
}
