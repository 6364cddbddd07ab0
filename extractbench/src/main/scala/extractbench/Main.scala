package extractbench

import org.apache.spark.sql.SparkSession

/**
 * Benchmark JVM entry point; `run.py` sequences the modes. Each mode prints
 * one JSON object as its last line of standard output.
 *
 *   prepare --workload W --seed S --work DIR [--scale F]
 *           generate the inputs (for resume_90 also the committed chain);
 *           nothing is timed
 *   run     --workload W --seed S --work DIR --seconds N [--corrupt-pass K]
 *           in a fresh JVM on those inputs: SparkSession start plus the
 *           cold first pass (setup_s), four warm-up passes, timed passes
 *           for N seconds; then predict the output and check every pass
 *           but the warm-up against it
 *   trace   --workload W --seed S --work DIR --seconds N --out FILE
 *           predict the output, then traced passes and per-layer probes
 *           (see Traced)
 */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly either way: Spark's non-daemon threads would keep a
    // JVM whose main method threw alive
    val code =
      try {
        println(Json.write(runMode(args)))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runMode(args: Array[String]): java.util.Map[String, AnyRef] = {
    require(args.nonEmpty, "usage: Main prepare|run|trace --workload W --work DIR ...")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val layout = Layout(opts("work"))
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    args(0) match {
      case "prepare" => prepare(workload, opts("seed").toLong,
        opts.getOrElse("scale", "1").toDouble, layout)
      case "run" => run(workload, opts("seed").toLong, layout, opts("seconds").toDouble,
        opts.get("corrupt-pass").map(_.toInt).getOrElse(-1))
      case "trace" => Traced.run(workload, opts("seed").toLong, layout,
        opts("seconds").toDouble, opts("out"))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def host(spark: SparkSession): java.util.Map[String, AnyRef] = Json.obj(
    "nproc" -> Session.nproc,
    "mem_total_mb" -> Stats.totalMemoryBytes() / (1024 * 1024),
    "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
    "spark" -> spark.version)

  private def prepare(workload: String, seed: Long, scale: Double, layout: Layout) = {
    val spark = Session.build(layout)
    Workloads.generate(spark, workload, seed, scale, layout)
    Json.obj("host" -> host(spark))
  }

  val MinTimed = 3

  /** Untimed, unchecked warm-up passes. A fixed count rather than a test
    * for a steady pass time, which stops on two equally slow passes while
    * the JIT is still compiling the kernel. */
  val WarmPasses = 4

  def warmUp(passes: Passes, first: Int): Seq[PassResult] =
    (first until first + WarmPasses).map { i =>
      val p = passes.run(i, "warm", readBack = false)
      passes.drop("warm")
      System.err.println("warm " + p.describe)
      p
    }

  private def run(workload: String, seed: Long, layout: Layout, seconds: Double,
                  corruptPass: Int) = {
    // set-up: what a fresh spark-submit pays before its first pass ends
    val t0 = System.nanoTime()
    val spark = Session.build(layout)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val passes = new Passes(spark, workload, layout)
    val cold = passes.run(0, "cold")
    passes.drop("cold")
    System.err.println("cold " + cold.describe)

    val warm = warmUp(passes, 1)
    val first = 1 + warm.length
    passes.corruptPass = if (corruptPass >= 0) first + corruptPass else -1
    val timed = Vector.newBuilder[PassResult]
    val start = System.nanoTime()
    var i = 0
    while (i < MinTimed || (System.nanoTime() - start) / 1e9 < seconds) {
      val p = passes.run(first + i, "timed")
      passes.drop("timed")
      System.err.println("timed " + p.describe)
      timed += p
      i += 1
    }
    val heapMb = Stats.retainedHeapMb()
    val all = timed.result()

    // after all timing: the prediction and the direct kernel digest
    val exp = Workloads.expect(spark, workload, seed, layout)
    val failures = all.map(p => p.index -> p.failure(exp))
    val untimed = cold.failure(exp).map(f => s"cold pass: $f").toSeq ++
      warm.flatMap(p => p.failure(exp).map(f => s"warm-up pass ${p.index}: $f"))
    val good = all.zip(failures).collect { case (p, (_, None)) => p }
    val pages = exp.inputRows.toDouble
    val metrics =
      if (good.isEmpty) Json.obj()
      else Json.obj(
        "pages_per_s" -> pages / Stats.median(good.map(_.wallS)),
        "cpu_ms_per_page" -> Stats.median(good.map(_.cpuS)) * 1000 / pages,
        "setup_s" -> (sessionS + cold.wallS),
        "retained_heap_mb" -> heapMb)
    Json.obj(
      "attempted" -> all.length, "failed" -> (all.length - good.length),
      "failures" -> (untimed ++ failures.collect { case (i, Some(f)) => s"timed pass $i: $f" }),
      "session_s" -> sessionS, "cold_pass_s" -> cold.wallS,
      "warm_passes" -> warm.length, "warm_wall_s" -> warm.map(_.wallS),
      "pass_wall_s" -> all.map(_.wallS), "pass_cpu_s" -> all.map(_.cpuS),
      "expected" -> exp.toJson, "metrics" -> metrics, "host" -> host(spark))
  }
}
