package graft

import org.apache.spark.sql.SparkSession

/**
 * Query-level harness: isolate and re-time queries, or dump their plans,
 * without running the whole bench.
 *
 * Modes:
 *   runMain graft.BenchExtra plans <outDir> <suffix> [queryCsv]
 *     — write .explain("formatted") for each query to <outDir>/<name>_<suffix>.txt
 *   runMain graft.BenchExtra noop <reps> [queryCsv]
 *     — time each query `reps` times with the exact Bench methodology
 *       (`Bench.computeAll`: the noop sink, which computes EVERY column),
 *       print min/median per query as JSON; a run that throws prints ERR
 *       and is left out of min and median (a query with no successful run
 *       is "ERR" and not in total_min). The default mode.
 *
 * Uses the same session shape as Bench.buildSession and the same
 * $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS contract.
 */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val mode = if (args.nonEmpty) args(0) else "noop"

    def selected(csvIdx: Int): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      if (args.length > csvIdx && args(csvIdx).nonEmpty) {
        val want = args(csvIdx).split(",").toSet
        all.filter(q => want.contains(q._1))
      } else all
    }

    mode match {
      case "plans" =>
        val outDir = new java.io.File(args(1))
        outDir.mkdirs()
        val suffix = args(2)
        selected(3).foreach { case (name, fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            val w = new java.io.FileWriter(new java.io.File(outDir, s"${name}_$suffix.txt"))
            try w.write(plan) finally w.close()
            System.err.println(s"[plans] wrote $name")
          } catch {
            case e: Throwable => System.err.println(s"[plans] $name FAILED: $e")
          }
        }

      case "noop" =>
        val reps = if (args.length > 1) args(1).toInt else 3
        // warmup (same as Bench)
        try spark.read.parquet(s"$sfDir/documents.parquet").limit(10).count()
        catch { case _: Throwable => }
        val results = selected(2).map { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          val runs = (1 to reps).map { _ =>
            Bench.timed(Bench.computeAll(fn(spark, sfDir)))
          }
          runs.foreach(_.failed.foreach(e => System.err.println(s"[$name] ERR $e")))
          // failed runs are never timings: min and median cover the rest
          val times = runs.flatMap(_.toOption).sorted
          val shown = runs.map(_.fold(_ => "ERR", t => f"$t%.2f")).mkString(",")
          val stats = times.headOption.map(mn => (mn, times(times.length / 2)))
          val summary = stats.fold("ERR") { case (mn, md) => f"min=$mn%7.3f med=$md%7.3f" }
          System.err.println(f"[$mode] $name%-24s $summary ($shown)")
          (name, stats)
        }
        val total = results.flatMap(_._2).map(_._1).sum
        val js = results.map {
          case (n, Some((mn, md))) =>
            s""""$n":{"min":${"%.3f".format(mn)},"med":${"%.3f".format(md)}}"""
          case (n, None) => s""""$n":"ERR""""
        }.mkString("{", ",", "}")
        println(s"""{"mode":"$mode","reps":${reps},"total_min":${"%.3f".format(total)},"queries":$js}""")
      case other => sys.error(s"unknown mode '$other': noop or plans")
    }
    spark.stop()
  }
}
