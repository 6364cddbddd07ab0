package extractbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.kernel.ExtractKernel.ExtractedDoc
import graft.pipeline.Extract
import graft.tables.SnapshotTable

/** What one pass committed, read back after the timed call. */
final case class Written(metrics: Extract.Metrics, currentVersion: Option[Int],
                         manifest: Map[String, Long], digest: Digest.Acc)

/** One pass: its timings, what it wrote (unless it was not read back) or
  * the error it threw. */
final case class PassResult(index: Int, wallS: Double, cpuS: Double,
                            error: Option[String], written: Option[Written]) {
  /** None when the pass neither threw nor wrote other than `e` predicts. */
  def failure(e: Expected): Option[String] = error.orElse(written.flatMap { w =>
    val m = w.metrics
    val want = Map("input" -> w.digest.rows, "extracted" -> w.digest.ok,
      "failed" -> (w.digest.rows - w.digest.ok), "deduped" -> e.deduped)
    val bad = want.collect {
      case (k, v) if w.manifest.getOrElse(k, -1L) != v => s"manifest $k=${w.manifest.get(k)}, want $v"
    }
    if (!w.currentVersion.contains(m.version)) Some(s"VERSION is ${w.currentVersion}, not ${m.version}")
    else if (m.input != e.written) Some(s"wrote ${m.input} rows, predicted ${e.written}")
    else if (w.digest != e.digest)
      Some(s"output digest ${w.digest} differs from direct kernel digest ${e.digest}")
    else if (bad.nonEmpty) Some(bad.mkString("; "))
    else None
  })

  def describe: String = f"pass $index%d: $wallS%.3f s wall, $cpuS%.3f s cpu" +
    error.map(f => s" THREW: $f").getOrElse("")
}

/**
 * Runs `Extract.run` with its defaults on a fresh table — an empty one, or
 * for a chained workload a copy of the committed chain's metadata (data
 * files are immutable and shared) — and reads back what the pass committed.
 * Preparing the table and reading it back are outside the timed region;
 * the comparison with the prediction (`PassResult.failure`) can come later,
 * so the direct kernel digest is computed after all timing.
 */
final class Passes(spark: SparkSession, workload: String, layout: Layout) {
  import spark.implicits._

  /** Index of a pass whose snapshot gets one extracted_text corrupted before
    * it is read back (the self-test of the output check). */
  var corruptPass: Int = -1

  def freshTable(name: String): SnapshotTable = {
    val dir = layout.table(name)
    Files2.deleteTree(dir)
    Files.createDirectories(dir)
    if (Workloads.hasChain(workload)) {
      val meta = Files.createDirectories(dir.resolve("metadata"))
      val s = Files.list(layout.chain.resolve("metadata"))
      try s.forEach(p => Files.copy(p, meta.resolve(p.getFileName)))
      finally s.close()
    }
    new SnapshotTable(dir.toString)
  }

  def drop(name: String): Unit = Files2.deleteTree(layout.table(name))

  /** One pass into table `name`. With a tracer, the table set-up, the
    * `Extract.run` call and the read-back are spans. Without `readBack`
    * (warm-up) only a throw fails the pass. */
  def run(index: Int, name: String, tracer: Option[Tracer] = None,
          readBack: Boolean = true): PassResult = {
    def span[T](n: String)(f: => T): T = tracer.fold(f)(_.span(n)(f))
    val table = span("table.prepare")(freshTable(name))
    val cpu0 = Stats.processCpuNanos()
    val t0 = System.nanoTime()
    val outcome =
      try Right(span("extract.run")(
        Extract.run(spark, Workloads.input(spark, layout), table)))
      catch { case NonFatal(e) => Left(s"Extract.run threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Stats.processCpuNanos() - cpu0) / 1e9
    val written = outcome.toOption.filter(_ => readBack).map { m =>
      try span("read_back") {
        if (index == corruptPass) corruptOneText(table)
        val man = table.manifest(m.version)
        val dir = man.flatMap(_.dataDirs.headOption)
        val digest = dir.map(d => Digest.of(spark, spark.read.parquet(d).as[ExtractedDoc]))
          .getOrElse(Digest.Zero)
        Right(Written(m, table.currentVersion, man.map(_.metrics).getOrElse(Map.empty), digest))
      } catch { case NonFatal(e) => Left(s"read-back threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    PassResult(index, wall, cpu, outcome.left.toOption.orElse(written.flatMap(_.left.toOption)),
      written.flatMap(_.toOption))
  }

  /** Rewrites the current snapshot with one extracted_text changed. */
  private def corruptOneText(table: SnapshotTable): Unit = {
    val dir = table.manifest(table.currentVersion.get).get.dataDirs.head
    val df = spark.read.parquet(dir)
    val victim = df.filter(col("extracted_text").isNotNull).agg(min(col("url"))).head().getString(0)
    val tmp = dir + ".corrupt"
    df.withColumn("extracted_text",
        when(col("url") === victim, concat(col("extracted_text"), lit("#")))
          .otherwise(col("extracted_text")))
      .write.parquet(tmp)
    Files2.deleteTree(Paths.get(dir))
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
  }
}
