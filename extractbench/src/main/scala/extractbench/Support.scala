package extractbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Files of one benchmark run, all under its work directory. */
final class Layout(val work: Path) {
  val input: Path = work.resolve("input")
  val chain: Path = work.resolve("chain")
  val pending: Path = work.resolve("pending")
  val tables: Path = work.resolve("tables")
  val sparkLocal: Path = work.resolve("spark-local")
  val warehouse: Path = work.resolve("warehouse")
  def table(name: String): Path = tables.resolve(name)
}

object Layout {
  def apply(dir: String): Layout = new Layout(Paths.get(dir).toAbsolutePath.normalize)
}

object Session {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** A session set up the way `graft.pipeline.ExtractMain` sets one up:
    * local[nproc], shuffle partitions = nproc, UI off, UTC. Shuffle and
    * scratch files stay under the run's work directory. */
  def build(layout: Layout): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("extractbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", layout.sparkLocal.toString)
      .config("spark.sql.warehouse.dir", layout.warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Json {
  val mapper = new ObjectMapper

  /** Ordered JSON object from (key, value) pairs; values may be numbers,
    * strings, booleans, Seqs, Maps or nested `obj`s. */
  def obj(fields: (String, Any)*): java.util.LinkedHashMap[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: java.util.Map[_, _] => m
    case l: java.util.List[_] => l
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case other => other.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def writeFile(p: Path, v: Any): Unit =
    Files.write(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(toJava(v)))
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x)).mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def totalMemoryBytes(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize

  /** Heap in use after full collections, in MB. Spark's ContextCleaner
    * frees broadcast and shuffle state asynchronously once a collection
    * finds it unreachable, so collect until the figure stops falling. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { mx.gc(); mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      prev = cur
      Thread.sleep(300)
      cur = used()
      rounds += 1
    } while (rounds < 10 && cur < prev * 0.99)
    cur
  }
}

object Log {
  /** Runs `f`, printing how long it took to standard error. */
  def timed[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally System.err.println(f"extractbench: $what%s took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
