package graft.tables

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{ResumeFunctions, ResumeState, UrlFunctions}

/** `SnapshotTable.resumeIndex` against the DataFrame definition of resume
  * (`ResumeInputs.done` keyed with url_key, `retryable` with the max count
  * per key), and `resume_state` interpreted and in generated code. */
class ResumeIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("resume-index")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A table whose snapshots hold the given (url, error) rows; a snapshot's
    * manifest records its failed rows. */
  private def chain(snapshots: Seq[(String, String)]*): SnapshotTable = {
    import spark.implicits._
    val table = new SnapshotTable(Files.createTempDirectory("resume-index").toString)
    snapshots.foreach { rows =>
      table.commit(rows.toDF("url", "error"),
        Map("input" -> rows.size.toLong, "failed" -> rows.count(_._2 != null).toLong))
    }
    table
  }

  /** The DataFrame definition: key -> -1 (done) or the max prior attempts. */
  private def reference(table: SnapshotTable, maxRetries: Int): Map[Long, Int] = {
    import spark.implicits._
    def keyed(df: DataFrame) = df.withColumn("k", UrlFunctions.urlKey(col("url")))
    val r = table.resumeInputs(spark).get
    val done = keyed(r.done(maxRetries)).select("k").as[Long].collect().toSet
    val retry = r.retryable(maxRetries).fold(Map.empty[Long, Int])(att =>
      keyed(att).groupBy("k").agg(max(col("prior_attempts")))
        .as[(Long, Int)].collect().toMap)
    retry.filter { case (k, _) => !done(k) } ++ done.map(_ -> ResumeIndex.Done)
  }

  private def indexed(table: SnapshotTable, maxRetries: Int): Map[Long, Int] = {
    val ix = table.resumeIndex(spark, maxRetries).get
    assert(ix.keys.sameElements(ix.keys.sorted.distinct), "keys not sorted and distinct")
    ix.keys.zip(ix.states).toMap
  }

  private def key(url: String): Long = {
    import spark.implicits._
    Seq(url).toDF("url").select(UrlFunctions.urlKey(col("url"))).as[Long].head()
  }

  private val boom = "boom"

  test("named cases: spellings, success after failure, maxRetries boundary, null url") {
    val (a1, a2) = ("https://Example.COM/a?x=1&y=2", "https://example.com:443/a?y=2&x=1#f")
    val (r1, r2) = ("http://R.org/p", "HTTP://r.org:80/p")
    val table = chain(
      Seq(a1 -> boom, a2 -> boom, "http://late.org/" -> boom,
        "http://three.org/" -> boom, "http://three.org/" -> boom,
        "http://two.org/" -> boom, r1 -> boom, r2 -> boom, (null: String) -> boom),
      Seq(a2 -> boom, "http://late.org/" -> null, "http://three.org/" -> boom,
        "http://two.org/" -> boom, r2 -> boom,
        "http://dup.org/" -> null, "http://dup.org/" -> null))
    for (maxRetries <- Seq(1, 3)) {
      val got = indexed(table, maxRetries)
      assert(got === reference(table, maxRetries), s"maxRetries $maxRetries")
      // the spellings a1 (1 failure) and a2 (2 failures) share one key
      val expectA = if (maxRetries == 3) 2 else ResumeIndex.Done
      assert(got(key(a1)) === expectA && got(key(a2)) === expectA)
      assert(got(key("http://late.org/")) === ResumeIndex.Done)
      assert(got(key("http://three.org/")) === ResumeIndex.Done)
      assert(got(key("http://two.org/")) === (if (maxRetries == 3) 2 else ResumeIndex.Done))
      assert(got(key("http://dup.org/")) === ResumeIndex.Done)
      // r2's two failures, one in each snapshot, count together
      assert(got(key(r1)) === (if (maxRetries == 3) 2 else ResumeIndex.Done))
      // url_key(NULL) is xxhash64's seed, 42
      assert(got(42L) === (if (maxRetries == 3) 1 else ResumeIndex.Done))
      assert(table.resumeIndex(spark, maxRetries).get.state(key("http://never.org/")) === 0)
    }
  }

  test("differential: seeded chains equal the DataFrame definition") {
    val rnd = new scala.util.Random(20261019L)
    def spelling(page: Int): String = {
      val (host, path) = (s"h${page % 4}.org", s"/p$page")
      rnd.nextInt(5) match {
        case 0 => s"http://$host$path"
        case 1 => s"HTTP://${host.toUpperCase}$path"
        case 2 => s"http://$host:80$path"
        case 3 => s"http://$host$path#frag${rnd.nextInt(3)}"
        case _ => s"http://$host$path?"
      }
    }
    for (seed <- 0 until 6) {
      val snapshots = Seq.fill(1 + rnd.nextInt(4)) {
        Seq.fill(5 + rnd.nextInt(25)) {
          val url = if (rnd.nextInt(40) == 0) null else spelling(rnd.nextInt(15))
          url -> (if (rnd.nextInt(3) == 0) null else boom)
        }
      }
      val table = chain(snapshots: _*)
      for (maxRetries <- Seq(1, 3))
        assert(indexed(table, maxRetries) === reference(table, maxRetries),
          s"chain $seed, maxRetries $maxRetries: $snapshots")
    }
  }

  test("a chain with no failures on record: every key is done") {
    val table = chain(Seq("http://a.org/" -> null, "HTTP://A.org:80/" -> null,
      "http://b.org/x" -> null, "http://b.org/x" -> null))
    assert(table.chainFailedTotal === Some(0L))
    for (maxRetries <- Seq(1, 3)) {
      val got = indexed(table, maxRetries)
      assert(got === reference(table, maxRetries))
      assert(got === Map(key("http://a.org/") -> ResumeIndex.Done,
        key("http://b.org/x") -> ResumeIndex.Done))
    }
  }

  test("resume_state: interpreted and generated code agree with the index") {
    import spark.implicits._
    val table = chain(Seq("http://a.org/" -> null, "http://b.org/" -> boom,
      "http://b.org/" -> boom, "http://c.org/" -> boom))
    val ix = table.resumeIndex(spark, 3).get
    val bc = spark.sparkContext.broadcast(ix)
    try {
      val probes = ix.keys.toSeq ++ Seq(key("http://z.org/"), Long.MinValue, Long.MaxValue)
      val want = probes.map(ix.state)
      assert(want.take(3).sorted === Seq(ResumeIndex.Done, 1, 2) && want.drop(3).forall(_ == 0))
      val expr = ResumeState(BoundReference(0, LongType, nullable = false), bc)
      assert(probes.map(k => expr.eval(InternalRow(k))) === want, "interpreted")
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      assert(probes.map(k => generated(InternalRow(k)).getInt(0)) === want, "generated")
      // inside whole-stage codegen on a DataFrame (the repartition keeps the
      // optimizer from folding it into a local relation)
      val df = probes.toDF("k").repartition(2)
        .select(col("k"), ResumeFunctions.resumeState(col("k"), bc).as("s"))
      assert(df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap === probes.zip(want).toMap)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("resume_state")),
        plan)
    } finally bc.destroy()
  }
}
