package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{DeserializeToObjectExec, QueryExecution,
  SerializeFromObjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files

/** Physical-plan assertions: the plans we ship are the plans we designed
  * (column pruning to (url, html), filter pushdown to parquet, broadcast
  * only where intended, whole-stage codegen on the SQL surface). The
  * flagship pins run the real `Extract.run` and assert on the write plan it
  * executed: on a fresh table exactly one exchange, hashpartitioning(url_key,
  * P), and one encoder round trip through `Extract.kernel`; on a lookup
  * resume that is still the only exchange, with no join and no chain scan;
  * on a Bloom resume, html crosses only that exchange. */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("plan-shape")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A directory of `n` PageGen pages (seed 42). */
  private def pagesDir(n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-pages").toString
    spark.range(n).mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, 42L)))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The final plan of the parquet write that `body` runs (the adaptive
    * plan's final form when AQE is on). */
  private def writePlanOf(body: => Unit): SparkPlan =
    plansOf(body).find(_.toString.contains("InsertIntoHadoopFsRelationCommand"))
      .getOrElse(fail("no write plan"))

  /** The final plans of the queries that `body` runs. */
  private def plansOf(body: => Unit): Seq[SparkPlan] =
    queriesOf(body).map(_.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })

  /** The query executions that `body` runs successfully. */
  private def queriesOf(body: => Unit): Seq[QueryExecution] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val capture = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events of queries run before `body` are delivered asynchronously:
    // drain them first, or one could land in `capture`
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(capture)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(capture)
    qes.toArray(Array.empty[QueryExecution]).toSeq
  }

  /** Every node of `p`, looking through adaptive plans, query stages and
    * reused exchanges (all leaves to `collect`). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case o => o.children.flatMap(nodes)
  })

  /** Whether `e` is the kernel stage's exchange: hash partitioning on
    * url_key alone into `p` partitions. */
  private def byUrlKey(e: ShuffleExchangeExec, p: Int): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(k: Attribute), n) => k.name == "url_key" && n == p
    case _ => false
  }

  /** The write plan of `Extract.run` over 100 pages into an empty table. */
  private lazy val freshWritePlan: SparkPlan = {
    val dir = pagesDir(100)
    val table = new graft.tables.SnapshotTable(Files.createTempDirectory("plan-table").toString)
    writePlanOf(graft.pipeline.Extract.run(spark, spark.read.parquet(dir), table,
      numPartitions = 4))
  }

  test("extraction scan prunes to (url, html) — the fat column plus key only") {
    val plan = freshWritePlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"))
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"),
      s"unpruned columns leak into the scan: $readSchema")
  }

  test("flagship pipeline has exactly one exchange, hashpartitioning(url_key, P)") {
    val plan = freshWritePlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1, s"expected exactly 1 exchange, plan:\n$plan")
    val shuffles = nodes(freshWritePlan).collect { case e: ShuffleExchangeExec => e }.distinct
    assert(shuffles.length === 1 && byUrlKey(shuffles.head, 4),
      s"expected the one exchange to be hashpartitioning(url_key, 4):\n$plan")
    // the kernel stage decodes rows into objects once and encodes its docs
    // once: a second encoder round trip would show up as a second pair
    val all = nodes(freshWritePlan)
    assert(all.count(_.isInstanceOf[DeserializeToObjectExec]) === 1 &&
      all.count(_.isInstanceOf[SerializeFromObjectExec]) === 1,
      s"expected one DeserializeToObject and one SerializeFromObject:\n$plan")
  }

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"),
      s"filter not pushed:\n$plan")
  }

  test("q_top_customers broadcasts the dimension side") {
    val plan = planOf(SparkEntry.queries("q_top_customers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("resume anti-join on unbounded done-set does NOT force broadcast in the pipeline") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, ResolvedHint}
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    // the real Bloom resume pass leaves join strategy choice to
    // Catalyst/AQE: a done set or an all-failing retry set past broadcast
    // range must degrade to a shuffle join, not a broadcast that runs out
    // of memory. So no join of its analyzed write plan carries a broadcast
    // hint, on the join or as a hint node below it.
    val dir = pagesDir(100)
    val table = new graft.tables.SnapshotTable(Files.createTempDirectory("plan-table").toString)
    graft.pipeline.Extract.run(spark, spark.read.parquet(dir).filter(!col("url").endsWith("0")),
      table, numPartitions = 2)
    // a retryable failure, so the pass also joins the retry counts
    val retry = spark.read.parquet(dir).select("url").as[String].collect().filter(_.endsWith("0")).head
    table.commit(Seq(ExtractedDoc(retry, "html", null, null, null, Array.empty, 0.5, 0L, "boom",
      Lineage(0, 0, "error"))).toDS().toDF(), Map("input" -> 1L, "extracted" -> 0L, "failed" -> 1L))
    val write = queriesOf(graft.pipeline.Extract.run(spark, spark.read.parquet(dir), table,
        numPartitions = 2, bloomResumeMinRows = 0))
      .find(_.analyzed.toString.contains("InsertIntoHadoopFsRelationCommand"))
      .getOrElse(fail("no write plan")).analyzed
    def forced(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    val joins = write.collect { case j: Join => j }
    assert(joins.map(_.joinType.sql).toSet === Set("LEFT SEMI", "LEFT ANTI", "LEFT OUTER"),
      s"the Bloom pass does not join as expected:\n$write")
    val hinted = joins.filter(j => forced(j.hint.leftHint) || forced(j.hint.rightHint)) ++
      joins.flatMap(_.children).flatMap(_.collect { case h: ResolvedHint if forced(Some(h.hints)) => h })
    assert(hinted.isEmpty, s"the Bloom pass forces a broadcast:\n$write")
  }

  test("corpus-build chain: the gate + scrub stages add NO exchange beyond " +
       "the dedup's own (they fuse into the kernel output stage)") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // the q_corpus_build composition, with the quality gate + PII scrub
    // switchable: both variants must shuffle exactly the same number of
    // times — the gate is a WHERE and the scrub a projection, both in the
    // kernel's stage
    def chain(gateAndScrub: Boolean): org.apache.spark.sql.DataFrame = {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val pages = docs.select(
          concat(lit("doc://"), col("doc_id")).as("url"),
          encode(col("text"), "UTF-8").as("html"))
      val extracted = graft.pipeline.Extract.kernelPages(pages).toDF()
        .select(substring(col("url"), 7, 32).cast("long").as("doc_id"),
          col("extracted_text"))
      val gated =
        if (gateAndScrub)
          extracted
            .filter(graft.operators.QualityFilters.gopherKeep(col("extracted_text")))
            .select(col("doc_id"),
              graft.operators.PiiScrub.redact(col("extracted_text")).as("clean_text"))
        else extracted.select(col("doc_id"), col("extracted_text").as("clean_text"))
      graft.operators.Dedup
        .nearDupPairs(gated, "doc_id", "clean_text", threshold = 0.6).toDF()
    }
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      planOf(df).linesIterator.count(_.contains("Exchange"))
    // (a) pair generation — the dedup's only shuffling stage before the
    // rollup — shuffles exactly as often with the stages as without
    val withStages = chain(gateAndScrub = true)
    val without = chain(gateAndScrub = false)
    assert(exchanges(withStages) === exchanges(without),
      s"gate/scrub added exchanges: ${planOf(withStages)}")
    // (b) the scrub's regex replacements evaluate BELOW the first exchange
    // (in the kernel-output stage), not in a post-shuffle stage of their own
    val lines = planOf(withStages).linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val scrubLine = lines.lastIndexWhere(_.contains("<EMAIL>"))
    assert(firstExchange >= 0 && scrubLine > firstExchange,
      "scrub projection not below the dedup exchange:\n" + lines.mkString("\n"))
  }

  test("native text expressions stay inside whole-stage codegen") {
    import graft.functions.TextFunctions
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(TextFunctions.sanitize_text(col("text")).as("t"),
        TextFunctions.printable_ratio(col("text")).as("r"))
    val plan = planOf(df)
    // "*(n)" prefixes mark whole-stage-codegen subtrees in executedPlan
    val projectLine = plan.linesIterator.find(_.contains("sanitize_text")).getOrElse("")
    assert(projectLine.trim.startsWith("*("),
      s"text expressions outside codegen:\n$plan")
    assert(df.count() > 0)
  }

  test("embedding near-dup LSH plan joins on bucket — no cartesian product") {
    val plan = planOf(SparkEntry.queries("q_embed_neardup_lsh")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"LSH variant degenerated to all-pairs:\n$plan")
    assert(plan.contains("bucket"), s"bucket join key missing:\n$plan")
  }

  test("kernel-over-testdata query prunes the documents scan to (doc_id, text)") {
    val plan = planOf(SparkEntry.queries("q_extract_text")(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unpruned columns leak into the scan: $readSchema")
  }

  test("resume with failures aggregates only the failed subset (error filter pushed to scan)") {
    import spark.implicits._
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val tableDir = Files.createTempDirectory("plan-table").toString
    val table = new graft.tables.SnapshotTable(tableDir)
    val rows = Seq(
      ExtractedDoc("u1", "html", "ok text", null, null, Array.empty, 0.5, 7L, null, Lineage(0, 0, "t")),
      ExtractedDoc("u2", "html", null, null, null, Array.empty, 0.5, 0L, "boom", Lineage(0, 0, "error")))
    table.commit(rows.toDS().toDF(), Map("input" -> 2L, "extracted" -> 1L, "failed" -> 1L))
    val done = table.doneUrls(spark).get
    val plan = planOf(done)
    assert(plan.toLowerCase.contains("isnotnull(error") ,
      s"terminal-failure aggregate not failure-filtered:\n$plan")
    // only url+error are read — no text columns in the resume scan
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("extracted_text"),
      s"resume scan reads text columns:\n$readSchemas")
  }

  test("q_ann_ivf plan has no ScalaUDF node (assignment is typed mapPartitions)") {
    val plan = planOf(SparkEntry.queries("q_ann_ivf")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batchevalpython"),
      s"IVF assignment fell back to a UDF:\n$plan")
  }

  test("minhash LSH bucket grouping is a DataFrame aggregate (no typed groupByKey exchange)") {
    implicit val sp: SparkSession = spark
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    val plan = planOf(
      graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.6).toDF())
    // typed groupByKey materializes an AppendColumns + keys-prefixed exchange;
    // the DataFrame groupBy(band,bucket) path must show an ObjectHashAggregate
    // (collect_list) and no AppendColumns node
    assert(!plan.contains("AppendColumns"), s"typed groupByKey leaked back in:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"bucket aggregation missing:\n$plan")
  }

  test("line-dedup exchanges are keyed on the 8-byte line hash, never the line text") {
    val df = graft.operators.QualityFilters.lineDedupStats(
      spark.read.parquet(s"$sf/documents.parquet"))
    val plan = planOf(df)
    val exchanges = plan.linesIterator.filter(_.contains("hashpartitioning")).toList
    assert(exchanges.nonEmpty, s"no keyed exchange found:\n$plan")
    // the count/join exchanges must partition on line_h (a BIGINT), not the
    // raw line string — at corpus scale the difference is shuffling 8 bytes
    // per line vs the full text twice
    assert(exchanges.exists(_.contains("line_h")),
      s"line_h is not an exchange key:\n$plan")
    assert(!exchanges.exists(e => e.contains("line#") || e.contains("line,")),
      s"an exchange still keys on the raw line text:\n$plan")
  }

  test("bloom resume plan: codegen might_contain probe + key-only scan branch") {
    val plan = planOf(SparkEntry.queries("q_resume_bloom")(spark, sf))
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    // the candidate branch must scan ONLY the key column — the fat text
    // columns are read once, on the final anti-join branch
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(readSchemas.exists(rs => rs.contains("doc_id") && !rs.contains("text")),
      s"no key-only scan branch:\n${readSchemas.mkString("\n")}")
  }

  test("pipeline bloom resume: might_contain probe, fat column never crosses a shuffle") {
    val dir = pagesDir(200)
    val table = new graft.tables.SnapshotTable(Files.createTempDirectory("plan-table").toString)
    graft.pipeline.Extract.run(spark, spark.read.parquet(dir).filter(!col("url").endsWith("0")),
      table, numPartitions = 2)
    // the real resume pass, forced onto the Bloom-pruned anti-join, under
    // adaptive and static planning: html crosses exactly one shuffle,
    // hashpartitioning(url_key, 2), whichever join strategies get picked
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val plan = writePlanOf(graft.pipeline.Extract.run(spark, spark.read.parquet(dir),
          table, numPartitions = 2, bloomResumeMinRows = 0))
        val s = plan.toString
        assert(s.contains("might_contain"), s"AQE $aqe: bloom probe missing:\n$s")
        val fat = nodes(plan).collect { case e: ShuffleExchangeExec => e }.distinct
          .filter(_.output.exists(_.name == "html"))
        assert(fat.length === 1 && byUrlKey(fat.head, 2),
          s"AQE $aqe: html crosses ${fat.length} shuffles:\n$s")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("resume: building the done set and retry counts runs no Spark job; " +
       "the real lookup pass reads the chain in one job of one stage and writes with no join") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.kernel.ExtractKernel.{ExtractedDoc, Lineage}
    val sc = spark.sparkContext
    val pages = spark.read.parquet(pagesDir(60))
    val table = new graft.tables.SnapshotTable(Files.createTempDirectory("plan-table").toString)
    // a chain with successes (snapshot 0) and failures (snapshot 1), and
    // pages still pending for the pass under test
    val (done, rest) = pages.select("url").as[String].collect().sorted.splitAt(40)
    graft.pipeline.Extract.run(spark, pages.filter(col("url").isin(done: _*)), table,
      numPartitions = 2)
    val failed = rest.take(3).toSeq.map(u => ExtractedDoc(u, "html", null, null, null,
      Array.empty, 0.5, 0L, "boom", Lineage(0, 0, "error")))
    table.commit(failed.toDS().toDF(), Map("input" -> 3L, "extracted" -> 0L, "failed" -> 3L))
    val chainDirs = table.visibleDataDirs

    // jobs, completed stages and shuffle-writing stages that `body` runs
    def stagesOf(body: => Unit): (Int, Int, Int) = {
      val jobs, stages, shuffles = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffles.incrementAndGet()
        }
      }
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        body
        org.apache.spark.graft.ListenerBusDrain(sc)
      } finally sc.removeSparkListener(listener)
      (jobs.get, stages.get, shuffles.get)
    }

    val (frameJobs, _, _) = stagesOf(
      assert(table.doneUrls(spark).nonEmpty && table.retryAttempts(spark).nonEmpty))
    assert(frameJobs === 0, "building the resume frames launched Spark jobs")

    // the same pass into an empty table, then the resume pass under test
    val empty = new graft.tables.SnapshotTable(Files.createTempDirectory("plan-table").toString)
    val fresh = stagesOf(graft.pipeline.Extract.run(spark, pages, empty, numPartitions = 2))
    var plans = Seq.empty[SparkPlan]
    val resumed = stagesOf {
      plans = plansOf(graft.pipeline.Extract.run(spark, pages, table, numPartitions = 2))
    }
    // what resume adds to the pass: one job of one stage, with no shuffle,
    // and no SQL plan of the pass scans a chain directory
    assert((resumed._1 - fresh._1, resumed._2 - fresh._2, resumed._3 - fresh._3) === ((1, 1, 0)),
      s"resume pass ran (jobs, stages, shuffle stages) $resumed, a fresh pass $fresh")
    val chainScans = plans.flatMap(nodes).collect { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.map(_.toUri.getPath).exists(p =>
        chainDirs.exists(d => p == d || p.startsWith(d + "/"))))
    assert(chainScans.isEmpty, s"the pass scans the chain:\n${chainScans.mkString("\n")}")

    val write = plans.find(_.toString.contains("InsertIntoHadoopFsRelationCommand"))
      .getOrElse(fail("no write plan"))
    val all = nodes(write)
    assert(!all.exists(n => n.isInstanceOf[BaseJoinExec] || n.nodeName.contains("Join")),
      s"the resume write plan joins:\n$write")
    // resume_state runs in the scan stage, below the one exchange,
    // hashpartitioning(url_key, 2)
    val exchanges = all.collect { case e: ShuffleExchangeExec => e }.distinct
    assert(exchanges.length === 1 && byUrlKey(exchanges.head, 2),
      s"expected only the hashpartitioning(url_key, 2) exchange:\n$write")
    assert(nodes(exchanges.head.child).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.ResumeState]))),
      s"resume_state is not below the url_key exchange:\n$write")
  }

  test("q_norm_dedup: the executed adaptive plan reuses the fp exchange") {
    val df = SparkEntry.queries("q_norm_dedup")(spark, sf)
    df.collect()
    // both consumers of the fingerprints (the group aggregate and the join
    // back) read one hash-partitioned-by-fp exchange; AQE decides the reuse
    // at runtime, so the pin is on the final plan
    val reused = nodes(df.queryExecution.executedPlan).collect {
      case r: ReusedExchangeExec => r.child
    }
    assert(reused.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "fp"))
        case _ => false
      }
      case _ => false
    }, s"no reused fp exchange:\n${df.queryExecution.executedPlan}")
  }

  test("aggregates use partial (map-side) aggregation") {
    val plan = planOf(SparkEntry.queries("q_lang_stats")(spark, sf))
    // two HashAggregate nodes: partial + final
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"no partial aggregation:\n$plan")
  }

  test("inverted index: token-keyed stages reuse one partitioning (3 exchanges total)") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.TextIndex.invertedIndex(
        spark.read.parquet(s"$sf/documents.parquet"))
      val plan = df.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // (tok, salt) window + tok window (reused by the postings aggregate
      // AND the join) + the df-count aggregate branch — nothing else
      assert(shuffles.length === 3,
        s"expected 3 exchanges, got ${shuffles.length}:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("line rebuild: dedup exchanges key on the 8-byte line hash") {
    val df = graft.operators.QualityFilters.dedupLinesRebuild(
      spark.read.parquet(s"$sf/documents.parquet"))
    val plan = planOf(df)
    val exchanges = plan.linesIterator.filter(_.contains("hashpartitioning")).toList
    assert(exchanges.exists(_.contains("line_h")),
      s"line_h is not an exchange key:\n$plan")
    // the verdict stage never partitions on the raw line string; the text
    // only moves in the doc-keyed rebuild group (inherent to a rewrite)
    assert(!exchanges.exists(e => e.contains("line#") || e.contains("line,")),
      s"an exchange keys on the raw line text:\n$plan")
  }

  test("pagerank: every iteration joins hash-keyed — no cartesian/nested-loop") {
    import spark.implicits._
    val edges = Seq.tabulate(64)(i => (s"h${i % 8}", s"h${(i * 3 + 1) % 8}"))
      .toDF("src", "dst")
    val plan = graft.operators.LinkGraph.withPageRank(edges, iters = 3)(planOf)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in plan:\n$plan")
  }
}
