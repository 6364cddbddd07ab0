package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.functions.{ResumeFunctions, UrlFunctions}
import graft.kernel.ExtractKernel
import graft.kernel.ExtractKernel.ExtractedDoc
import graft.tables.{ResumeIndex, SnapshotTable}

/**
 * The flagship dataflow (SURVEY.md §3.4) — the whole reference pipeline
 * (fetcher -> orchestrator -> processor -> uploader,
 * /root/reference/src/orchestrator.py + app.py) as ONE Spark job:
 *
 *   `plan`:
 *     scan pages (column-pruned to url+html, keyed on url_key)
 *     -> drop what the committed snapshots hold        (resume; S1/S2)
 *     -> repartition on url_key + local sort            (skew defuse; §4.3)
 *     -> collapse url variants -> Extract.kernel        (the "container")
 *   `commit`:
 *     -> append to SnapshotTable + atomic commit        (uploader/K1)
 *
 * `run` is `commit` over `plan`, and `plan` is the one definition of the
 * pipeline: `SparkEntry.entry`, `q_extract_pipeline` and `graft.Bench`
 * call it with no table, and the streams run `run` on each micro-batch
 * (`streaming.StreamingExtract.extractInto`). `kernel` is the one kernel
 * stage; outside this package only the kernel-only queries and plan pins
 * reach it, through `kernelPages`.
 *
 * Explicit physical decisions (north_rule): the scan prunes to (url, html)
 * so the fat binary column is the only payload moved, and the repartition
 * on url_key is the only exchange of the write. Resume has two strategies,
 * chosen by the chain's row count:
 *  - the lookup (below `bloomResumeMinRows`): one job of one stage folds the
 *    chain into a [[graft.tables.ResumeIndex]], and `resume_state(url_key)`
 *    probes its broadcast in the scan projection — done rows are filtered
 *    before the exchange and prior attempts ride along, with no join;
 *  - the Bloom path (at or above it): the Bloom-pruned anti-join, which never
 *    exchanges the fat side once the done set outgrows broadcast, plus a
 *    retry left join and the per-url failure aggregate.
 * `url_key` is the url hash the north star repartitions on to defuse
 * host-level skew: xxhash64 of the canonical url, so one host's pages
 * spread over every partition while a page's spellings share one. The
 * partition count P is an explicit input sized for ~128MB html per task at
 * the target scale.
 */
object Extract {

  /** Chain row count at which resume switches from the in-scan lookup to
    * the Bloom-pruned exact anti-join: ~4M rows keeps the broadcast index
    * under ~48 MB, while the bloom build itself stays trivial (8 MB cap). */
  val DefaultBloomResumeMinRows: Long = 4L << 20

  final case class Metrics(version: Int, input: Long, extracted: Long,
                           failed: Long, bytesIn: Long)

  /** A page for the kernel stage, with its retry count (prior failed
    * attempts, 0 the first time). */
  final case class PageJob(url: String, html: Array[Byte], prior_attempts: Int)
  /** A pending row of `plan` with the canonical url key it partitions,
    * dedups and resumes on. */
  final case class KeyedJob(url: String, html: Array[Byte], prior_attempts: Int,
                            url_key: Long)

  /** The kernel stage: the one place a Dataset of pages becomes extracted
    * docs. Each doc's lineage is (task partition, `prior_attempts` + the
    * task's attempt number), so a re-run task records its retry. */
  private[pipeline] def kernel(jobs: Dataset[PageJob]): Dataset[ExtractedDoc] = {
    val spark = jobs.sparkSession
    import spark.implicits._
    jobs.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val taskRetry = Option(TaskContext.get()).map(_.attemptNumber()).getOrElse(0)
      it.map(j => ExtractKernel.extractOne(j.url, j.html, pid, j.prior_attempts + taskRetry))
    }
  }

  /** [[kernel]] over `(url, html)` pages with no retry history. */
  def kernelPages(pages: DataFrame): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    kernel(pages.select(col("url"), col("html"), lit(0).as("prior_attempts")).as[PageJob])
  }

  /** One pass's docs as [[plan]] builds them. `docs` is lazy; as it is
    * consumed, the typed step before the kernel fills `deduped` (variant
    * collapses), `bytesIn` and `partStats` ((partition, docs, ms) per
    * task). `resume` is the lookup's index broadcast, which [[release]]
    * destroys once `docs` has run. */
  final case class Planned(docs: Dataset[ExtractedDoc], deduped: LongAccumulator,
      bytesIn: LongAccumulator, partStats: CollectionAccumulator[(Int, Long, Long)],
      resume: Option[Broadcast[ResumeIndex]]) {
    def release(): Unit = resume.foreach(_.destroy())
  }

  /** Run one incremental extraction pass: [[commit]] over [[plan]]. Quarantine
    * semantics follow the reference's retry-then-terminal state machine
    * (src/queue.py:59-78): a url whose rows are all failures with
    * < maxRetries attempts is still pending — it is re-driven here with
    * attempt = prior failure count — and becomes terminal only at maxRetries. */
  def run(spark: SparkSession, pagesDf: DataFrame, table: SnapshotTable,
          numPartitions: Int = 0,
          maxRetries: Int = SnapshotTable.DefaultMaxRetries,
          bloomResumeMinRows: Long = DefaultBloomResumeMinRows): Metrics = {
    val planned = plan(spark, pagesDf, Some(table), numPartitions, maxRetries,
      bloomResumeMinRows)
    try commit(planned, table) finally planned.release()
  }

  /** The docs one pass extracts from `pagesDf`: resume against `table` (none
    * when absent, as for an empty table), url_key, repartition, local sort,
    * variant collapse and [[kernel]]. The caller consumes `docs` and then
    * calls `release`. */
  def plan(spark: SparkSession, pagesDf: DataFrame, table: Option[SnapshotTable] = None,
           numPartitions: Int = 0,
           maxRetries: Int = SnapshotTable.DefaultMaxRetries,
           bloomResumeMinRows: Long = DefaultBloomResumeMinRows): Planned = {
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions
            else spark.sparkContext.defaultParallelism

    // column pruning is explicit: url + html only (html is the fat column;
    // text/lang/warc_ts are never read — verify via .explain ReadSchema).
    // The canonical url key (xxhash64 of the RFC 3986-normalized url,
    // functions/UrlFunctions) computes in the same scan projection and is
    // THE pipeline key: partitioning, within-batch variant collapse, and resume
    // all go through it, so two spellings of one page are one extraction —
    // the normalization the reference's url-keyed queue lacks
    // (src/queue.py:24-33 keys raw strings).
    val pages = pagesDf.select(col("url"), col("html"))
      .withColumn("url_key", UrlFunctions.urlKey(col("url")))

    // Resume (S1/S2, the claim query the reference revolves around —
    // src/queue.py:24-33). Two exact, row-identical strategies, chosen by
    // the chain's row count (the manifests' total, or one count job on an
    // externally built chain):
    //  - below `bloomResumeMinRows`: a lookup. One job folds the chain into
    //    a ResumeIndex (sorted url keys + states, 12 bytes per key); its
    //    broadcast is probed by `resume_state(url_key)` in the scan
    //    projection, and done rows are filtered out there, so the write
    //    plan has no join and never reads the chain;
    //  - at/above it: Bloom-pruned exact anti-join — the fat (url, html)
    //    side is never exchanged, which is the shape a 100 TB done-set
    //    needs (see operators/BloomResume.scala). The row total
    //    upper-bounds distinct done urls, so the filter is never undersized
    //    by more than the retry fraction (fpp degrades, exactness doesn't).
    //    Retry counts come from a left join against the per-key max.
    val chain = table.map(t => (t, t.chainRows(spark)))
    val (pending, resume) = chain match {
      case Some((t, Some(rows))) if rows >= bloomResumeMinRows =>
        (bloomResume(pages, t, rows, maxRetries), None)
      case _ => chain.flatMap(_._1.resumeIndex(spark, maxRetries)) match {
        case Some(ix) =>
          val bc = spark.sparkContext.broadcast(ix)
          (pages.withColumn("prior_attempts", ResumeFunctions.resumeState(col("url_key"), bc))
            .filter(col("prior_attempts") >= 0), Some(bc))
        case None => // no table, or an empty one
          (pages.withColumn("prior_attempts", lit(0)), None)
      }
    }

    val bytesIn = spark.sparkContext.longAccumulator("graft.bytesIn")
    // per-partition lineage (K5 analog of the reference's per-job processor
    // log): (partition, docs, ms) — the partition-time histogram is the
    // evidence that the url_key partitioning defused host skew (§4.3)
    val partStats = spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("graft.partStats")

    // Repartition on the canonical key (variants share it, hence a
    // partition), then sort within partitions by (url_key, url): the
    // spillable external sort groups variant spellings adjacently so the
    // typed step below collapses them streaming — deterministic
    // (lexicographically smallest spelling survives), no per-partition
    // buffering, and still exactly one exchange (the Sort is partition-local).
    val docsDeduped = spark.sparkContext.longAccumulator("graft.docsDeduped")
    val sorted = pending
      .repartition(p, col("url_key"))
      .sortWithinPartitions(col("url_key"), col("url"))
      .as[KeyedJob]

    // The typed step that feeds the kernel: variant collapse, bytes_in and
    // partition stats. The kernel pulls from it, so when it runs dry every
    // row of the partition has been extracted; the by-name tail of `++`
    // records the stats then, once. The two typed steps deserialize and
    // serialize once (EliminateSerialization drops the PageJob round trip
    // between them).
    val jobs = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var nDocs = 0L
      var prevKey = 0L
      var first = true
      val kept = it.filter { r =>
        val keep = first || r.url_key != prevKey
        prevKey = r.url_key; first = false
        if (!keep) docsDeduped.add(1)
        keep
      }.map { r =>
        bytesIn.add(if (r.html == null) 0 else r.html.length.toLong)
        nDocs += 1
        PageJob(r.url, r.html, r.prior_attempts)
      }
      kept ++ {
        partStats.add((pid, nDocs, (System.nanoTime() - t0) / 1000000L))
        Iterator.empty[PageJob]
      }
    }
    Planned(kernel(jobs), docsDeduped, bytesIn, partStats, resume)
  }

  /** Write `planned.docs` as the table's next snapshot, count it back and
    * commit the manifest. */
  def commit(planned: Planned, table: SnapshotTable): Metrics = {
    val spark = planned.docs.sparkSession
    // single action: write the data files (error column stays with the data,
    // so one pass covers both success and quarantine rows), then publish the
    // manifest and flip the pointer. Committed row metrics are derived from
    // the WRITTEN snapshot, not the accumulators: Spark does not deduplicate
    // transformation-stage accumulator updates, so task retries/speculation
    // would double-count them. bytes_in has no output-side equivalent and
    // stays accumulator-observed (approximate under retries, documented).
    val outDf = planned.docs.toDF()
    val (version, snapDir) = table.writeData(outDf)
    // explicit schema: a no-op snapshot writes zero part files and schema
    // inference would fail on the empty directory
    val counts = spark.read.schema(outDf.schema).parquet(snapDir)
      .agg(count(lit(1)), count(when(col("error").isNull, lit(1))))
      .collect()(0)
    val (written, ok) = (counts.getLong(0), counts.getLong(1))
    val bytesIn = planned.bytesIn.value.toLong
    val metrics = Map[String, Long](
      "input" -> written,
      "extracted" -> ok,
      "failed" -> (written - ok),
      "deduped" -> planned.deduped.value.toLong,
      "bytes_in" -> bytesIn)
    import scala.jdk.CollectionConverters._
    val lineageRows = planned.partStats.value.asScala.toSeq.sortBy(_._1).map {
      case (pid, docs, ms) =>
        Map[String, Long]("partition" -> pid.toLong, "docs" -> docs, "ms" -> ms)
    }
    table.commitManifest(version, snapDir, metrics, lineage = lineageRows)
    Metrics(version, written, ok, written - ok, bytesIn)
  }

  /** The Bloom resume path: pages whose key the chain has not done, with
    * their prior attempts (0 when the key never failed). */
  private def bloomResume(pages: DataFrame, table: SnapshotTable, chainRows: Long,
                          maxRetries: Int): DataFrame = {
    val spark = pages.sparkSession
    table.resumeInputs(spark) match {
      case None => pages.withColumn("prior_attempts", lit(0))
      case Some(r) =>
        val done = r.done(maxRetries).select(UrlFunctions.urlKey(col("url")).as("url_key"))
        val notDone = graft.operators.BloomResume.bloomAntiJoin(pages, done, "url_key", chainRows)
        // The retryable set is small by construction (failed-but-retryable
        // urls only) so Catalyst/AQE will normally broadcast it — but the
        // hint is NOT forced: a pathological all-failing corpus must degrade
        // to a shuffle join, not OOM the driver. A retryable url that later
        // succeeded needs no anti-join here: its key is in the done set, so
        // no pending row can pick its count up.
        r.retryable(maxRetries) match {
          case Some(att) =>
            // ONE row per url_key (max attempts across url spellings that
            // canonicalize together): the left join cannot fan a page row
            // out, and the surviving count is deterministic
            val attKeyed = att.select(UrlFunctions.urlKey(col("url")).as("url_key"),
                col("prior_attempts"))
              .groupBy(col("url_key"))
              .agg(max(col("prior_attempts")).as("prior_attempts"))
            notDone.join(attKeyed, Seq("url_key"), "left")
              .withColumn("prior_attempts", coalesce(col("prior_attempts"), lit(0)))
          case None => notDone.withColumn("prior_attempts", lit(0))
        }
    }
  }

  /** A1-style status rollup over the output table (src/queue.py:80-96),
    * resolved per url key by resume's rules: failed attempts count per
    * spelling, then a key is done / done_empty on any success, error once
    * any spelling reached maxRetries, and pending_retry otherwise (the
    * analog of the reference's `pending` after a failed try). */
  def statusCounts(spark: SparkSession, table: SnapshotTable,
                   maxRetries: Int = SnapshotTable.DefaultMaxRetries): DataFrame =
    table.read(spark)
      .groupBy("url")
      .agg(
        max(when(col("error").isNull && col("extracted_text").isNotNull, 1)
          .otherwise(0)).as("has_done"),
        max(when(col("error").isNull && col("extracted_text").isNull, 1)
          .otherwise(0)).as("has_empty"),
        sum(when(col("error").isNotNull, 1).otherwise(0)).as("fails"))
      .groupBy(UrlFunctions.urlKey(col("url")))
      .agg(max("has_done").as("has_done"), max("has_empty").as("has_empty"),
        max("fails").as("fails"))
      .withColumn("status",
        when(col("has_done") === 1, "done")
          .when(col("has_empty") === 1, "done_empty")
          .when(col("fails") >= maxRetries, "error")
          .otherwise("pending_retry"))
      .groupBy("status").count()
}

/**
 * CLI main for spark-submit runs and local e2e:
 *   ExtractMain <pagesParquetDir> <tableDir> [numPartitions]
 * Synthesizes nothing — reads an existing pages table (see FixtureMain).
 */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val pagesPath = args(0)
    val tableDir = args(1)
    val parts = if (args.length > 2) args(2).toInt else 0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val table = new SnapshotTable(tableDir)
    val m = Extract.run(spark, spark.read.parquet(pagesPath), table, numPartitions = parts)
    println(s"""{"version":${m.version},"input":${m.input},"extracted":${m.extracted},"failed":${m.failed},"bytes_in":${m.bytesIn}}""")
    spark.stop()
  }
}

/** FixtureMain <outDir> <rows> [seed]: write the deterministic pages corpus. */
object FixtureMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val rows = args(1).toLong
    val seed = if (args.length > 2) args(2).toLong else 42L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-fixtures")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.range(rows)
      .mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, seed)))
      .write.mode("overwrite").parquet(outDir)
    println(s"""{"rows":$rows,"dir":"$outDir"}""")
    spark.stop()
  }
}
