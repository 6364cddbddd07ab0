package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.pipeline.Extract

/**
 * Structured Streaming surface: the reference's polling loops
 * (fetcher/orchestrator/uploader glob+sleep, SURVEY.md §2.1 S4) expressed
 * as real streams. The batch pipeline stays primary (snapshot diff resume);
 * these operators cover the continuous-ingest shape:
 *
 *  - streamingExtract: readStream over a pages directory -> the batch
 *    pipeline's kernel stage (`Extract.kernel`) -> append sink (the
 *    "worker loop" as a stream);
 *  - eventRollup: watermarked tumbling-window counts (A1 as a stream);
 *  - firstSeenUrls: stateful exactly-once-per-url gate via
 *    mapGroupsWithState (the queue's claim semantics as stream state).
 */
object StreamingExtract {

  /** Continuous extraction over files arriving in `pagesDir`. */
  def streamingExtract(spark: SparkSession, pagesDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("html", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    Extract.kernelPages(spark.readStream.schema(schema).parquet(pagesDir)).toDF()
  }

  /** Watermarked tumbling-window event rollup (K6/A1 as a stream). */
  def eventRollup(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      // watermarks need TIMESTAMP (LTZ); parquet NTZ columns are cast (UTC session)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("user_id")).as("approx_users"))

  /**
   * Continuous quality-gated extraction: the streaming worker loop with a
   * Gopher-style keep-gate on the extracted text. Rejected rows never
   * reach the sink; per-trigger accept/reject counts surface through
   * `observe` (StreamingQueryProgress.observedMetrics."quality_gate"),
   * the streaming analog of the batch pipeline's lineage counters — a
   * 100 TB ingest wants the reject rate on a dashboard, not in the sink.
   */
  def qualityGatedExtract(spark: SparkSession, pagesDir: String,
                          minWords: Int = 50): DataFrame =
    qualityGate(streamingExtract(spark, pagesDir), minWords)

  /** Gopher keep-gate + observed accept/reject metrics over a stream of
    * extracted docs (shared by the parquet and WARC ingest paths). */
  private def qualityGate(extracted: DataFrame, minWords: Int): DataFrame = {
    val keep = graft.operators.QualityFilters
      .gopherKeep(coalesce(col("extracted_text"), lit("")), minWords)
    extracted
      .withColumn("keep", keep)
      .observe("quality_gate",
        count(lit(1)).as("total"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("rejected"))
      .filter(col("keep"))
      .drop("keep")
  }

  /** Continuous crawl ingest: stream `.warc` / `.warc.gz` files arriving
    * in `warcDir` end-to-end — WARC record parse -> extraction kernel ->
    * Gopher quality gate with observed accept/reject counts. Run with
    * Trigger.AvailableNow for catch-up-then-stop batch-over-stream runs.
    *
    * Spark-first: file discovery, exactly-once tracking and checkpointing
    * ride Spark's own `binaryFile` file-stream source (one in-memory file
    * image per row — the same per-file unit the batch DSv2 scan uses, and
    * how a crawl sizes its ~1 GB warc files for executor memory); the
    * record parse is the shared WarcRecordIterator over those bytes,
    * gz magic-sniffed. */
  def streamingWarcExtract(spark: SparkSession, warcDir: String,
                           minWords: Int = 50,
                           httpBody: Boolean = false): DataFrame = {
    import spark.implicits._
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val jobs = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.{warc,warc.gz}")
      .load(warcDir)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => graft.sources.warc.WarcBytes.records(bytes, httpBody)
        .map(r => Extract.PageJob(r.url, r.content, 0)))
    qualityGate(Extract.kernel(jobs).toDF(), minWords)
  }

  final case class UrlSeen(url: String, first_ts: Long)

  /** Exactly-once-per-url gate: emits a url only the first time it is seen
    * (the queue-claim semantics of src/queue.py:24-33 as stream state). */
  def firstSeenUrls(spark: SparkSession, pages: Dataset[(String, Long)]): Dataset[UrlSeen] = {
    import spark.implicits._
    pages.groupByKey(_._1)
      .mapGroupsWithState[Long, Option[UrlSeen]](GroupStateTimeout.NoTimeout) {
        (url: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) { rows.foreach(_ => ()); None }
          else {
            val ts = rows.map(_._2).min
            state.update(ts)
            Some(UrlSeen(url, ts))
          }
      }
      .flatMap(_.iterator)
  }
}
