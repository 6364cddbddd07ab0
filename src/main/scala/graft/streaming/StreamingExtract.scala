package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.pipeline.Extract
import graft.tables.SnapshotTable

/**
 * Structured Streaming surface: the reference's polling loops
 * (fetcher/orchestrator/uploader glob+sleep, SURVEY.md §2.1 S4) expressed
 * as real streams on the batch pipeline's one dataflow:
 *
 *  - `pages` / `warcPages`: streaming `(url, html)` sources over a pages
 *    parquet directory and over arriving `.warc` / `.warc.gz` files;
 *  - `extractInto`: the sink, one `Extract.run` per micro-batch into a
 *    [[graft.tables.SnapshotTable]] (the queue's worker loop as a stream);
 *  - `qualityGate`: the Gopher keep-gate with observed counts, applied
 *    where the committed table is read;
 *  - `eventRollup`: watermarked tumbling-window counts (A1 as a stream).
 */
object StreamingExtract {

  /** Pages arriving as parquet files in `dir`, as `(url, html)`. The schema
    * given is the projection, so it prunes the scan inside the streaming
    * plan: the micro-batch `extractInto` receives is RDD-backed, past
    * pruning. */
  def pages(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("url STRING, html BINARY").parquet(dir)

  /** Pages of the `.warc` / `.warc.gz` files arriving in `dir`, as
    * `(url, html)` (`httpBody`: the HTTP entity body of response records).
    * File discovery, exactly-once tracking and checkpointing ride Spark's
    * `binaryFile` file-stream source (one in-memory file image per row,
    * the per-file unit the batch DSv2 scan uses); the record parse is the
    * shared WarcRecordIterator over those bytes, gz magic-sniffed. */
  def warcPages(spark: SparkSession, dir: String, httpBody: Boolean = false): DataFrame = {
    import spark.implicits._
    // binaryFile takes only its own schema; the select prunes it to content
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", "*.{warc,warc.gz}")
      .load(dir)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => graft.sources.warc.WarcBytes.records(bytes, httpBody)
        .map(r => (r.url, r.content)))
      .toDF("url", "html")
  }

  /** The stream's sink: each micro-batch of `(url, html)` pages is one
    * `Extract.run` into `table` with its defaults, so a stream resumes,
    * collapses url variants and re-drives failures exactly as a batch pass
    * does, and the table's chain is the stream's record. Two invariants
    * follow:
    *  - within one micro-batch the smallest spelling per url key survives,
    *    as in batch;
    *  - across micro-batches the first committed spelling wins and no key
    *    is extracted twice: a later spelling, or a micro-batch replayed
    *    after a crash between the table commit and the checkpoint commit,
    *    finds its key done and extracts nothing.
    * Each micro-batch costs one batch pass, the chain read included (there
    * is no chain compaction). Run with Trigger.AvailableNow for
    * catch-up-then-stop runs. */
  def extractInto(pages: DataFrame, table: SnapshotTable): DataStreamWriter[Row] = {
    val pass: (DataFrame, Long) => Unit =
      (batch, _) => Extract.run(batch.sparkSession, batch, table)
    pages.writeStream.foreachBatch(pass)
  }

  /** Gopher keep-gate over extracted docs (a committed table's read), with
    * accept/reject counts observed as "quality_gate". A reader's gate, not
    * an ingest one: the table keeps every row, so a failure still counts
    * toward maxRetries and a reject is not re-extracted by a later pass. */
  def qualityGate(docs: DataFrame, minWords: Int = 50): DataFrame = {
    val keep = graft.operators.QualityFilters
      .gopherKeep(coalesce(col("extracted_text"), lit("")), minWords)
    docs
      .withColumn("keep", keep)
      .observe("quality_gate",
        count(lit(1)).as("total"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("rejected"))
      .filter(col("keep"))
      .drop("keep")
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
}
