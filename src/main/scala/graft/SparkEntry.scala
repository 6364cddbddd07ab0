package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.pipeline.Extract

/**
 * Driver contract (see SURVEY.md §7): one `queries` entry per implemented
 * operator, each with DuckDB-equivalent `oracleSql` where SQL-expressible.
 *
 * Oracle-parity rules used throughout (driver hashes values column-sorted):
 *  - every computed column aliased identically in Spark and SQL;
 *  - no floating-point aggregates (sums are exact: BIGINT or cents via
 *    floor(x*100)); min/max on doubles are exact value picks and safe;
 *  - regexes restricted to constructs with identical Java/RE2 semantics
 *    (ASCII classes, explicit code-point ranges);
 *  - deterministic ORDER BY on both sides.
 */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Adaptive scan fan-out (guide §2.5 "input skew: one huge unsplittable
    * file ... otherwise repartition immediately after the read"): when the
    * on-disk layout yields far fewer scan splits than the session's
    * parallelism — the single-small-file shape of the test SFs — every
    * scan-stage expression (hashes, regexes, extraction kernels, minhash)
    * runs in ONE task regardless of core count. Round-robin out to
    * defaultParallelism in that case. The trigger is derived from the
    * session's own files.maxPartitionBytes and the actual file bytes —
    * never a hard-coded core count — so a production table with hundreds
    * of splits never repartitions and the exchange only exists where the
    * layout starves the cluster. Round-robin placement cannot change any
    * result here: every consumer aggregates, joins or windows with its own
    * keyed exchange downstream. */
  private def tblFan(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = tbl(s, dir, name)
    val maxPB = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val target = s.sparkContext.defaultParallelism
    if (fansOut(scanBytes(new java.io.File(s"$dir/$name.parquet")), maxPB, target))
      df.repartition(target)
    else df
  }

  /** Whether `tblFan` fans a scan of `bytes` data bytes (-1: unknown layout)
    * out: at least `FanMinBytes`, in at most half as many splits as there
    * are task threads. */
  private[graft] def fansOut(bytes: Long, maxPartitionBytes: Long, parallelism: Int): Boolean =
    bytes >= FanMinBytes &&
      math.max(1L, (bytes + maxPartitionBytes - 1) / maxPartitionBytes) * 2 <= parallelism

  /** Below this many bytes the fan's exchange costs more than spreading the
    * scan saves. Measured on `tblFan`'s five callers (`BenchExtra noop 5`,
    * sum of per-query minima, 4 cores, fan on against off, two runs a side):
    * at sf0.01 (a 65,049-byte documents file) 4.65 and 4.03 s with the fan,
    * 3.84 and 3.92 s without; at sf0.1 (594,568 bytes) 5.25 and 5.80 s
    * with it, 6.61 and 8.06 s without (BENCH.md). A line through the two
    * median gains (-0.46 s, +1.81 s) crosses zero at 168 KiB; the same fit
    * through the earlier runs in BENCH.md crosses at 229 KiB. The floor
    * sits between the two. */
  private[graft] val FanMinBytes = 192L * 1024

  /** Data bytes of a parquet file or directory (files named `_*` are
    * metadata), or -1 when the layout is unknown: a missing path, or a
    * directory whose listing fails (`listFiles` returns null). */
  private[graft] def scanBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else if (f.isDirectory)
      Option(f.listFiles()).fold(-1L)(
        _.filter(x => x.isFile && !x.getName.startsWith("_")).map(_.length()).sum)
    else -1L

  /** Deterministic doc-derived WARC fixture corpus, written ONCE per
    * (content tag, flavor) by a PARTITIONED job — one task per output
    * file, nothing collected to the driver (the builder scales with the
    * documents table). Plain flavor: 4 files, half .warc / half .warc.gz.
    * httpGz flavor: all .warc.gz with HTTP-wrapped payloads. */
  private def warcFixtureDir(s: SparkSession, dir: String,
                             httpGz: Boolean, index: Boolean = false): java.io.File = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val a = docs.agg(count(lit(1)).as("n"), sum(length(col("text"))).as("len")).head()
    val tag = s"${a.getLong(0)}-${a.getLong(1)}" +
      (if (httpGz) "-httpgz" else "") + (if (index) "-idx" else "")
    val outDir = new java.io.File(s"/tmp/graft-warc-v2-$tag")
    if (!new java.io.File(outDir, "_DONE").exists()) {
      outDir.mkdirs()
      val files = 4
      docs.repartition(files, pmod(col("doc_id"), lit(files)))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          // stream rows straight into the writer — the partition never
          // materializes (writeWarc traverses its records exactly once)
          if (it.hasNext) {
            val recs = it.map { r =>
              val id = r.getLong(0)
              (s"doc://$id",
                java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(id).toString,
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            val gz = index || httpGz || pid % 2 == 1
            val name = s"part-$pid.warc" + (if (gz) ".gz" else "")
            graft.sources.warc.WarcFixtures.writeWarc(
              new java.io.File(outDir, name), recs, gzip = gz, httpWrap = httpGz,
              index = index)
          }
        }
      new java.io.File(outDir, "_DONE").createNewFile()
    }
    outDir
  }

  /** Flagship: the extraction pipeline (`Extract.plan` with no table) over
    * a deterministic 1k-page synthesized corpus in 8 partitions
    * (BASELINE.json: "synthesise it deterministically at small scale").
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = spark.range(1000)
      .mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, 42L)))
      .toDF()
    Extract.plan(spark, pages, numPartitions = 8).docs.toDF()
      .select("url", "doc_type", "n_chars", "quality")
  }

  // O4 quality-count helpers (ASCII approximation shared verbatim with the
  // DuckDB oracle; the exact Unicode O4 kernel lives in QualityScore and is
  // golden-tested against CPython).
  private val PunctTrim = """.,;:!?()[]{}"'-"""
  private def trimPunct(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(w, PunctTrim)
  private lazy val wordlistWords: Seq[String] =
    graft.kernel.QualityScore.defaultWordlist.toSeq.sorted
  private lazy val wordlistLit: org.apache.spark.sql.Column =
    array(wordlistWords.map(lit): _*)

  // The sanitize keep-set as an RE2/Java-identical character class:
  // 0x20..0x7E, \t \n \r, U+00A0..U+FFFF (astral chars removed — both
  // engines range char classes over code points).
  private val SanitizeDuck = """[^ -~\n\r\t\x{00A0}-\x{FFFF}]"""

  // Whitespace spelled as an explicit class: Java's \s includes \x0B
  // (vertical tab) while RE2's does not, so \s/\S would silently diverge
  // between Spark and the DuckDB oracle for text containing \x0B. The
  // explicit class below is Java-\s-identical and parses the same in RE2.
  private val Ws = """[ \t\n\x0B\f\r]"""
  private val NonWs = """[^ \t\n\x0B\f\r]"""

  // Deterministic doc-derived hostnames with deliberate skew: half the
  // corpus lands on one hot host (real crawls are this skewed), the rest
  // fans out over ~194 subdomains of two registrable domains. The oracle
  // mirrors the derivation CASE-for-CASE.
  private def synthHost(d: Column): Column =
    when(pmod(d, lit(2)) === 0, lit("big.news.example.com"))
      .otherwise(concat(lit("h"), pmod(d, lit(97)).cast("string"), lit("."),
        when(pmod(d, lit(3)) === 0, lit("blog.example.org"))
          .otherwise(lit("shop.example.net"))))
  private def synthHostSqlOf(e: String): String =
    s"CASE WHEN ($e) % 2 = 0 THEN 'big.news.example.com' " +
      s"ELSE 'h' || CAST(($e) % 97 AS VARCHAR) || '.' || " +
      s"CASE WHEN ($e) % 3 = 0 THEN 'blog.example.org' " +
      s"ELSE 'shop.example.net' END END"
  private val synthHostSql: String = synthHostSqlOf("doc_id")

  // Target training-mix keep fractions: one oversampled (keep-all) source,
  // two downsampled, one fully excluded; the other 16 synthetic sources are
  // deliberately unlisted (mixSample drops unvetted sources).
  private val mixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0)
  // CASE arms carry the exact hex-threshold literals the Spark side
  // compares against (rateToHexThreshold), so parity is by construction.
  private def mixSampleOracleSql: String = {
    val arms = mixRates.toSeq.sortBy(_._1).map { case (s, r) =>
      s"WHEN source = '$s' AND substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${graft.operators.CorpusStats.rateToHexThreshold(r)}' THEN 1"
    }.mkString(" ")
    "SELECT doc_id, source, " +
      "substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS u_hex, " +
      s"CASE $arms ELSE 0 END AS kept FROM documents ORDER BY doc_id"
  }

  // Absolute per-source char budgets: src0's exceeds every SF's total
  // (exercises the keep-all arm), src1/src2 force partial rates that VARY
  // by SF (both engines derive them from the data), src4 is a zero budget.
  private val budgetTargets: Map[String, Long] =
    Map("src0" -> 10000000L, "src1" -> 5000L, "src2" -> 50000L, "src4" -> 0L)
  // every CASE arm recomputes the exact integer threshold from the same
  // spec budgetToHexThreshold implements: keep-all when target >= total,
  // else (target*2^32)//total as padded lowercase hex (HUGEINT math)
  private def budgetSampleOracleSql: String = {
    val arms = budgetTargets.toSeq.sortBy(_._1).map { case (s, t) =>
      s"WHEN '$s' THEN CASE WHEN $t >= tot THEN 'g' ELSE " +
        s"lpad(lower(hex(CAST((CAST($t AS HUGEINT) * 4294967296) // tot AS BIGINT))), 8, '0') END"
    }.mkString(" ")
    "WITH t AS (SELECT source, CAST(SUM(n_chars) AS HUGEINT) AS tot " +
      "FROM documents GROUP BY 1), " +
      s"thr AS (SELECT source, CASE source $arms END AS th FROM t) " +
      "SELECT d.doc_id, d.source, " +
      "substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS u_hex, " +
      "CASE WHEN th IS NOT NULL AND " +
      "substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th THEN 1 " +
      "ELSE 0 END AS kept " +
      "FROM documents d LEFT JOIN thr USING (source) ORDER BY d.doc_id"
  }

  // GPT-2-ish piece pattern without lookahead (RE2 has none): contractions,
  // optional-space letter runs, digit runs, punctuation runs, whitespace runs.
  private val BpeishPattern =
    """'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- T6 sanitize as a native codegen'd Catalyst expression -----
    "q_sanitize" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.sanitize_text(col("text")).as("text_clean"))
        .orderBy("doc_id")
    }),
    // ----- T5 truncation (code-point substring) -----
    "q_truncate" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 100).as("text_head"))
        .orderBy("doc_id")
    }),
    // ----- token counting (whitespace tokens, explicit RE2/Java-identical class) -----
    "q_token_count" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(NonWs + "+"), lit(0))).as("n_tokens"))
        .orderBy("doc_id")
    }),
    // ----- document fingerprint: md5 over whitespace-collapsed lowercase -----
    "q_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), Ws + "+", " ")).as("fp"))
        .orderBy("doc_id")
    }),
    // ----- exact dedup: clusters by content fingerprint -----
    "q_dedup_exact" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
        .orderBy("fp")
    }),
    "q_dedup_count" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .agg(countDistinct(md5(col("text"))).as("n_unique"), count(lit(1)).as("n_total"))
    }),
    // ----- per-language length stats (pure BIGINT aggregates) -----
    "q_lang_stats" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang")
    }),
    // ----- A1-style status rollup over events -----
    "q_events_rollup" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy("event_type")
    }),
    // ----- hourly windowed rollup (string-formatted hour: engine-neutral) -----
    "q_events_hourly" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hour", "event_type")
    }),
    // ----- S1 resume semantics: pending = all minus processed (anti-join) -----
    "q_resume_antijoin" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val processed = docs.filter(col("doc_id") % 10 < 3).select("doc_id")
      docs.join(processed, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),
    // ----- bloom-pruned EXACT resume anti-join (the 100 TB done-set
    //       shape: key-only bloom probe -> exact semi verify -> fat side
    //       anti-joins a small broadcastable key set). Row-identical to
    //       the plain anti-join, proven by the same oracle form. -----
    "q_resume_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val processed = docs.filter(col("doc_id") % 7 < 2).select("doc_id")
      graft.operators.BloomResume.bloomAntiJoin(docs, processed, "doc_id",
          expectedDone = 1000L)
        .select("doc_id").orderBy("doc_id")
    }),
    // ----- URL canonicalization (crawl dedup/join keys): messy urls are
    //       derived from doc_id arithmetic (mixed-case scheme/host,
    //       default/odd ports, unsorted params, empty queries, fragments)
    //       and canonicalized by the native rule set (UrlFunctions); the
    //       oracle mirrors the derivation and, as the external mirror of
    //       the rules, re-derives each with DuckDB built-ins. -----
    "q_url_canon" -> ((s, dir) => {
      val d = col("doc_id")
      val ds = d.cast("string")
      val scheme = when(pmod(d, lit(3)) === 0, lit("http"))
        .when(pmod(d, lit(3)) === 1, lit("HTTPS")).otherwise(lit("HtTp"))
      val host = when(pmod(d, lit(2)) === 0, lit("WWW.Example.COM"))
        .otherwise(lit("cdn.Site.org"))
      val port = when(pmod(d, lit(4)) === 0, lit(":80"))
        .when(pmod(d, lit(4)) === 1, lit(":443"))
        .when(pmod(d, lit(4)) === 2, lit(":8080")).otherwise(lit(""))
      val path = when(pmod(d, lit(5)) === 0, lit(""))
        .otherwise(concat(lit("/p/"), ds))
      val query = when(pmod(d, lit(3)) === 0,
          concat(lit("?z=1&a="), pmod(d, lit(7)).cast("string")))
        .when(pmod(d, lit(3)) === 1, lit("?")).otherwise(lit(""))
      val frag = when(pmod(d, lit(2)) === 1,
        concat(lit("#sec"), pmod(d, lit(5)).cast("string"))).otherwise(lit(""))
      val raw = concat(scheme, lit("://"), host, port, path, query, frag)
      tbl(s, dir, "documents")
        .select(d.as("doc_id"), raw.as("url_raw"),
          graft.functions.UrlFunctions.canonicalizeUrl(raw).as("url_canon"))
        .orderBy("doc_id")
    }),
    // ----- §4.3 salt distribution (Knuth multiplicative hash, engine-neutral) -----
    "q_salt_distribution" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(((col("doc_id") * lit(2654435761L)) % lit(4294967296L) % lit(64)).as("salt"))
        .groupBy("salt").agg(count(lit(1)).as("n"))
        .orderBy("salt")
    }),
    // ----- TPC-H Q1-style agg, exact integer arithmetic -----
    "q_tpch_q1" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // ----- broadcast join: per-customer order stats -----
    "q_top_customers" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
      orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .orderBy(col("n_orders").desc, col("c_custkey")).limit(100)
    }),
    // ----- text-quality components (integer counts; ASCII-safe regexes) -----
    "q_text_stats" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      docs.select(col("doc_id"),
        length(col("text")).as("n_cp"),
        size(regexp_extract_all(col("text"), lit(NonWs + "+"), lit(0))).as("n_tokens"),
        length(regexp_replace(col("text"), "[^ -~]", "")).as("n_ascii_printable"),
        size(regexp_extract_all(lower(col("text")),
          lit("""\b(the|and|of|to|in|is|that|for|it|on)\b"""), lit(0))).as("n_stopwords"))
        .orderBy("doc_id")
    }),
    // ----- dedup keepers: canonical row per content cluster -----
    "q_dedup_keepers" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
        .select("keep_id").orderBy("keep_id")
    }),
    // ----- window function: top-5 longest docs per language -----
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      tbl(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "rn")
    }),
    // ----- rollup (grouping sets) over events -----
    "q_events_rollup_sets" -> ((s, dir) => {
      tbl(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("n_users"))
        .orderBy("event_type")
    }),
    // ----- O4 quality components as integers (oracle-exact in DuckDB) -----
    "q_quality_counts" -> ((s, dir) => {
      val words = regexp_extract_all(lower(col("text")), lit(NonWs + "+"), lit(0))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(transform(filter(words, w => length(w) >= 3),
            w => trimPunct(w)), w => w.rlike("^[a-z]+$"))).as("n_checkable"),
          size(filter(transform(filter(words, w => length(w) >= 3),
            w => trimPunct(w)),
            w => w.rlike("^[a-z]+$") && array_contains(wordlistLit, w))).as("n_recognized"))
        .orderBy("doc_id")
    }),
    // ----- custom DataSource V2: WARC (ISO 28500) response records.
    //       A deterministic doc-derived WARC corpus is written to local
    //       disk once (content-tagged; SF changes regenerate), parsed back
    //       through the from-scratch DSv2 reader, and reduced to integers
    //       the oracle recomputes straight from the documents table.
    //       Half the files are .warc.gz (one gzip member per record, the
    //       crawl's native layout) so one oracled query covers both the
    //       plain and the inflate read paths. -----
    "q_warc_roundtrip" -> ((s, dir) => {
      val outDir = warcFixtureDir(s, dir, httpGz = false)
      s.read.format("graft.sources.warc.WarcDataSource")
        .load(outDir.getAbsolutePath)
        .select(col("url"), col("warc_date"),
          length(col("content")).as("n_bytes")) // length(BINARY) = bytes
        .orderBy("url")
    }),
    // ----- Split WARC scan: all-gz fixture with .warci member indexes,
    //       read as small byte-range partitions (8 KiB target) — every
    //       range boundary is a verified member/record start, so the
    //       fanned-out read must be row-identical to the whole-file one
    //       (same oracle as q_warc_roundtrip). -----
    "q_warc_split" -> ((s, dir) => {
      val outDir = warcFixtureDir(s, dir, httpGz = false, index = true)
      s.read.format("graft.sources.warc.WarcDataSource")
        .option("max_partition_bytes", "8192")
        .load(outDir.getAbsolutePath)
        .select(col("url"), col("warc_date"),
          length(col("content")).as("n_bytes"))
        .orderBy("url")
    }),
    // ----- WARC with HTTP message blocks (.warc.gz + warc_http_body):
    //       response records carry status line + headers + CRLFCRLF +
    //       entity body; the reader splits and surfaces the body alone,
    //       which must be exactly the document's UTF-8 bytes. -----
    "q_warc_http" -> ((s, dir) => {
      val outDir = warcFixtureDir(s, dir, httpGz = true)
      s.read.format("graft.sources.warc.WarcDataSource")
        .option("warc_http_body", "true")
        .load(outDir.getAbsolutePath)
        .select(col("url"), length(col("content")).as("n_body_bytes"))
        .orderBy("url")
    }),
    // ----- Gopher-style webtext quality verdicts (integer arithmetic) -----
    "q_gopher_quality" -> ((s, dir) =>
      graft.operators.QualityFilters.gopherFlags(tbl(s, dir, "documents"))
        .orderBy("doc_id")),
    // ----- CCNet-style corpus-wide line-level dedup stats -----
    "q_line_dedup" -> ((s, dir) =>
      graft.operators.QualityFilters.lineDedupStats(tblFan(s, dir, "documents"))
        .orderBy("doc_id")),
    // ----- Gopher line-shape rules over a derived MULTI-LINE corpus:
    //       the single-line docs are chunked into 8-word lines, and
    //       bullets/ellipses are planted by doc_id+line arithmetic so the
    //       oracle reproduces the exact corpus. Spark and DuckDB both go
    //       through join('\n') -> split('\n') so edge cases (empty text)
    //       stay bit-identical. -----
    "q_line_shape" -> ((s, dir) => {
      val chunked = graft.operators.QualityFilters.derivedLines(col("text"))
      val decorated = transform(chunked, (l, i) => {
        val k = col("doc_id") + i
        when(pmod(k, lit(7)) === 0,
          concat(when(pmod(k, lit(2)) === 0, lit("- ")).otherwise(lit("* ")), l))
          .when(pmod(k, lit(11)) === 3, concat(l, lit("...")))
          .otherwise(l)
      })
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), array_join(decorated, "\n").as("mtext"))
      graft.operators.QualityFilters.lineShapeFlags(docs, "mtext")
        .orderBy("doc_id")
    }),
    // ----- Gopher §A.1.1 repetition rules (within-document, codegen) -----
    "q_gopher_rep" -> ((s, dir) =>
      graft.operators.QualityFilters.gopherRepetitionFlags(tbl(s, dir, "documents"))
        .orderBy("doc_id")),
    // ----- per-host crawl profile with explicit skew handling: the hot
    //       host (half the corpus by construction) pre-shards across
    //       (host, source) groups before the final per-host combine -----
    "q_host_stats" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(synthHost(col("doc_id")).as("host"), col("source"), col("n_chars"))
      graft.operators.CorpusStats.hostProfile(docs).orderBy("host")
    }),
    // ----- per-host quota over the deliberately skewed synthetic hosts
    //       (half the corpus on one hot host): keep the 5 lowest doc_ids
    //       per host; the hot host rides the salted two-stage top-K path,
    //       the ~194 cold hosts never enter a window -----
    "q_host_cap" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), synthHost(col("doc_id")).as("host"))
      graft.operators.CorpusStats.hostCapStats(docs, cap = 5)
        .orderBy("doc_id")
    }),
    // ----- deterministic train/val/test assignment: md5('v1:'||doc_id)
    //       bucketed on the first two hex chars, stable under growth -----
    "q_split_assign" -> ((s, dir) =>
      graft.operators.CorpusStats.splitAssign(tbl(s, dir, "documents"))
        .orderBy("doc_id")),
    // ----- sequence-packing plan: global start offset + bin id via the
    //       two-phase distributed prefix sum (never a global window) -----
    "q_pack_bins" -> ((s, dir) =>
      graft.operators.Packing.packStats(tbl(s, dir, "documents"),
        binSize = 20000L, nBuckets = 32).orderBy("doc_id")),
    // ----- deterministic corpus-mix sampling: per-source keep fractions
    //       as hex-string thresholds on md5('mix:'||doc_id); unlisted
    //       sources drop -----
    "q_mix_sample" -> ((s, dir) =>
      graft.operators.CorpusStats.mixSample(tbl(s, dir, "documents"),
        mixRates).orderBy("doc_id")),
    // ----- exact per-source length quantiles via the value-histogram
    //       cumulation (windows run over distinct lengths, never raw
    //       rows); integer target ranks, percentile_disc semantics -----
    "q_len_quantiles" -> ((s, dir) =>
      graft.operators.CorpusStats.lengthQuantiles(tbl(s, dir, "documents"))
        .orderBy("source")),
    // ----- absolute char-budget sampling: keep fractions DERIVED from
    //       per-source totals in exact integer math ((target<<32)/total);
    //       src0's budget exceeds every SF's total (keep-all arm) -----
    "q_budget_sample" -> ((s, dir) =>
      graft.operators.CorpusStats.budgetSample(tbl(s, dir, "documents"),
        budgetTargets).orderBy("doc_id")),
    // ----- UT1/RefinedWeb-style URL blocklist verdicts: suffix-set
    //       explode turns subdomain matching into a broadcast equality
    //       join ("example.com" blocks every subdomain) -----
    "q_url_blocklist" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), synthHost(col("doc_id")).as("host"))
      graft.operators.CorpusStats.blockFlags(docs,
          blocked = Seq("example.com", "h7.blog.example.org"))
        .orderBy("doc_id")
    }),
    // ----- corpus-frequency rare-token quality (two-pass, hash-keyed
    //       shuffles; integer-exact analog of CCNet rarity bucketing) -----
    "q_rare_tokens" -> ((s, dir) =>
      graft.operators.CorpusStats.rareTokenStats(tbl(s, dir, "documents"))
        .orderBy("doc_id")),
    // ----- Lee-et-al-style exact substring dedup at 10-token-window
    //       granularity over a corpus with planted full copies
    //       (doc_id%7==0 re-appears at +1000000): every window of a
    //       copied doc is corpus-duplicated, so the copy AND its base
    //       fail the ok gate; all other docs keep -----
    "q_window_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      graft.operators.Dedup.windowDupStats(docs.unionByName(copies))
        .orderBy("doc_id")
    }),
    // ----- RefinedWeb-style normalized exact dedup: planted variants
    //       (doc_id%9==0 re-appears at +2000000 upper-cased, with
    //       doubled spaces and trailing bangs) normalize onto their
    //       base doc's fingerprint; keeper = lowest doc_id -----
    "q_norm_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(regexp_replace(upper(col("text")), " ", "  "), lit(" !!!"))
            .as("text"))
      graft.operators.Dedup.normalizedDedupStats(docs.unionByName(variants))
        .orderBy("doc_id")
    }),
    // ----- inverted index: per-token document frequency + capped
    //       sorted postings via the salted two-stage top-K (stopwords
    //       spread over 16 salt buckets; no unbounded collect forms) -----
    "q_inverted_index" -> ((s, dir) =>
      graft.operators.TextIndex.invertedIndex(tbl(s, dir, "documents"))
        .orderBy("tok")),
    // ----- host-graph centrality: fixed-point integer PageRank (scale
    //       1e12, 5 iterations) over the deterministic synthetic host
    //       hub graph (odd docs link h* -> big.news, even docs fan
    //       big.news -> h*); integer div before sum keeps it bit-exact -----
    "q_pagerank" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val edges = docs.select(
        synthHost(col("doc_id")).as("src"),
        synthHost(col("doc_id") * 17 + 3).as("dst"))
      // materialized inside, so the iteration caches are released on return
      graft.operators.LinkGraph.withPageRank(edges)(_.orderBy("node").localCheckpoint())
    }),
    // ----- C4-style corpus line dedup WITH reconstruction: the tiny
    //       vocabulary makes 8-word derived lines repeat corpus-wide;
    //       only first occurrences (lowest doc*2^20+idx ordinal)
    //       survive and clean_text is rebuilt from them -----
    "q_line_rebuild" -> ((s, dir) =>
      graft.operators.QualityFilters.dedupLinesRebuild(
        tbl(s, dir, "documents")).orderBy("doc_id")),
    // ----- integer-truncated Flesch-Kincaid readability over a derived
    //       sentence corpus (each 8-word chunk becomes one '.'-terminated
    //       sentence, so n_sentences is meaningful) -----
    "q_readability" -> ((s, dir) => {
      val chunked = graft.operators.QualityFilters.derivedLines(col("text"))
      val mtext = when(size(chunked) === 0, lit(""))
        .otherwise(concat(array_join(chunked, ". "), lit(".")))
      graft.operators.QualityFilters.readabilityStats(
          tbl(s, dir, "documents").select(col("doc_id"), mtext.as("text")))
        .orderBy("doc_id")
    }),
    // ----- incremental-crawl delta between two snapshots: %13 docs
    //       vanish (removed), %11 docs get ' updated' appended
    //       (changed), %17 docs re-appear at +3000000 (added); content
    //       md5 decides, so a re-crawled identical page is unchanged -----
    "q_crawl_delta" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val neu = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      graft.operators.CorpusStats.crawlDelta(docs, neu).orderBy("doc_id")
    }),
    // ----- dataset-card statistics over a corpus with planted exact
    //       AND normalized-only duplicates, so all three distinct
    //       counts differ: %9 docs re-appear verbatim at +4000000,
    //       %9 docs also re-appear normalized-variant at +5000000 -----
    "q_dataset_card" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val verbatim = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!!")).as("text"))
      graft.operators.CorpusStats.datasetCard(
        docs.unionByName(verbatim).unionByName(variants))
    }),
    // ----- per-source vocabulary signature: every doc gets a
    //       source-branded token appended ('mark'||source), which each
    //       source's lift ranking must surface at rank 1; the shared
    //       base vocabulary ranks by exact integer lift below it -----
    "q_source_sig" -> ((s, dir) =>
      graft.operators.CorpusStats.sourceSignature(
          tbl(s, dir, "documents").select(col("source"),
            concat(col("text"), lit(" mark"), col("source")).as("text")))
        .orderBy("source", "rk")),
    // ----- integer TF-IDF-lite top-k search: 'dup' is the one rare
    //       token in the synthetic vocabulary (idf ~20 vs 1 for the
    //       common terms), so it dominates scoring exactly as a real
    //       idf would; full tie-break keeps the k-cut deterministic -----
    "q_search_topk" -> ((s, dir) =>
      graft.operators.TextIndex.searchTopK(tbl(s, dir, "documents"),
        Seq("dup", "spark", "query"), k = 50).orderBy(col("score").desc,
        col("doc_id"))),
    // ----- robots.txt-style path rules (RFC 9309 longest-match, ties
    //       to allow, default allow): big.news carves /sec1 out except
    //       the deeper /sec1/page1 allow; /sec2 exercises the tie rule;
    //       h1.shop is default-deny with a /sec4 carve-in -----
    "q_robots" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        synthHost(col("doc_id")).as("host"),
        concat(lit("/sec"), (col("doc_id") % 7).cast("string"),
          lit("/page"), (col("doc_id") % 50).cast("string")).as("path"))
      graft.operators.CorpusStats.robotsVerdict(docs, Seq(
        ("big.news.example.com", "/", 1),
        ("big.news.example.com", "/sec1", 0),
        ("big.news.example.com", "/sec1/page1", 1),
        ("big.news.example.com", "/sec2", 1),
        ("big.news.example.com", "/sec2", 0),
        ("h1.shop.example.net", "/", 0),
        ("h1.shop.example.net", "/sec4", 1)
      )).orderBy("doc_id")
    }),
    // ----- Unicode-script profile over a mixed-script decoration:
    //       %4==0 docs get a Cyrillic block sized past their Latin count
    //       (dominant flips), %4==1 CJK, %4==2 Arabic snippets; counts
    //       are codepoint-exact explicit-range classes -----
    "q_script_profile" -> ((s, dir) => {
      val deco = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          expr("repeat(' привет', CAST(n_chars div 6 AS INT) + 1)"))
          .when(col("doc_id") % 4 === 1, lit(" 你好世界。"))
          .when(col("doc_id") % 4 === 2, lit(" مرحبا بالعالم"))
          .otherwise(lit("")))
      graft.operators.CorpusStats.scriptProfile(
          tbl(s, dir, "documents").select(col("doc_id"), deco.as("text")))
        .orderBy("doc_id")
    }),
    // ----- GPT-3-style benchmark decontamination (13-gram overlap):
    //       docs doc_id%50==0 act as the eval benchmark; corpus docs
    //       doc_id%10==3 get a benchmark doc's text appended (partner id
    //       by doc_id arithmetic), so they and the benchmark docs'
    //       training-set copies flag contaminated -----
    "q_decontam" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"), col("text").as("btext"))
      val tainted = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("bid", expr("((doc_id div 10) % 10) * 50"))
        .join(broadcast(bench), "bid")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), col("btext")).as("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 3).unionByName(tainted)
      graft.operators.CorpusStats.decontamStats(corpus,
          bench.select(col("btext").as("text")))
        .orderBy("doc_id")
    }),
    // ----- ftfy-style mojibake repair (codegen expression): plant
    //       UTF-8-bytes-read-as-CP1252 by replacing 'the' with 'thÃ©'
    //       (chr 195,169); fix_mojibake must re-decode to 'thé' and
    //       leave ASCII untouched. The oracle computes the expected
    //       repaired string directly -----
    "q_mojibake" -> ((s, dir) => {
      val planted =
        regexp_replace(col("text"), lit("the"), lit("thÃ©"))
      tbl(s, dir, "documents").select(col("doc_id"),
          graft.functions.TextFunctions.fix_mojibake(planted)
            .as("fixed_text"),
          (graft.functions.TextFunctions.fix_mojibake(planted) =!= planted)
            .cast("int").as("was_fixed"))
        .orderBy("doc_id")
    }),
    // ----- C4-style page cleaning over deterministically decorated
    //       multi-line text (same fixture idiom as q_line_shape): line
    //       keep rules + lorem/brace/sentence page rules + clean_text -----
    "q_c4_rules" -> ((s, dir) => {
      val chunked = graft.operators.QualityFilters.derivedLines(col("text"))
      val decorated = transform(chunked, (l, i) => {
        val k = col("doc_id") + i
        when(pmod(k, lit(3)) === 0, concat(l, lit(".")))
          .when(pmod(k, lit(7)) === 1, concat(l, lit(" javascript.")))
          .when(pmod(k, lit(11)) === 2 && pmod(col("doc_id"), lit(5)) === 1,
            concat(l, lit(" lorem ipsum!")))
          .when(pmod(k, lit(13)) === 3 && pmod(col("doc_id"), lit(5)) === 2,
            concat(l, lit(" {x}.")))
          .otherwise(l)
      })
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), array_join(decorated, "\n").as("mtext"))
      graft.operators.QualityFilters.c4Flags(docs, "mtext").orderBy("doc_id")
    }),
    // ----- gap-based sessionization of the event stream (30-min gap,
    //       integer-microsecond arithmetic) — runs the SKEW-AWARE
    //       two-level variant (pre-split by (user, time-bucket), merge
    //       boundary sessions), so the driver's oracle certifies its exact
    //       equivalence to plain event-order sessionization -----
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessionStatsSkewAware(tbl(s, dir, "events"))
        .orderBy("user_id", "session_idx")),
    // ----- Unicode NFC normalization (native codegen expression; JDK and
    //       ICU both implement UAX #15, so outputs are byte-identical):
    //       a third of docs get decomposed combining sequences appended,
    //       a third get the precomposed spellings (already NFC) -----
    "q_nfc_norm" -> ((s, dir) => {
      val deco = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" café über Ångström"))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            lit(" café über Ångström"))
          .otherwise(lit("")))
      tbl(s, dir, "documents")
        .select(col("doc_id"), deco.as("t"))
        .select(col("doc_id"),
          TextFunctions.nfc_normalize(col("t")).as("norm_text"),
          (TextFunctions.nfc_normalize(col("t")) =!= col("t")).cast("int")
            .as("changed"),
          length(TextFunctions.nfc_normalize(col("t"))).as("n_cp"))
        .orderBy("doc_id")
    }),
    // ----- PII redaction (ROOTS/RefinedWeb-style scrub step): planted
    //       emails/IPs/phones per doc_id mod; patterns are Java-regex-
    //       and-RE2 identical so the oracle shares the exact strings -----
    "q_pii_scrub" -> ((s, dir) => {
      val deco = concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit(" Contact john.doe+spam@mail-server.example.co.uk now."))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            lit(" Server at 192.168.0.1 and 10.20.30.40 responded."))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            lit(" Call +14155552671 today."))
          .otherwise(lit("")))
      graft.operators.PiiScrub.scrub(
          tbl(s, dir, "documents").select(col("doc_id"), deco.as("text")))
        .orderBy("doc_id")
    }),
    // ----- MinHash near-dup detection (planted dups; LSH band join) -----
    "q_minhash_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = tblFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tiny appended suffix")).as("text"))
      val corpus = docs.unionByName(mutated)
      graft.operators.Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.6)
        .toDF().select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    // ----- full near-dup collapse: LSH pairs -> connected components -> keepers -----
    "q_dedup_collapse" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = tblFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tiny appended suffix")).as("text"))
      val corpus = docs.unionByName(mutated)
      val pairs = graft.operators.Dedup
        .nearDupPairs(corpus, "doc_id", "text", threshold = 0.6).toDF()
      graft.operators.Dedup.collapseNearDups(corpus, pairs, "doc_id")
        .select("doc_id").orderBy("doc_id")
    }),
    // ----- the CHAINED corpus-build flagship: every stage of the LLM-data
    //       pipeline composed into ONE plan — synthesize pages (with planted
    //       near-dup copies and planted PII) -> REAL ExtractKernel ->
    //       Gopher keep-gate -> PII scrub -> minhash collapse -> per-host
    //       rollup. The reference analog is the composed process_file
    //       dispatch chain (/root/reference/src/processor.py:716-821).
    //       Oracled against an independent Python mirror of the whole chain
    //       (tools/gen_corpus_build.py — brute-force all-pairs minhash, no
    //       LSH shortcut). The gate + scrub stages are pure scan-projection
    //       columns: PlanShapeSpec pins that composing them adds NO exchange
    //       beyond the dedup's own. -----
    "q_corpus_build" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = tblFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutatedSrc = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tiny appended suffix")).as("text"))
      val corpus = docs.unionByName(mutatedSrc)
      // page text = document text + a boilerplate closing sentence (every
      // real page carries chrome; it also supplies the stopwords the
      // synthetic wordish corpus lacks, so the gate's operative rule here
      // is the word-count window) + planted PII (same decoration scheme as
      // q_pii_scrub; 1000000 % 4 == 0 so a mutated copy gets its base's
      // decoration and stays a near-dup)
      val deco = concat(col("text"),
        lit(" It is on the record, and that is that."),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit(" Contact john.doe+spam@mail-server.example.co.uk now."))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            lit(" Server at 192.168.0.1 and 10.20.30.40 responded."))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            lit(" Call +14155552671 today."))
          .otherwise(lit("")))
      val pages = corpus.select(
          concat(lit("doc://"), col("doc_id")).as("url"),
          encode(deco, "UTF-8").as("html"))
      val extracted = Extract.kernelPages(pages).toDF()
        .select(substring(col("url"), 7, 32).cast("long").as("doc_id"),
          col("extracted_text"))
      // quality gate + scrub are WHERE/projection columns in the same stage
      // as the kernel output — no exchange until the dedup needs one
      val gated = extracted
        .filter(graft.operators.QualityFilters.gopherKeep(col("extracted_text")))
        .select(col("doc_id"),
          graft.operators.PiiScrub.redact(col("extracted_text")).as("clean_text"))
        // the gated kernel output is consumed TWICE in one query execution
        // (the pair-generation collect and the final keeper rollup); persist
        // so the HTML kernel + gate + scrub run once per invocation instead
        // of once per consumer (guide §5: reuse + expensive recompute). Both
        // consumers run before the query returns (the rollup is materialized
        // by localCheckpoint), so the cache is released right here and no
        // later query — or a re-timing of this one — can hit it.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = graft.operators.Dedup
          .nearDupPairs(gated, "doc_id", "clean_text", threshold = 0.6).toDF()
        val kept = graft.operators.Dedup.collapseNearDups(gated, pairs, "doc_id")
        kept.select(synthHost(col("doc_id")).as("host"),
            length(col("clean_text")).as("n_chars"))
          .groupBy("host")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("host")
          .localCheckpoint()
      } finally gated.unpersist()
    }),
    // ----- SimHash near-dup detection (hamming-blocked self-join) -----
    "q_simhash_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = tblFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" x")).as("text"))
      graft.operators.Dedup.simHashPairs(docs.unionByName(mutated), "doc_id", "text",
        maxHamming = 3).orderBy("id_a", "id_b")
    }),
    // ----- n-gram Jaccard: word-trigram set overlap of adjacent-id pairs,
    //       fully distributed (self-join + codegen'd array HOFs, no collect)
    //       and DuckDB-oracled via the same list algebra. Integer counts
    //       only (hash-safe); the ratio is inter_cnt/union_cnt. -----
    "q_ngram_jaccard" -> ((s, dir) => {
      val words = regexp_extract_all(lower(col("text")), lit(NonWs + "+"), lit(0))
      val g = tbl(s, dir, "documents")
        .select(col("doc_id"), words.as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), array_distinct(
          transform(sequence(lit(0), size(col("w")) - 3),
            i => concat_ws(" ", element_at(col("w"), i + 1),
              element_at(col("w"), i + 2), element_at(col("w"), i + 3)))).as("grams"))
      g.as("a").join(g.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.doc_id") < 50)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          size(array_intersect(col("a.grams"), col("b.grams"))).as("inter_cnt"),
          size(array_union(col("a.grams"), col("b.grams"))).as("union_cnt"))
        .orderBy("id_a")
    }),
    // ----- embedding-cosine near-dup: planted scaled copies (a positive
    //       scale preserves direction => cosine ~1 and, for the LSH variant,
    //       the exact same sign-LSH bucket). Brute all-pairs version is the
    //       recall baseline; both are oracled (only planted pairs can reach
    //       the 0.999 threshold on near-orthogonal random embeddings). -----
    "q_embed_neardup" -> ((s, dir) => {
      // brute recall baseline bounded by COUNT, not fraction: a deterministic
      // ORDER BY vec_id LIMIT 2000 caps the self-join at O(k^2) pairs no
      // matter how large the corpus grows (a %-of-corpus slice would still
      // be quadratic at 100x scale). The LSH variant below is the scale path.
      // Norms are precomputed per ROW (sqrt(dot(v,v)) is a deterministic
      // function of the row, so the per-pair cosine is the same IEEE value
      // the oracle computes inline — but 3x cheaper).
      val emb = tbl(s, dir, "embeddings").orderBy("vec_id").limit(2000)
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val scaled = emb.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(1.5)).as("embedding"))
      val corpus = base.unionByName(scaled)
        .withColumn("nrm", graft.operators.Similarity.norm(col("embedding")))
      // the global ORDER BY ... LIMIT collapses the corpus to ONE partition,
      // so the O(k^2) nested-loop pair stage would run on one core at any
      // cluster size; round-robin the STREAMED side back out to the
      // session's parallelism (the broadcast side stays single-partition —
      // it ships whole either way). Pure repartition: the pair set and every
      // per-pair cosine are unchanged.
      val fan = corpus.repartition(s.sparkContext.defaultParallelism)
      fan.as("a").join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          (graft.operators.Similarity.dot(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm") + lit(1e-12))).as("sim"))
        .filter(col("sim") >= 0.999)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }),
    // ----- the LSH-bucketed scale path: same planted truth, no all-pairs -----
    "q_embed_neardup_lsh" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = tbl(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val scaled = emb.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(1.5)).as("embedding"))
      graft.operators.Dedup.embeddingNearDupPairs(
        base.unionByName(scaled), "vec_id", "embedding", threshold = 0.999)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }),
    // ----- BPE-ish regex token count (GPT-2-style pieces, lookahead-free
    //       so the pattern is Java/RE2-identical) -----
    "q_token_bpe" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))).as("n_pieces"))
        .orderBy("doc_id")
    }),
    // ----- ANN: brute-force cosine top-k (codegen'd HOF dot product) -----
    "q_ann_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.operators.Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ----- ANN: sign-LSH bucketed variant (the 100TB scale path) -----
    "q_ann_lsh" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.operators.Similarity.lshTopK(emb, queries, k = 10, bits = 6, dim = 64, probes = 3)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ----- ANN: IVF variant (k-means cells trained on a driver-side sample,
    //       corpus assigned to cells, queries probe nprobe cells) -----
    "q_ann_ivf" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.operators.Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ----- multimodal: real BMP/WAV/AVI decode + batched feature extraction.
    //       Blobs are doc-derived (header params = doc_id arithmetic,
    //       payload = text bytes) so the DuckDB oracle independently
    //       recomputes what the encode->decode->feature path must emit. -----
    "q_media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => graft.operators.Multimodal.mediaFromDoc(id, t) })
        .toDF("media_id", "bytes")
      graft.operators.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          col("meta.media_type").as("media_type"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.channels").cast("long").as("channels"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.payload_bytes").as("payload_bytes"),
          col("meta.valid").cast("long").as("valid"),
          size(col("frame_samples")).cast("long").as("n_frames"))
        .orderBy("media_id")
    }),
    // ----- PNG decode (the compressed image format): doc-derived PNGs
    //       with doc_id-arithmetic geometry; decode inflates the real
    //       IDAT zlib stream and validates it against IHDR, so the oracle
    //       recomputing geometry in SQL proves the whole chain. Every 5th
    //       doc is a corrupt blob exercising the invalid path. -----
    "q_png_features" -> ((s, dir) => {
      import s.implicits._
      // row0_sum is the DEFILTERED first scanline's byte sum: the corpus
      // spans all five RFC 2083 filters (pngFromDoc), and the oracle
      // recomputes the sum from the original cycled text bytes — parity
      // proves the decoder's defilter reconstructs the pixels exactly.
      tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val (mid, blob) = graft.operators.Multimodal.pngFromDoc(id, t)
          val (meta, px) = graft.operators.Multimodal.decodePngPixels(blob)
          val row0 =
            if (px == null || meta.height <= 0) -1L
            else {
              val rb = px.length / meta.height
              var s0 = 0L; var i = 0
              while (i < rb) { s0 += px(i) & 0xFF; i += 1 }
              s0
            }
          (mid, meta.media_type, meta.width.toLong, meta.height.toLong,
            meta.channels.toLong, meta.payload_bytes,
            if (meta.valid) 1L else 0L, row0)
        })
        .toDF("media_id", "media_type", "width", "height", "channels",
          "payload_bytes", "valid", "row0_sum")
        .orderBy("media_id")
    }),
    // ----- flagship extraction over deterministic synthesized pages -----
    // Oracled against fixtures/expected/extract_pipeline.parquet: per-url
    // text_md5/n_chars computed INDEPENDENTLY from the CPython goldens for
    // html/other rows (tools/gen_extract_fixture.py cross-checks and
    // refuses to freeze on drift); pdf rows + n_spans are engine pins
    // (PdfSpec/GoldenCorpusSpec carry their byte-level evidence). The
    // PageGen urls are distinct canonical keys, so `Extract.plan` collapses
    // no variant here.
    "q_extract_pipeline" -> ((s, dir) => {
      import s.implicits._
      val pages = s.range(2000)
        .mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, 42L))).toDF()
      Extract.plan(s, pages).docs.toDF()
        .select(col("url"), col("doc_type"),
          md5(coalesce(col("extracted_text"), lit(""))).as("text_md5"),
          col("n_chars"), size(col("spans")).cast("long").as("n_spans"))
        .orderBy("url")
    }),
    // ----- the REAL extraction kernel over the testdata documents table:
    //       text payloads route through the fallback gate and must come out
    //       verbatim — the one extraction path a SQL oracle can check. -----
    "q_extract_text" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          ("doc://" + id,
            (if (t == null) "" else t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }).toDF("url", "html")
      Extract.kernelPages(pages).toDF()
        .select(col("url"), col("doc_type"), col("extracted_text"))
        .orderBy("url")
    }),
    // ----- status rollup over the extraction output (A1/K6 semantics) -----
    "q_extract_status" -> ((s, dir) => {
      import s.implicits._
      val pages = s.range(2000)
        .mapPartitions(_.map(i => graft.fixtures.PageGen.page(i, 42L))).toDF()
      Extract.kernelPages(pages).toDF()
        .withColumn("status",
          when(col("error").isNotNull, "error")
            .when(col("extracted_text").isNotNull, "done")
            .otherwise("done_empty"))
        .groupBy("status", "doc_type").agg(count(lit(1)).as("n"))
        .orderBy("status", "doc_type")
    }),
    // ----- language-ID heuristic (stopword votes, deterministic tie-break) -----
    "q_lang_id" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val en = size(regexp_extract_all(lower(col("text")),
        lit("""\b(the|and|of|to|in|is|that|for|with|was)\b"""), lit(0)))
      val de = size(regexp_extract_all(lower(col("text")),
        lit("""\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b"""), lit(0)))
      val es = size(regexp_extract_all(lower(col("text")),
        lit("""\b(el|la|los|las|de|que|es|en|un|una)\b"""), lit(0)))
      docs.select(col("doc_id"), en.as("s_en"), de.as("s_de"), es.as("s_es"),
        when(en >= de && en >= es, "en")
          .when(de >= es, "de").otherwise("es").as("lang_guess"))
        .orderBy("doc_id")
    })
  )

  // Planted-dup cosine oracles: scaled copies are the only pairs that can
  // reach 0.999 on near-orthogonal random embeddings, and positive scaling
  // cannot change a sign-LSH bucket, so the LSH candidate set provably
  // contains every qualifying pair. The brute variant's corpus is bounded by
  // COUNT (ORDER BY vec_id LIMIT 2000 — O(k^2) pairs at any scale); the LSH
  // variant keeps the %4 slice (its bucket join never goes all-pairs).
  private def embedNearDupOracleFor(baseSel: String, scaledWhere: String): String = {
    def dotD(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM $baseSel), """ +
      s"""scaled AS (SELECT vec_id + 1000000 AS vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5) AS embedding FROM base WHERE $scaledWhere), """ +
      """c AS (SELECT * FROM base UNION ALL SELECT * FROM scaled) """ +
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM c a, c b WHERE a.vec_id < b.vec_id AND ${dotD("a.embedding", "b.embedding")} / (sqrt(${dotD("a.embedding", "a.embedding")}) * sqrt(${dotD("b.embedding", "b.embedding")}) + 1e-12) >= 0.999 ORDER BY id_a, id_b"""
  }
  private lazy val embedNearDupOracleBrute: String =
    embedNearDupOracleFor("(SELECT * FROM embeddings ORDER BY vec_id LIMIT 2000)", "vec_id % 100 = 0")
  private lazy val embedNearDupOracleLsh: String =
    embedNearDupOracleFor("embeddings WHERE vec_id % 4 = 0", "vec_id % 100 = 0")

  /** DuckDB mirror of QualityFilters.gopherRepetitionFlags: same 8-word
    * chunk lines, same n-gram derivations, same tie-breaks, same integer
    * cross-multiplied bars — built per-n so both engines share structure. */
  private def gopherRepOracle: String = {
    def ng(n: Int) =
      s"CASE WHEN len(w) >= $n THEN list_transform(generate_series(1, len(w) - ${n - 1}), " +
      s"i -> array_to_string(list_slice(w, i, i + ${n - 1}), ' ')) ELSE []::VARCHAR[] END AS ng$n"
    def maxCnt(n: Int) =
      s"list_max(list_transform(list_distinct(ng$n), d -> len(list_filter(ng$n, y -> y = d)))) AS mc$n"
    def dupStarts(n: Int) =
      s"list_filter(generate_series(1, len(w) - ${n - 1}), " +
      s"i -> len(list_filter(ng$n, y -> y = ng$n[i])) > 1) AS ds$n"
    def topChars(n: Int) =
      s"coalesce(CAST(mc$n * list_max(list_transform(list_filter(list_distinct(ng$n), " +
      s"d -> len(list_filter(ng$n, y -> y = d)) = mc$n), d -> length(d) - ${n - 1})) AS INTEGER), 0) AS top${n}_chars"
    def dupChars(n: Int) =
      s"CASE WHEN len(w) >= $n THEN coalesce(CAST(list_sum(list_transform(generate_series(1, len(w)), " +
      s"j -> CASE WHEN len(list_filter(ds$n, i -> i <= j AND j <= i + ${n - 1})) > 0 " +
      s"THEN length(w[j]) ELSE 0 END)) AS INTEGER), 0) ELSE 0 END AS dup${n}_chars"
    def okPct(flag: String, x: String, pct: Int, denom: String) =
      s"CASE WHEN $x * 100 <= $denom * $pct THEN 1 ELSE 0 END AS $flag"
    val dupBars = Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val oks =
      Seq(okPct("ok_dup_line", "n_dup_lines", 30, "n_lines"),
        okPct("ok_dup_line_char", "n_dup_line_chars", 20, "n_line_chars"),
        okPct("ok_top2", "top2_chars", 20, "n_word_chars"),
        okPct("ok_top3", "top3_chars", 18, "n_word_chars"),
        okPct("ok_top4", "top4_chars", 16, "n_word_chars")) ++
      dupBars.map { case (n, pct) =>
        okPct(s"ok_dup$n", s"dup${n}_chars", pct, "n_word_chars") }
    val keepCond =
      (Seq("n_dup_lines * 100 <= n_lines * 30",
        "n_dup_line_chars * 100 <= n_line_chars * 20",
        "top2_chars * 100 <= n_word_chars * 20",
        "top3_chars * 100 <= n_word_chars * 18",
        "top4_chars * 100 <= n_word_chars * 16") ++
        dupBars.map { case (n, pct) => s"dup${n}_chars * 100 <= n_word_chars * $pct" })
        .mkString(" AND ")
    s"""WITH w0 AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
    "b AS (SELECT doc_id, w, list_transform(generate_series(0, (len(w) + 7) // 8 - 1), " +
    "i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')) AS lines FROM w0), " +
    s"g AS (SELECT *, ${(2 to 10).map(ng).mkString(", ")} FROM b), " +
    s"m AS (SELECT *, ${(2 to 4).map(maxCnt).mkString(", ")}, ${(5 to 10).map(dupStarts).mkString(", ")} FROM g), " +
    "c AS (SELECT doc_id, CAST(len(lines) AS INTEGER) AS n_lines, " +
    "CAST(len(lines) - len(list_distinct(lines)) AS INTEGER) AS n_dup_lines, " +
    "coalesce(CAST(list_sum(list_transform(lines, l -> length(l))) AS INTEGER), 0) AS n_line_chars, " +
    "coalesce(CAST(list_sum(list_transform(list_distinct(lines), d -> " +
    "CASE WHEN len(list_filter(lines, y -> y = d)) > 1 THEN len(list_filter(lines, y -> y = d)) * length(d) ELSE 0 END)) AS INTEGER), 0) AS n_dup_line_chars, " +
    "coalesce(CAST(list_sum(list_transform(w, x -> length(x))) AS INTEGER), 0) AS n_word_chars, " +
    s"${(2 to 4).map(topChars).mkString(", ")}, ${(5 to 10).map(dupChars).mkString(", ")} FROM m) " +
    s"SELECT *, ${oks.mkString(", ")}, CASE WHEN $keepCond THEN 1 ELSE 0 END AS keep " +
    "FROM c ORDER BY doc_id"
  }

  def oracleSql: Map[String, String] = Map(
    "q_dedup_keepers" ->
      "SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text) ORDER BY keep_id",
    "q_window_rank" ->
      "SELECT lang, rn, doc_id, n_chars FROM (SELECT lang, doc_id, n_chars, row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn FROM documents) WHERE rn <= 5 ORDER BY lang, rn",
    "q_events_rollup_sets" ->
      "SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n, count(DISTINCT user_id) AS n_users FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type",
    "q_quality_counts" -> {
      val wl = wordlistWords.mkString("['", "', '", "']")
      s"""SELECT doc_id, """ +
        s"""len(list_filter(list_transform(list_filter(regexp_extract_all(lower(text), '$NonWs+'), w -> length(w) >= 3), w -> trim(w, '.,;:!?()[]{}"''-')), w -> regexp_full_match(w, '[a-z]+'))) AS n_checkable, """ +
        s"""len(list_filter(list_transform(list_filter(regexp_extract_all(lower(text), '$NonWs+'), w -> length(w) >= 3), w -> trim(w, '.,;:!?()[]{}"''-')), w -> regexp_full_match(w, '[a-z]+') AND list_contains($wl, w))) AS n_recognized """ +
        "FROM documents ORDER BY doc_id"
    },
    "q_sanitize" ->
      s"SELECT doc_id, regexp_replace(text, '$SanitizeDuck', '', 'g') AS text_clean FROM documents ORDER BY doc_id",
    "q_truncate" ->
      "SELECT doc_id, left(text, 100) AS text_head FROM documents ORDER BY doc_id",
    "q_token_count" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '$NonWs+')) AS n_tokens FROM documents ORDER BY doc_id""",
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(regexp_replace(lower(text), '$Ws+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id""",
    "q_dedup_exact" ->
      "SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS first_doc FROM documents GROUP BY 1 ORDER BY fp",
    "q_dedup_count" ->
      "SELECT count(DISTINCT md5(text)) AS n_unique, count(*) AS n_total FROM documents",
    // DuckDB sum(BIGINT) returns HUGEINT which lands in pandas as float64 and
    // can never hash-match Spark's int64 — cast every SUM back to BIGINT.
    "q_lang_stats" ->
      "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents GROUP BY lang ORDER BY lang",
    "q_events_rollup" ->
      "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, min(value) AS vmin, max(value) AS vmax FROM events GROUP BY event_type ORDER BY event_type",
    "q_events_hourly" ->
      "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY hour, event_type",
    "q_resume_antijoin" ->
      "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 < 3) ORDER BY doc_id",
    // the bloom-pruned variant must be row-identical to a plain anti-join
    "q_resume_bloom" ->
      "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 < 2) ORDER BY doc_id",
    // url derivation + every canonicalization rule of UrlFunctions, mirrored
    // with DuckDB built-ins (regexp_extract groups, first-match
    // regexp_replace, split/sort/join over '&', CASE order identical)
    "q_url_canon" ->
      ("""WITH u AS (SELECT doc_id, """ +
      """(CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'HtTp' END) || '://' || """ +
      """(CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'cdn.Site.org' END) || """ +
      """(CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) || """ +
      """(CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || doc_id END) || """ +
      """(CASE doc_id % 3 WHEN 0 THEN '?z=1&a=' || (doc_id % 7) WHEN 1 THEN '?' ELSE '' END) || """ +
      """(CASE WHEN doc_id % 2 = 1 THEN '#sec' || (doc_id % 5) ELSE '' END) AS url_raw FROM documents), """ +
      """p AS (SELECT doc_id, url_raw, """ +
      """lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme, """ +
      """lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS auth, """ +
      """regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 3) AS rest FROM u), """ +
      """q AS (SELECT doc_id, url_raw, scheme, """ +
      """CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '') WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '') ELSE auth END AS host, """ +
      """regexp_replace(rest, '#.*$', '') AS nofrag FROM p), """ +
      """r AS (SELECT doc_id, url_raw, scheme, host, """ +
      """regexp_replace(nofrag, '\?.*$', '') AS path, """ +
      """regexp_extract(nofrag, '\?(.*)$', 1) AS query FROM q) """ +
      """SELECT doc_id, url_raw, """ +
      """CASE WHEN scheme = '' THEN url_raw ELSE scheme || '://' || host || """ +
      """(CASE WHEN path = '' THEN '/' ELSE path END) || """ +
      """(CASE WHEN array_to_string(list_sort(str_split(query, '&')), '&') = '' THEN '' """ +
      """ELSE '?' || array_to_string(list_sort(str_split(query, '&')), '&') END) END AS url_canon """ +
      """FROM r ORDER BY doc_id"""),
    "q_salt_distribution" ->
      "SELECT (doc_id * 2654435761) % 4294967296 % 64 AS salt, count(*) AS n FROM documents GROUP BY 1 ORDER BY salt",
    // host derivation mirrored CASE-for-CASE; counts/sums cast to BIGINT
    "q_host_stats" ->
      (s"WITH h AS (SELECT $synthHostSql AS host, source, n_chars FROM documents) " +
        "SELECT host, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM h GROUP BY host ORDER BY host"),
    // the oracle's single host-window row_number is the SPECIFICATION the
    // salted two-stage top-K must reproduce exactly (keep the 5 lowest
    // doc_ids per host)
    "q_host_cap" ->
      (s"WITH h AS (SELECT doc_id, $synthHostSql AS host FROM documents), " +
        "c AS (SELECT host, CAST(count(*) AS BIGINT) AS n_host_docs FROM h GROUP BY host), " +
        "r AS (SELECT doc_id, host, row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn FROM h) " +
        "SELECT r.doc_id, r.host, c.n_host_docs, " +
        "CASE WHEN r.rn <= 5 THEN 1 ELSE 0 END AS kept " +
        "FROM r JOIN c USING (host) ORDER BY r.doc_id"),
    // md5 hex is engine-identical; thresholds compare lexicographically on
    // the first two hex chars (1/256 granularity)
    "q_split_assign" ->
      ("SELECT doc_id, substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket, " +
        "CASE WHEN substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train' " +
        "WHEN substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    // the oracle's single global window is the SPECIFICATION the two-phase
    // distributed prefix sum must reproduce; sums cast to BIGINT (DuckDB
    // sum(BIGINT) is HUGEINT), bin via `//` integer division
    "q_pack_bins" ->
      ("WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS start_offset FROM documents) " +
        "SELECT doc_id, n_chars, start_offset, " +
        "CAST(start_offset // 20000 AS BIGINT) AS bin FROM p ORDER BY doc_id"),
    // thresholds are the very same literals CorpusStats.rateToHexThreshold
    // feeds the Spark side — both engines compare lowercase hex strings
    "q_mix_sample" -> mixSampleOracleSql,
    // the same histogram-cumulation spelled in SQL: k-th smallest with
    // k = (n*pct+99)//100; SUM OVER casts (DuckDB sum(BIGINT) is HUGEINT)
    "q_len_quantiles" ->
      ("WITH h AS (SELECT source, CAST(n_chars AS BIGINT) AS v, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2), " +
        "c AS (SELECT source, v, cnt, CAST(SUM(cnt) OVER (PARTITION BY source " +
        "ORDER BY v) AS BIGINT) AS cum FROM h), " +
        "t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM h GROUP BY 1) " +
        "SELECT c.source, CAST(max(tot) AS BIGINT) AS n_docs, " +
        "CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN v END) AS BIGINT) AS p50, " +
        "CAST(min(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN v END) AS BIGINT) AS p90, " +
        "CAST(min(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99 " +
        "FROM c JOIN t USING (source) GROUP BY c.source ORDER BY c.source"),
    // thresholds derived IN SQL from the same integer spec the Spark side
    // computes driver-side (budgetToHexThreshold)
    "q_budget_sample" -> budgetSampleOracleSql,
    // suffix set via list_slice over dot-split labels; blocked = any
    // suffix intersects the blocklist (same semantics as the exploded
    // equality join on the Spark side)
    "q_url_blocklist" ->
      (s"WITH h AS (SELECT doc_id, $synthHostSql AS host FROM documents) " +
        "SELECT doc_id, host, CASE WHEN len(list_intersect(" +
        "list_transform(generate_series(1, len(str_split(host, '.'))), " +
        "i -> array_to_string(list_slice(str_split(host, '.'), i, len(str_split(host, '.'))), '.')), " +
        "['example.com', 'h7.blog.example.org'])) > 0 THEN 1 ELSE 0 END AS blocked " +
        "FROM h ORDER BY doc_id"),
    // two-pass corpus token counts joined back per doc; zero-token docs
    // survive via the LEFT JOIN; threshold integer cross-multiplied
    "q_rare_tokens" ->
      (s"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$NonWs+')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok), " +
        "p AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare FROM tok t JOIN c USING (tok) GROUP BY t.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(p.n_rare, 0) AS BIGINT) AS n_rare_tokens, " +
        "CASE WHEN coalesce(p.n_rare, 0) * 5 <= coalesce(p.n_tokens, 0) THEN 1 ELSE 0 END AS ok_rare " +
        "FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id"),
    // Same planted-copy corpus (doc_id%7==0 at +1000000), 10-token
    // windows by list_slice (DuckDB counts window STRINGS where Spark
    // counts xxhash64 of them — the accepted hash-injectivity standard);
    // generate_series(1, n) with n < 1 is empty on the DuckDB side, the
    // Spark side guards the same case explicitly
    "q_window_dedup" ->
      (s"""WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0), """ +
      s"""w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM corpus), """ +
      """wins AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 9), i -> array_to_string(list_slice(w, i, i + 9), ' '))) AS win FROM w), """ +
      """c AS (SELECT win, count(*) AS cnt FROM wins GROUP BY win), """ +
      """p AS (SELECT wins.doc_id, CAST(count(*) AS BIGINT) AS n_windows, CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup FROM wins JOIN c USING (win) GROUP BY wins.doc_id) """ +
      """SELECT corpus.doc_id, CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows, CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows, """ +
      """CASE WHEN coalesce(p.n_dup, 0) * 2 <= coalesce(p.n_windows, 0) THEN 1 ELSE 0 END AS ok_windows """ +
      """FROM corpus LEFT JOIN p USING (doc_id) ORDER BY doc_id"""),
    // Normalization chain mirrored step-for-step (lower -> non-alnum to
    // space -> ws runs to one space -> trim); explicit ws class, never \s
    "q_norm_dedup" ->
      ("""WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL """ +
        """SELECT doc_id + 2000000 AS doc_id, regexp_replace(upper(text), ' ', '  ', 'g') || ' !!!' AS text FROM documents WHERE doc_id % 9 = 0), """ +
        """f AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\x0B\f\r]', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp FROM corpus), """ +
        """g AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS first_doc FROM f GROUP BY fp) """ +
        """SELECT f.doc_id, g.n_copies, CASE WHEN f.doc_id = g.first_doc THEN 1 ELSE 0 END AS kept """ +
        """FROM f JOIN g USING (fp) ORDER BY doc_id"""),
    // Per-doc-distinct (doc_id, tok) pairs drive BOTH df and postings;
    // posting list compared as a comma-joined string of ascending ids
    "q_inverted_index" ->
      (s"WITH pairs AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$NonWs+')) AS tok FROM documents)), " +
        "d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY tok), " +
        "p AS (SELECT tok, array_to_string(list_transform(list_slice(list(doc_id ORDER BY doc_id), 1, 10), x -> CAST(x AS VARCHAR)), ',') AS top_docs FROM pairs GROUP BY tok) " +
        "SELECT d.tok, d.df, p.top_docs FROM d JOIN p USING (tok) ORDER BY tok"),
    // Fixed-point PageRank unrolled to 5 chained CTEs (constant iteration
    // count needs no recursion); every division is integer `//` matching
    // Spark's `div`, contributions divide BEFORE summing
    "q_pagerank" -> {
      val hostSrc = synthHostSqlOf("doc_id")
      val hostDst = synthHostSqlOf("doc_id * 17 + 3")
      val head =
        s"WITH e AS (SELECT DISTINCT $hostSrc AS src, $hostDst AS dst FROM documents), " +
          "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
          "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
          "od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src), " +
          "ind AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS indeg FROM e GROUP BY dst), " +
          "p0 AS (SELECT node, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes), "
      val steps = (1 to 5).map { i =>
        s"p$i AS (SELECT nodes.node, CAST((15 * (1000000000000 // (SELECT n FROM nn))) // 100 " +
          "+ (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN " +
          s"(SELECT e.dst AS node, CAST(sum(p.r // od.outdeg) AS BIGINT) AS s FROM p${i - 1} p " +
          "JOIN e ON e.src = p.node JOIN od ON od.src = e.src GROUP BY e.dst) s USING (node))"
      }.mkString(", ")
      head + steps +
        " SELECT nodes.node, coalesce(od.outdeg, 0) AS outdeg, coalesce(ind.indeg, 0) AS indeg, p5.r AS rank_fp" +
        " FROM nodes LEFT JOIN od ON od.src = nodes.node LEFT JOIN ind USING (node) JOIN p5 USING (node) ORDER BY node"
    },
    // First occurrence = min over the packed doc*2^20+idx ordinal (same
    // spec both engines); DuckDB compares line STRINGS where Spark
    // compares xxhash64 (the accepted hash-injectivity standard); empty
    // list() FILTER aggregates return NULL -> coalesce to ''
    "q_line_rebuild" ->
      (s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
        """l AS (SELECT doc_id, u['idx'] AS idx, u['line'] AS line FROM (SELECT doc_id, unnest(list_transform(generate_series(0, (len(w) + 7) // 8 - 1), i -> {'idx': i, 'line': array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')})) AS u FROM w)), """ +
        """k AS (SELECT doc_id, idx, line, doc_id * 1048576 + idx AS ord FROM l), """ +
        """f AS (SELECT line, min(ord) AS first_ord, count(*) AS cnt FROM k GROUP BY line), """ +
        """v AS (SELECT k.doc_id, k.idx, k.line, CASE WHEN f.cnt = 1 OR k.ord = f.first_ord THEN 1 ELSE 0 END AS keep FROM k JOIN f USING (line)), """ +
        """p1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(1 - keep) AS BIGINT) AS n_removed FROM v GROUP BY doc_id), """ +
        """p2 AS (SELECT doc_id, array_to_string(list(line ORDER BY idx), chr(10)) AS clean_text FROM v WHERE keep = 1 GROUP BY doc_id) """ +
        """SELECT d.doc_id, coalesce(p1.n_lines, 0) AS n_lines, coalesce(p1.n_removed, 0) AS n_removed, coalesce(p2.clean_text, '') AS clean_text """ +
        """FROM documents d LEFT JOIN p1 USING (doc_id) LEFT JOIN p2 USING (doc_id) ORDER BY doc_id"""),
    // Same derived sentence corpus (8-word chunks joined by '. ' + final
    // '.'); every division integer `//` matching Spark `div`
    "q_readability" ->
      (s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
        """m AS (SELECT doc_id, CASE WHEN len(w) = 0 THEN '' ELSE array_to_string(list_transform(generate_series(0, (len(w) + 7) // 8 - 1), i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')), '. ') || '.' END AS mtext FROM w), """ +
        s"""c AS (SELECT doc_id, CAST(len(regexp_extract_all(mtext, '$NonWs+')) AS BIGINT) AS n_words, """ +
        """CAST(len(regexp_extract_all(mtext, '[.!?]+')) AS BIGINT) AS n_sentences, """ +
        """CAST(len(regexp_extract_all(lower(mtext), '[aeiouy]+')) AS BIGINT) AS n_syllables FROM m) """ +
        """SELECT doc_id, n_words, n_sentences, n_syllables, """ +
        """CAST(CASE WHEN n_words > 0 AND n_sentences > 0 THEN (39 * n_words) // n_sentences + (1180 * n_syllables) // n_words - 1559 ELSE 0 END AS BIGINT) AS fk_x100, """ +
        """CASE WHEN n_words > 0 AND n_sentences > 0 AND (39 * n_words) // n_sentences + (1180 * n_syllables) // n_words - 1559 BETWEEN 200 AND 1600 THEN 1 ELSE 0 END AS ok_read """ +
        """FROM c ORDER BY doc_id"""),
    // FULL OUTER on the USING key coalesces doc_id in both engines;
    // md5-of-text change detection, never timestamps. Presence via
    // explicit markers + null-safe compare (IS NOT DISTINCT FROM),
    // mirroring the operator's null-text semantics
    "q_crawl_delta" ->
      ("""WITH o AS (SELECT doc_id, md5(text) AS old_fp, 1 AS in_old FROM documents), """ +
        """nw AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 THEN text || ' updated' ELSE text END) AS new_fp, 1 AS in_new FROM documents WHERE doc_id % 13 <> 0 """ +
        """UNION ALL SELECT doc_id + 3000000 AS doc_id, md5(text) AS new_fp, 1 AS in_new FROM documents WHERE doc_id % 17 = 0) """ +
        """SELECT doc_id, CASE WHEN in_old IS NULL THEN 'added' WHEN in_new IS NULL THEN 'removed' WHEN old_fp IS NOT DISTINCT FROM new_fp THEN 'unchanged' ELSE 'changed' END AS status """ +
        """FROM o FULL OUTER JOIN nw USING (doc_id) ORDER BY doc_id"""),
    // One-row totals; each distinct count over the same fingerprint
    // expressions as q_dedup_exact / q_norm_dedup
    "q_dataset_card" ->
      (s"""WITH corpus AS (SELECT doc_id, text FROM documents """ +
        """UNION ALL SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 9 = 0 """ +
        """UNION ALL SELECT doc_id + 5000000, upper(text) || ' !!!' FROM documents WHERE doc_id % 9 = 0) """ +
        s"""SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars, """ +
        s"""CAST(sum(len(regexp_extract_all(text, '$NonWs+'))) AS BIGINT) AS n_tokens, """ +
        s"""CAST(sum(CASE WHEN len(regexp_extract_all(text, '$NonWs+')) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok, """ +
        """CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact_unique, """ +
        """CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\x0B\f\r]', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS BIGINT) AS n_norm_unique """ +
        """FROM corpus"""),
    // Same scaled-integer lift and (lift DESC, tok) tie-break; the
    // source-branded token must land rank 1 on both engines
    "q_source_sig" ->
      (s"""WITH tok AS (SELECT source, unnest(regexp_extract_all(lower(text || ' mark' || source), '$NonWs+')) AS tok FROM documents), """ +
        """ts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tf_s FROM tok GROUP BY source, tok), """ +
        """st AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS t_s FROM ts GROUP BY source), """ +
        """ct AS (SELECT tok, CAST(sum(tf_s) AS BIGINT) AS tf_c FROM ts GROUP BY tok), """ +
        """tot AS (SELECT CAST(sum(tf_s) AS BIGINT) AS t_c FROM ts), """ +
        """l AS (SELECT ts.source, ts.tok, CAST((ts.tf_s * tot.t_c * 1000) // (ct.tf_c * st.t_s) AS BIGINT) AS lift_x1000 FROM ts JOIN st USING (source) JOIN ct USING (tok) CROSS JOIN tot), """ +
        """r AS (SELECT source, tok, lift_x1000, CAST(row_number() OVER (PARTITION BY source ORDER BY lift_x1000 DESC, tok) AS INT) AS rk FROM l) """ +
        """SELECT source, tok, lift_x1000, rk FROM r WHERE rk <= 5 ORDER BY source, rk"""),
    // Integer idf quotient (n_total // df), deterministic k-cut via the
    // full (score DESC, doc_id) tie-break on both sides
    "q_search_topk" ->
      (s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$NonWs+')) AS tok FROM documents), """ +
        """q AS (SELECT * FROM (VALUES ('dup'), ('spark'), ('query')) AS t(tok)), """ +
        """tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok JOIN q USING (tok) GROUP BY doc_id, tok), """ +
        """dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok), """ +
        """n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents) """ +
        """SELECT doc_id, CAST(sum(tf * (n_total // df)) AS BIGINT) AS score """ +
        """FROM tf JOIN dfc USING (tok) CROSS JOIN n GROUP BY doc_id """ +
        """ORDER BY score DESC, doc_id LIMIT 50"""),
    // Longest-match via row_number (len DESC, allow DESC) mirrors the
    // Spark side's array_max over (prefix-length, allow) structs
    "q_robots" ->
      (s"""WITH d AS (SELECT doc_id, $synthHostSql AS host, '/sec' || CAST(doc_id % 7 AS VARCHAR) || '/page' || CAST(doc_id % 50 AS VARCHAR) AS path FROM documents), """ +
        """r AS (SELECT * FROM (VALUES ('big.news.example.com', '/', 1), ('big.news.example.com', '/sec1', 0), ('big.news.example.com', '/sec1/page1', 1), ('big.news.example.com', '/sec2', 1), ('big.news.example.com', '/sec2', 0), ('h1.shop.example.net', '/', 0), ('h1.shop.example.net', '/sec4', 1)) AS t(r_host, prefix, allow)), """ +
        """m AS (SELECT d.doc_id, r.allow, row_number() OVER (PARTITION BY d.doc_id ORDER BY len(r.prefix) DESC, r.allow DESC) AS rn FROM d JOIN r ON d.host = r.r_host AND starts_with(d.path, r.prefix)), """ +
        """c AS (SELECT doc_id, CAST(count(*) AS INT) AS n_matched FROM m GROUP BY doc_id), """ +
        """b AS (SELECT doc_id, allow FROM m WHERE rn = 1) """ +
        """SELECT d.doc_id, coalesce(b.allow, 1) AS allowed, coalesce(c.n_matched, 0) AS n_matched """ +
        """FROM d LEFT JOIN b USING (doc_id) LEFT JOIN c USING (doc_id) ORDER BY doc_id"""),
    // Explicit codepoint-range classes (never \p{...}); length() counts
    // codepoints in both engines for these BMP scripts; dominant CASE
    // chain mirrored in priority order
    "q_script_profile" ->
      ("""WITH m AS (SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN repeat(' привет', CAST(n_chars // 6 AS INT) + 1) WHEN doc_id % 4 = 1 THEN ' 你好世界。' WHEN doc_id % 4 = 2 THEN ' مرحبا بالعالم' ELSE '' END AS mtext FROM documents), """ +
        """c AS (SELECT doc_id, CAST(length(regexp_replace(mtext, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_latin, """ +
        """CAST(length(regexp_replace(mtext, '[^\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic, """ +
        """CAST(length(regexp_replace(mtext, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk, """ +
        """CAST(length(regexp_replace(mtext, '[^\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic, """ +
        """CAST(length(regexp_replace(mtext, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit FROM m) """ +
        """SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit, """ +
        """CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin >= n_arabic THEN 'latin' """ +
        """WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic THEN 'cyrillic' """ +
        """WHEN n_cjk >= n_arabic THEN 'cjk' ELSE 'arabic' END AS dominant """ +
        """FROM c ORDER BY doc_id"""),
    // Same partner arithmetic ((doc_id // 10) % 10) * 50 builds the
    // tainted corpus; benchmark 13-grams joined as STRINGS (Spark joins
    // their xxhash64); LEFT JOIN + coalesce keeps sub-13-token docs
    "q_decontam" ->
      (s"""WITH bench AS (SELECT doc_id AS bid, text AS btext FROM documents WHERE doc_id % 50 = 0), """ +
      """corpus AS (SELECT d.doc_id, d.text || ' ' || b.btext AS text FROM documents d JOIN bench b ON b.bid = ((d.doc_id // 10) % 10) * 50 WHERE d.doc_id % 10 = 3 """ +
      """UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3), """ +
      s"""bw AS (SELECT regexp_extract_all(btext, '$NonWs+') AS w FROM bench), """ +
      """bg AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 12), i -> array_to_string(list_slice(w, i, i + 12), ' '))) AS g FROM bw), """ +
      s"""cw AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM corpus), """ +
      """cg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 12), i -> array_to_string(list_slice(w, i, i + 12), ' '))) AS g FROM cw), """ +
      """p AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit FROM cg LEFT JOIN bg USING (g) GROUP BY cg.doc_id) """ +
      """SELECT c.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams, CAST(coalesce(p.n_hit, 0) AS BIGINT) AS n_hit_grams, """ +
      """CASE WHEN coalesce(p.n_hit, 0) > 0 THEN 1 ELSE 0 END AS contaminated """ +
      """FROM corpus c LEFT JOIN p USING (doc_id) ORDER BY doc_id"""),
    // The oracle computes the repaired string DIRECTLY (replace 'the' ->
    // 'th'||chr(233), i.e. 'thé'), so the Spark side's plant-then-repair
    // round trip (regexp_replace to 'thÃ©', then fix_mojibake) must land
    // on the identical bytes; was_fixed mirrors contains()
    "q_mojibake" ->
      ("SELECT doc_id, replace(text, 'the', 'th' || chr(233)) AS fixed_text, " +
        "CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END AS was_fixed " +
        "FROM documents ORDER BY doc_id"),
    // decorated-line fixture mirrored CASE-for-CASE (same idiom as
    // q_line_shape); line keep predicate and sentence count mirrored
    // function-for-function; regexp_replace needs the 'g' flag (DuckDB
    // replaces first match by default, Spark replaces all)
    "q_c4_rules" -> {
      val base = "array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')"
      val keptPred = s"regexp_matches(x, '[.!?\"]$$') AND " +
        s"len(regexp_extract_all(x, '$NonWs+')) >= 5 AND " +
        "NOT contains(lower(x), 'javascript')"
      val sentSum = "coalesce(list_sum(list_transform(kept, " +
        "x -> len(x) - len(regexp_replace(x, '[.!?]', '', 'g')))), 0)"
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
        """d AS (SELECT doc_id, list_transform(generate_series(0, (len(w) + 7) // 8 - 1), i -> """ +
        s"""CASE WHEN (doc_id + i) % 3 = 0 THEN $base || '.' """ +
        s"""WHEN (doc_id + i) % 7 = 1 THEN $base || ' javascript.' """ +
        s"""WHEN (doc_id + i) % 11 = 2 AND doc_id % 5 = 1 THEN $base || ' lorem ipsum!' """ +
        s"""WHEN (doc_id + i) % 13 = 3 AND doc_id % 5 = 2 THEN $base || ' {x}.' """ +
        s"""ELSE $base END) AS lines FROM w), """ +
        """m AS (SELECT doc_id, array_to_string(lines, chr(10)) AS mtext FROM d), """ +
        """l AS (SELECT doc_id, mtext, str_split(mtext, chr(10)) AS ls FROM m), """ +
        s"""k AS (SELECT doc_id, mtext, ls, list_filter(ls, x -> $keptPred) AS kept FROM l) """ +
        """SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept_lines, """ +
        s"""CAST($sentSum AS INT) AS n_sentences, """ +
        """CASE WHEN contains(lower(mtext), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem, """ +
        """CASE WHEN contains(mtext, '{') THEN 1 ELSE 0 END AS has_brace, """ +
        """coalesce(array_to_string(kept, chr(10)), '') AS clean_text, """ +
        s"""CASE WHEN $sentSum >= 3 AND NOT contains(lower(mtext), 'lorem ipsum') """ +
        """AND NOT contains(mtext, '{') THEN 1 ELSE 0 END AS keep """ +
        """FROM k ORDER BY doc_id"""
    },
    // the regex constants are interpolated from PiiScrub itself — the
    // same backslash-for-backslash strings parse identically under RE2;
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all).
    // Counts mirror the progressive-redaction semantics: each family is
    // counted on the text the previous family already redacted, so the
    // counts equal replacements performed.
    "q_pii_scrub" -> {
      import graft.operators.PiiScrub.{EmailRe, Ipv4Re, PhoneRe}
      "WITH t AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 4 = 0 THEN ' Contact john.doe+spam@mail-server.example.co.uk now.' " +
        "WHEN doc_id % 4 = 1 THEN ' Server at 192.168.0.1 and 10.20.30.40 responded.' " +
        "WHEN doc_id % 4 = 2 THEN ' Call +14155552671 today.' " +
        "ELSE '' END AS t0 FROM documents), " +
        s"r1 AS (SELECT doc_id, t0, regexp_replace(t0, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM t), " +
        s"r2 AS (SELECT doc_id, t0, t1, regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2 FROM r1) " +
        "SELECT doc_id, " +
        s"regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS clean_text, " +
        s"CAST(len(regexp_extract_all(t0, '$EmailRe')) AS INT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(t1, '$Ipv4Re')) AS INT) AS n_ips, " +
        s"CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS INT) AS n_phones " +
        "FROM r2 ORDER BY doc_id"
    },
    // decorations rebuilt with chr() so the decomposed-vs-precomposed
    // spellings are unambiguous; DuckDB's ICU and the JVM's Normalizer
    // both implement UAX #15 NFC — byte-identical outputs
    "q_nfc_norm" ->
      ("WITH t AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' u' || chr(776) || " +
        "'ber A' || chr(778) || 'ngstro' || chr(776) || 'm' " +
        "WHEN doc_id % 3 = 1 THEN ' caf' || chr(233) || ' ' || chr(252) || " +
        "'ber ' || chr(197) || 'ngstr' || chr(246) || 'm' " +
        "ELSE '' END AS t FROM documents) " +
        "SELECT doc_id, nfc_normalize(t) AS norm_text, " +
        "CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END AS changed, " +
        "CAST(length(nfc_normalize(t)) AS INT) AS n_cp FROM t ORDER BY doc_id"),
    // identical window spec both sides: PARTITION BY user ORDER BY
    // (ts_us, event_id) with ROWS UNBOUNDED PRECEDING; integer
    // epoch-microseconds only — never float seconds
    "q_sessionize" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events), " +
        "f AS (SELECT user_id, event_id, ts_us, CASE WHEN lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL OR ts_us - lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, ts_us, CAST(sum(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM f) " +
        "SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events, " +
        "min(ts_us) AS start_us, max(ts_us) AS end_us, " +
        "max(ts_us) - min(ts_us) AS duration_us FROM s " +
        "GROUP BY user_id, session_idx ORDER BY user_id, session_idx"),
    "q_tpch_q1" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM lineitem WHERE l_shipdate <= '1998-09-02' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q_top_customers" ->
      "SELECT c_custkey, c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_custkey, c_mktsegment ORDER BY n_orders DESC, c_custkey LIMIT 100",
    "q_text_stats" ->
      s"""SELECT doc_id, length(text) AS n_cp, len(regexp_extract_all(text, '$NonWs+')) AS n_tokens, length(regexp_replace(text, '[^ -~]', '', 'g')) AS n_ascii_printable, len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|for|it|on)\\b')) AS n_stopwords FROM documents ORDER BY doc_id""",
    // ANN brute-force: the Spark side computes cosine as a sequential
    // double-precision left fold (see Similarity.dot); the oracle below is
    // the same IEEE operation chain (cast-to-double multiply, list_reduce
    // left fold, sqrt, identical +1e-12 denominator), so ranks match
    // bit-exactly and the (query_id, vec_id, rank) hash is stable.
    "q_ann_topk" -> {
      def dotD(a: String, b: String) =
        s"list_reduce(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0), """ +
        s"""s AS (SELECT q.query_id, d.vec_id, ${dotD("d.embedding", "q.embedding")} / (sqrt(${dotD("d.embedding", "d.embedding")}) * sqrt(${dotD("q.embedding", "q.embedding")}) + 1e-12) AS sim FROM embeddings d, q WHERE d.vec_id <> q.query_id) """ +
        """SELECT query_id, vec_id, rank FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank FROM s) WHERE rank <= 10 ORDER BY query_id, rank"""
    },
    // Recomputes the doc-derived media geometry independently: BMP pixel
    // bytes from the 4-byte-aligned 24-bit stride, WAV duration/data size
    // from the PCM sample math, AVI geometry/duration/movi-payload from the
    // 24-bit-DIB-frame arithmetic (5 fps, frame sampling every 1000 ms),
    // corrupt rows from the raw UTF-8 text length.
    "q_media_features" ->
      ("""SELECT doc_id AS media_id, """ +
      """CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'video' ELSE 'unknown' END AS media_type, """ +
      """CASE doc_id % 4 WHEN 0 THEN 4 + (doc_id * 7) % 32 WHEN 2 THEN 8 + (doc_id * 37) % 24 ELSE 0 END AS width, """ +
      """CASE doc_id % 4 WHEN 0 THEN 4 + (doc_id * 11) % 32 WHEN 2 THEN 8 + (doc_id * 53) % 24 ELSE 0 END AS height, """ +
      """CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 1 + doc_id % 2 WHEN 2 THEN 3 ELSE 0 END AS channels, """ +
      """CASE doc_id % 4 WHEN 1 THEN 1 + doc_id % 50 WHEN 2 THEN 200 * (5 + doc_id % 20) ELSE 0 END AS duration_ms, """ +
      """CASE doc_id % 4 WHEN 0 THEN ((3 * (4 + (doc_id * 7) % 32) + 3) // 4) * 4 * (4 + (doc_id * 11) % 32) """ +
      """WHEN 1 THEN 8 * (1 + doc_id % 50) * 2 * (1 + doc_id % 2) """ +
      """WHEN 2 THEN ((3 * (8 + (doc_id * 37) % 24) + 3) // 4) * 4 * (8 + (doc_id * 53) % 24) * (5 + doc_id % 20) """ +
      """ELSE octet_length(encode(text)) END AS payload_bytes, """ +
      """CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END AS valid, """ +
      """CASE WHEN doc_id % 4 = 2 THEN (200 * (5 + doc_id % 20) + 999) // 1000 ELSE 0 END AS n_frames """ +
      """FROM documents ORDER BY media_id"""),
    // PNG chain: IHDR geometry + inflate-verified scanline size; the
    // decoder only reports valid=1 when the real IDAT inflate matches
    // height * (1 + width*channels), so this arithmetic oracle pins the
    // deflate round-trip too. Corrupt rows (doc_id % 5 = 4) are raw text.
    "q_png_features" ->
      ("""SELECT doc_id AS media_id, """ +
      """CASE WHEN doc_id % 5 = 4 THEN 'unknown' ELSE 'image' END AS media_type, """ +
      """CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 4 + (doc_id * 13) % 48 END AS width, """ +
      """CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 4 + (doc_id * 17) % 48 END AS height, """ +
      """CASE WHEN doc_id % 5 = 4 THEN 0 WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS channels, """ +
      """CASE WHEN doc_id % 5 = 4 THEN octet_length(encode(text)) """ +
      """ELSE (4 + (doc_id * 17) % 48) * (1 + (4 + (doc_id * 13) % 48) * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END)) END AS payload_bytes, """ +
      """CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS valid, """ +
      // defiltered first scanline = the first rowBytes ORIGINAL pixels,
      // which the encoder cycles from the doc text — independent of which
      // of the five filters the encoder applied (ASCII text: byte = char)
      """CASE WHEN doc_id % 5 = 4 THEN -1 """ +
      """ELSE CAST(list_sum(list_transform(generate_series(0, (4 + (doc_id * 13) % 48) * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) - 1), """ +
      """x -> ascii(substring(text, CAST(x % length(text) AS INTEGER) + 1, 1)))) AS BIGINT) END AS row0_sum """ +
      """FROM documents ORDER BY media_id"""),
    // NOTE: this oracle returns `text` verbatim while the kernel applies
    // text-mode universal-newline translation (CRLF/CR -> LF) and blank ->
    // null; parity holds because testdata documents.text is verified
    // ASCII-only, CR-free and non-blank (EntrySpec pins that invariant so a
    // future testdata change fails loudly there, not as a hash mystery here).
    "q_extract_text" ->
      "SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, 'other' AS doc_type, text AS extracted_text FROM documents ORDER BY url",
    // Gopher rules restated as integer cross-multiplications (mean word
    // length in [3,10] => 3n <= chars <= 10n etc.) — bit-exact both engines.
    "q_gopher_quality" ->
      (s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '$NonWs+') AS w FROM documents) """ +
      """SELECT doc_id, len(w) AS n_words, """ +
      """CAST(list_sum(list_transform(w, x -> length(x))) AS INTEGER) AS n_word_chars, """ +
      """len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words, """ +
      """len(list_filter(w, x -> regexp_matches(x, '^(#|\.\.\.)'))) AS n_symbol_words, """ +
      """len(list_intersect(list_distinct(w), ['the','and','of','to','in','is','that','for','it','on'])) AS n_distinct_stop, """ +
      """CASE WHEN len(w) >= 50 AND len(w) <= 100000 THEN 1 ELSE 0 END AS ok_word_count, """ +
      """CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) >= len(w) * 3 AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= len(w) * 10 THEN 1 ELSE 0 END AS ok_mean_word_len, """ +
      """CASE WHEN len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 5 >= len(w) * 4 THEN 1 ELSE 0 END AS ok_alpha, """ +
      """CASE WHEN len(list_filter(w, x -> regexp_matches(x, '^(#|\.\.\.)'))) * 10 <= len(w) THEN 1 ELSE 0 END AS ok_symbol, """ +
      """CASE WHEN len(list_intersect(list_distinct(w), ['the','and','of','to','in','is','that','for','it','on'])) >= 2 THEN 1 ELSE 0 END AS ok_stop, """ +
      """CASE WHEN len(w) >= 50 AND len(w) <= 100000 """ +
      """AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) >= len(w) * 3 AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= len(w) * 10 """ +
      """AND len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 5 >= len(w) * 4 """ +
      """AND len(list_filter(w, x -> regexp_matches(x, '^(#|\.\.\.)'))) * 10 <= len(w) """ +
      """AND len(list_intersect(list_distinct(w), ['the','and','of','to','in','is','that','for','it','on'])) >= 2 THEN 1 ELSE 0 END AS keep """ +
      """FROM w ORDER BY doc_id"""),
    // Same deterministic 8-word "line" derivation (list_slice mirrors
    // Spark's slice), then corpus-wide occurrence counts.
    "q_line_dedup" ->
      (s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
      """l AS (SELECT doc_id, unnest(list_transform(generate_series(0, (len(w) + 7) // 8 - 1), i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' '))) AS line FROM w), """ +
      """c AS (SELECT line, count(*) AS cnt FROM l GROUP BY line) """ +
      """SELECT l.doc_id, count(*) AS n_lines, CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines """ +
      """FROM l JOIN c USING (line) GROUP BY l.doc_id ORDER BY doc_id"""),
    // The WARC chain (writer -> DSv2 parser) must reproduce exactly what
    // the documents table says: url arithmetic, ISO-8601 second offsets,
    // UTF-8 payload byte counts.
    "q_warc_roundtrip" ->
      ("SELECT 'doc://' || doc_id AS url, " +
        "strftime(TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date, " +
        "octet_length(encode(text)) AS n_bytes FROM documents ORDER BY url"),
    // the indexed byte-range scan must reproduce the whole-file read
    // exactly — identical oracle, different physical plan
    "q_warc_split" ->
      ("SELECT 'doc://' || doc_id AS url, " +
        "strftime(TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date, " +
        "octet_length(encode(text)) AS n_bytes FROM documents ORDER BY url"),
    // Same chunk derivation + the same planted-decoration arithmetic, then
    // the same join/split round-trip, so every line-shape count is exact.
    "q_line_shape" ->
      (s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '$NonWs+') AS w FROM documents), """ +
      """d AS (SELECT doc_id, list_transform(generate_series(0, (len(w) + 7) // 8 - 1), i -> """ +
      """CASE WHEN (doc_id + i) % 7 = 0 THEN (CASE WHEN (doc_id + i) % 2 = 0 THEN '- ' ELSE '* ' END) || array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') """ +
      """WHEN (doc_id + i) % 11 = 3 THEN array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') || '...' """ +
      """ELSE array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') END) AS lines FROM w), """ +
      """l AS (SELECT doc_id, str_split(array_to_string(lines, chr(10)), chr(10)) AS ls FROM d) """ +
      """SELECT doc_id, len(ls) AS n_lines, """ +
      """len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '* '))) AS n_bullet_lines, """ +
      """len(list_filter(ls, x -> ends_with(x, '...'))) AS n_ellipsis_lines, """ +
      """CASE WHEN len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 10 <= len(ls) * 9 THEN 1 ELSE 0 END AS ok_bullet, """ +
      """CASE WHEN len(list_filter(ls, x -> ends_with(x, '...'))) * 10 <= len(ls) * 3 THEN 1 ELSE 0 END AS ok_ellipsis, """ +
      """CASE WHEN len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 10 <= len(ls) * 9 """ +
      """AND len(list_filter(ls, x -> ends_with(x, '...'))) * 10 <= len(ls) * 3 THEN 1 ELSE 0 END AS keep """ +
      """FROM l ORDER BY doc_id"""),
    // §A.1.1 repetition family — mirror built per-n by gopherRepOracle.
    "q_gopher_rep" -> gopherRepOracle,
    // The gz+HTTP chain (gzip member writer -> inflate reader -> CRLFCRLF
    // split) must surface exactly the document's UTF-8 bytes as the body.
    "q_warc_http" ->
      ("SELECT 'doc://' || doc_id AS url, " +
        "octet_length(encode(text)) AS n_body_bytes FROM documents ORDER BY url"),
    "q_embed_neardup" -> embedNearDupOracleBrute,
    "q_embed_neardup_lsh" -> embedNearDupOracleLsh,
    "q_token_bpe" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '${BpeishPattern.replace("'", "''")}')) AS n_pieces FROM documents ORDER BY doc_id""",
    "q_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams FROM (SELECT doc_id, regexp_extract_all(lower(text), '$NonWs+') AS w FROM documents) WHERE len(w) >= 3) SELECT a.doc_id AS id_a, b.doc_id AS id_b, len(list_intersect(a.grams, b.grams)) AS inter_cnt, len(list_distinct(list_concat(a.grams, b.grams))) AS union_cnt FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id < 50 ORDER BY id_a""",
    // Frozen expected tables for the dedup operators whose hash kernels are
    // not DuckDB-expressible: tools/gen_expected.py reimplements the
    // documented algorithms independently (Python/numpy, brute-force full
    // grouping / all-pairs — no shared code with the Scala kernels) and
    // freezes the expected outputs per corpus. The corpus_tag is a content
    // probe (count + total text length): sf0.001 and sf0.01 both have 500
    // documents rows with different texts, so a row count alone would pick
    // the wrong slice.
    "q_minhash_pairs" ->
      ("SELECT id_a, id_b FROM read_parquet('/root/repo/fixtures/expected/minhash_pairs.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY id_a, id_b"),
    "q_simhash_pairs" ->
      ("SELECT id_a, id_b, hamming FROM read_parquet('/root/repo/fixtures/expected/simhash_pairs.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY id_a, id_b"),
    "q_dedup_collapse" ->
      ("SELECT doc_id FROM read_parquet('/root/repo/fixtures/expected/dedup_collapse.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY doc_id"),
    // The chained corpus-build pipeline: the WHOLE extract -> gate -> scrub
    // -> minhash-collapse -> rollup chain is mirrored stage-by-stage in
    // tools/gen_corpus_build.py (Python re-implementation from the
    // documented semantics; the collapse reuses gen_expected.py's
    // independent brute-force minhash) and frozen per corpus tag.
    "q_corpus_build" ->
      ("SELECT host, n_docs, sum_chars " +
        "FROM read_parquet('/root/repo/fixtures/expected/corpus_build.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY host"),
    // ANN sign-LSH: the float32 hyperplane dots and sequential-fold cosines
    // are reimplemented bit-exactly in tools/gen_expected.py (numpy mirrors
    // the exact IEEE op order) and brute-forced over the full corpus — the
    // fixture is a true independent expectation, not a dump of this query.
    "q_ann_lsh" ->
      ("SELECT query_id, vec_id, rank FROM read_parquet('/root/repo/fixtures/expected/ann_lsh.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY query_id, rank"),
    // ANN IVF: the whole train->assign->probe->rank chain (strided k-means
    // init, f32-product/f64-accumulate scoring, sequential-fold cosine) is
    // mirrored bit-exactly in tools/gen_expected.py and brute-forced.
    "q_ann_ivf" ->
      ("SELECT query_id, vec_id, rank FROM read_parquet('/root/repo/fixtures/expected/ann_ivf.parquet') " +
        "WHERE corpus_tag = (SELECT count(*) || '-' || sum(length(text)) FROM documents) ORDER BY query_id, rank"),
    // Flagship pipeline over the PageGen-2000 corpus (SF-independent), per
    // url: md5 + code-point count + span count vs the frozen fixture —
    // CPython-derived for html/other, engine-pinned for pdf (see the
    // fixture generator's provenance header).
    "q_extract_pipeline" ->
      ("SELECT url, doc_type, text_md5, n_chars, n_spans " +
        "FROM read_parquet('/root/repo/fixtures/expected/extract_pipeline.parquet') " +
        "WHERE corpus_tag = 'pagegen-2000-42' ORDER BY url"),
    // Status rollup DERIVED from the same frozen fixture (done_empty <=>
    // null text <=> md5 of the empty string) — no hand-copied literals, so
    // the rollup can only match if the per-url fixture does.
    "q_extract_status" ->
      ("SELECT CASE WHEN text_md5 = md5('') THEN 'done_empty' ELSE 'done' END AS status, " +
        "doc_type, count(*) AS n " +
        "FROM read_parquet('/root/repo/fixtures/expected/extract_pipeline.parquet') " +
        "WHERE corpus_tag = 'pagegen-2000-42' " +
        "GROUP BY status, doc_type ORDER BY status, doc_type"),
    "q_lang_id" ->
      """SELECT doc_id, len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en, len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b')) AS s_de, len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|es|en|un|una)\b')) AS s_es, CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en' WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS lang_guess FROM documents ORDER BY doc_id"""
  )
}
