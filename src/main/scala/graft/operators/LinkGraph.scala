package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Host-graph centrality for crawl-quality scoring. Production web
 * pipelines (Common-Crawl host ranks, C4/RefinedWeb source weighting)
 * score documents by the link-graph standing of their host; the
 * reference has no host view at all (it keys on the bare url,
 * /root/reference/src/queue.py:24-33), so this is part of the corpus
 * bookkeeping a distributed crawl adds around the extraction kernel.
 *
 * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks are
 * BIGINTs scaled by `scale` (default 1e12), the damping split is an
 * integer cross-multiplication, and every division is integer `div`.
 * That makes the result bit-exact across engines (the DuckDB oracle
 * reproduces it with `//`), deterministic under any join/aggregation
 * order (integer sums commute exactly; float sums do not), and free of
 * the "converged within epsilon" hedging a float implementation needs.
 *
 * Scale notes (100 TB / ~10^8-host graph):
 *  - Each iteration is one shuffle join (ranks ⋈ out-edges on src) plus
 *    one aggregation shuffle (contributions on dst). Both key on the
 *    host string; pre-bucketing edges and ranks on the node key lets a
 *    real deployment reuse one exchange across all iterations.
 *  - The per-edge contribution divides BEFORE summing, so the summed
 *    values stay <= scale and 85 * sum stays far below Long overflow
 *    (total mass <= scale = 1e12; 85e12 << 2^63).
 *  - Node count is the only driver-side value (a single long, same
 *    bounded-read discipline as Extract's metrics row).
 *  - Dangling nodes (no out-edges) contribute nothing — their mass
 *    decays rather than redistributing. Documented deviation from the
 *    redistribute-uniformly variant; both engines implement the same
 *    formula so the oracle is still exact.
 */
object LinkGraph {

  /**
   * Fixed-point PageRank over an `(src, dst)` edge list, evaluated by
   * `consume`. Input: one row per directed edge (duplicate edges are
   * collapsed). `consume` sees one row per node —
   * (node, outdeg, indeg, rank_fp) with rank_fp the scaled-integer rank
   * (scale 1e12) after `iters` iterations from the uniform start scale/N.
   *
   * rank'(v) = (15 * (scale div N)) div 100
   *          + (85 * sum_{u->v}(rank(u) div outdeg(u))) div 100
   *
   * The node set and the outdeg-joined edge list are persisted: EVERY
   * iteration plus the final degree assembly reads both, and without the
   * cache each of those ~iters+2 consumers re-executes the edge scan +
   * distinct lineage (guide §5: reused AND expensive to recompute = the
   * case for caching). Integer arithmetic is order-independent, so caching
   * cannot change any value. Both caches are released when `consume`
   * returns or throws, so `consume` must run every action that needs them.
   */
  def withPageRank[T](edges: DataFrame, iters: Int = 5)(consume: DataFrame => T): T = {
    val scale = 1000000000000L
    val checkpointEvery = 10
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // null endpoints carry no link semantics and would silently drop at
    // the equi-joins anyway — exclude them from the node universe too
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val outdeg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("outdeg"))
    val indeg = e.groupBy(col("dst"))
      .agg(count(lit(1)).cast("long").as("indeg"))
      .withColumnRenamed("dst", "node")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eo = e.join(outdeg, Seq("src")) // (src, dst, outdeg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the one driver-side read: node count (a single long); also
      // materializes the nodes cache for the iterations below
      val n = nodes.count()
      require(n > 0, "pageRank needs at least one node")
      val r0 = scale / n
      val base = (15L * r0) / 100L

      var ranks = nodes.withColumn("r", lit(r0))
      for (i <- 1 to iters) {
        val contrib = eo
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("r div outdeg").as("c"))
          .groupBy(col("node"))
          .agg(sum(col("c")).cast("long").as("s"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(base) +
              expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
              .cast("long").as("r"))
        // high-iteration hygiene: the unrolled lineage grows superlinearly in
        // the analyzer and a task retry would recompute every prior iteration;
        // truncate it every `checkpointEvery` rounds. Values are untouched —
        // localCheckpoint materializes exactly the rows the plan defines — so
        // the result is bit-identical to the unrolled form.
        // Never triggers at the shipped iters=5 default.
        if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
      }
      consume(nodes
        .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
        .join(indeg, Seq("node"), "left")
        .join(ranks, Seq("node"))
        .select(col("node"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"),
          coalesce(col("indeg"), lit(0L)).as("indeg"),
          col("r").as("rank_fp")))
    } finally {
      nodes.unpersist()
      eo.unpersist()
    }
  }
}
