package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class GraphIndexSpec extends AnyFunSuite {

  private implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graphindex")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // ------------------------------------------------------------ pageRank
  /** Executable reference: the exact fixed-point formula on driver-side
    * maps, mirroring LinkGraph.withPageRank's documented semantics. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
                          scale: Long): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val r0 = scale / n
    val base = (15L * r0) / 100L
    var r = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val s = e.groupBy(_._2).view.mapValues { in =>
        in.map { case (u, _) => r(u) / outdeg(u) }.sum
      }.toMap
      r = nodes.map(v => v -> (base + (85L * s.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the fixed-point reference formula exactly") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "a"), ("a", "d"), ("b", "a"))
    val out = LinkGraph.withPageRank(edges.toDF("src", "dst"), iters = 5)(_.collect())
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val ref = refPageRank(edges, iters = 5, scale = 1000000000000L)
    assert(out === ref)
    // sanity: the most-linked node outranks the leaf
    assert(out("a") > out("d"))
  }

  test("pageRank collapses duplicate edges and reports degrees") {
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = LinkGraph.withPageRank(edges, iters = 2)(_.collect())
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map("a" -> ((1L, 1L)), "b" -> ((1L, 1L))))
  }

  test("pageRank: dangling node keeps its base rank, sink-only node included") {
    // c has no out-edges (dangling); it still receives, never contributes
    val edges = Seq(("a", "c"), ("b", "c"), ("a", "b"))
    val rows = LinkGraph.withPageRank(edges.toDF("src", "dst"), iters = 3)(_.collect()).map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("c")._1 === 0L) // outdeg
    assert(rows("c")._2 === 2L) // indeg
    val ref = refPageRank(edges, iters = 3, scale = 1000000000000L)
    assert(rows.view.mapValues(_._3).toMap === ref)
  }

  // ------------------------------------------------------- invertedIndex
  test("invertedIndex: per-doc-distinct df and sorted capped postings") {
    val docs = Seq(
      (1L, "the cat"), (2L, "the dog"), (3L, "THE the cat")
    ).toDF("doc_id", "text")
    val out = TextIndex.invertedIndex(docs, k = 10).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out === Map(
      "the" -> ((3L, "1,2,3")), // doc 3's repeat + case counted once
      "cat" -> ((2L, "1,3")),
      "dog" -> ((1L, "2"))))
  }

  test("invertedIndex: hot token caps postings at the k smallest ids") {
    val docs = (1L to 30L).map(i => (i, s"hot w$i")).toDF("doc_id", "text")
    val out = TextIndex.invertedIndex(docs, k = 3, salts = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out("hot") === ((30L, "1,2,3")))
    assert(out("w7") === ((1L, "7")))
  }

  // ---------------------------------------------------------- searchTopK
  test("searchTopK: integer tf-idf scores, deterministic tie-break and k-cut") {
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "c c c"), (4L, "d")
    ).toDF("doc_id", "text")
    // N=4, df(a)=df(c)=2, idf = 4 div 2 = 2
    // doc1 = 2*2 = 4; doc2 = 1*2 + 1*2 = 4; doc3 = 3*2 = 6; doc4 absent
    val all = TextIndex.searchTopK(docs, Seq("a", "c"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.toSeq === Seq((3L, 6L), (1L, 4L), (2L, 4L)))
    val cut = TextIndex.searchTopK(docs, Seq("a", "c"), k = 2).collect()
      .map(_.getLong(0))
    assert(cut.toSeq === Seq(3L, 1L)) // tie at 4 broken by doc_id
  }

  test("searchTopK plan: global top-k is TakeOrdered, never a full sort") {
    val docs = Seq((1L, "a"), (2L, "a b")).toDF("doc_id", "text")
    val plan = TextIndex.searchTopK(docs, Seq("a"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  // ------------------------------------------------ normalizedDedupStats
  test("normalizedDedupStats: case/punct/whitespace variants collapse") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD!!!"),
      (4L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.normalizedDedupStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(1L) === ((3L, 1)))
    assert(out(2L) === ((3L, 0)))
    assert(out(3L) === ((3L, 0)))
    assert(out(4L) === ((1L, 1)))
  }

  test("normalizedDedupStats: punctuation-only docs normalize together") {
    val docs = Seq((7L, "!!! ???"), (8L, "..."), (9L, "  \t ")).toDF("doc_id", "text")
    val out = Dedup.normalizedDedupStats(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(7L -> 3L, 8L -> 3L, 9L -> 3L))
  }
}
