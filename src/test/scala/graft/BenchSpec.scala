package graft

import scala.util.Success
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

/** The bench's JSON line and scaling-pair derivation, checked without a
  * SparkSession. */
class BenchSpec extends AnyFunSuite {

  private val passes = Seq(
    Bench.Pass(1000.0, 6000, 10.0),
    Bench.Pass(2000.0, 6000, 9.0),
    Bench.Pass(1500.0, 6000, 9.5))
  private val e2eSec = 6000 / 1500.0

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("the JSON line carries the driver keys and the median extraction pass") {
    val js = parse(Bench.jsonLine("sf", "4", Seq("q_a" -> Success(1.5)), passes, None))
    Seq("metric", "value", "unit", "queries", "extract_docs_per_sec").foreach { k =>
      assert(js.has(k), s"missing driver key $k")
    }
    assert(js.get("extract_docs_per_sec").asDouble === 1500.0)
    assert(js.get("extract_docs_per_sec_passes").size === 3)
    assert(js.get("queries").get("extract_pipeline_e2e").asDouble === e2eSec)
    assert(js.get("value").asDouble === (1.5 + e2eSec) +- 1e-9)
    assert(js.get("queries_failed").size === 0)
    assert(!js.has("scaling"))
  }

  test("a query that throws lands in queries_failed, not in queries or value") {
    val sweep = Seq(
      "q_ok" -> Bench.timed(()),
      "q_bad" -> Bench.timed(throw new IllegalStateException("boom")))
    assert(sweep(1)._2.isFailure)
    val js = parse(Bench.jsonLine("sf", "4", sweep, passes, None))
    assert(js.get("queries_failed").size === 1)
    assert(js.get("queries_failed").get(0).asText === "q_bad")
    assert(!js.get("queries").has("q_bad"))
    assert(js.get("queries").has("q_ok"))
    assert(js.get("value").asDouble === (sweep.head._2.get + e2eSec) +- 1e-9)
  }

  test("scaling pair: hi = min(cpus, available processors), lo = hi / 4, none when lo < 1") {
    assert(Bench.scalingPair(4, 4) === Some((1, 4)))
    assert(Bench.scalingPair(32, 32) === Some((8, 32)))
    assert(Bench.scalingPair(32, 4) === Some((1, 4)))
    assert(Bench.scalingPair(2, 4) === None)
  }

  test("the scaling section reports both efficiencies, or the children that failed") {
    val ok = Bench.Scaling(1, 4, 50000,
      Some(Bench.Child(5000.0, 1.0)), Some(Bench.Child(16000.0, 4.0)))
    val s = parse(Bench.jsonLine("sf", "4", Seq.empty, passes, Some(ok))).get("scaling")
    assert(s.get("pair").get(0).asInt === 1 && s.get("pair").get(1).asInt === 4)
    assert(s.get("docs_per_sec_1").asLong === 5000L)
    assert(s.get("docs_per_sec_4").asLong === 16000L)
    assert(s.get("efficiency").asDouble === 0.8)
    assert(s.get("efficiency_per_consumed_core").asDouble === 0.8)

    val failed = Bench.Scaling(1, 4, 50000, Some(Bench.Child(5000.0, 1.0)), None)
    val f = parse(Bench.jsonLine("sf", "4", Seq.empty, passes, Some(failed))).get("scaling")
    assert(!f.has("efficiency"))
    assert(f.get("failed_children").get(0).asInt === 4)
  }
}
