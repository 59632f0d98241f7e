package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins Bench's output contract on synthetic measurements: the key
  * names and order of the stdout line (parsed off a bounded log tail),
  * and the fields of the complete record. */
class BenchRecordSpec extends AnyFunSuite {
  private val failed = "failed_gate"
  private val record = Bench.Record(
    runs = Bench.headline.toSeq.sorted.zipWithIndex.map { case (g, i) =>
      g -> Seq(1.0 + i, 1.5 + i)
    }.toMap + ("slow_extra_gate" -> Seq(200.0, 201.0)) + (failed -> Nil),
    canarySec = 1.25, canaryShuffleSec = 3.5,
    stagingSec = Seq("canon" -> 12.0, "embpairs" -> 4.0), sf = "sf0.1")

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("stdout line: one line, keys in contract order, errors name the failure") {
    val line = record.line
    assert(!line.contains('\n'))
    val j = parse(line)
    assert(keys(j) == Seq("metric", "value", "unit", "n", "canary_version",
      "canary_sec", "canary_rows", "canary_shuffle_sec", "canary_shuffle_rows",
      "staging_sec", "errors", "spread", "queries", "tail", "sf"))
    assert(keys(j.get("tail")) == Seq("value", "n", "canary_version",
      "canary_sec", "canary_shuffle_sec", "staging_sec", "sf"))
    assert(j.get("errors").elements().asScala.map(_.asText).toSeq == Seq(failed))
    // the queries map is the headline subset; spreads cover the 16
    // slowest headline gates
    assert(keys(j.get("queries")).toSet == Bench.headline)
    assert(keys(j.get("spread")).size == 16)
    assert(j.get("n").asInt == Bench.headline.size + 1)
    assert(j.get("tail").get("value").asText == j.get("value").asText)
  }

  test("file record: the complete map plus staging, subtotal, bounds and spreads") {
    val j = parse(record.full())
    for (k <- Seq("staging_build_sec", "headline_subtotal", "family_bound",
        "errors", "queries", "spread", "sf"))
      assert(j.has(k), s"missing $k")
    for (k <- Seq("headline_subtotal_r10basis", "measurement_basis", "prev_delta",
        "containment_funnel"))
      assert(!j.has(k), s"unexpected $k")
    assert(keys(j.get("queries")).toSet == Bench.headline + "slow_extra_gate")
    assert(j.get("errors").elements().asScala.map(_.asText).toSeq == Seq(failed))
    assert(j.get("headline_subtotal").asDouble <
      j.get("value").asDouble)
    val withFunnel = parse(record.full(Some((30L, 20L, 10L))))
    assert(withFunnel.get("containment_funnel").get("verified").asLong == 10L)
  }
}
