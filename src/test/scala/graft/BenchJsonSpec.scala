package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact contract (r18, VERDICT item 2): the stdout line
  * must stay small AND parse as standalone JSON — BENCH_r16's 150 KB
  * single line defeated the driver's capture and cost round 17 its
  * entire round-over-round PERF comparison. These tests pin both the
  * contract line and the detail artifact through Jackson (the JSON
  * parser Spark itself bundles — independent of the hand-rolled
  * assembly they check).
  */
class BenchJsonSpec extends AnyFunSuite {

  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  // synthetic results exercising the escaping and failure paths: a
  // quote/backslash/newline-bearing name, a failed query (-1 wall,
  // error message with control chars), and an empty-sample row
  private val results = Seq(
    "q_ok" -> 1.25,
    "q_\"quoted\"\\back\nline" -> 0.5,
    "q_failed" -> -1.0)
  private val errors = scala.collection.Map(
    "q_failed" -> "IllegalStateException: boom \"quoted\"\n\ttabbed")
  private val samples = scala.collection.Map(
    "q_ok" -> Vector(1.3, 1.25, 1.2),
    "q_\"quoted\"\\back\nline" -> Vector(0.5, 0.6, 0.4),
    "q_failed" -> Vector(-1.0, -1.0, -1.0))
  private val longs = scala.collection.Map(
    "q_ok" -> Vector(10L, 11L, 12L),
    "q_failed" -> Vector(0L, 0L, 0L))

  test("contract line parses as JSON and carries ONLY the driver fields") {
    val (contract, _) = Bench.renderJson(results, errors, 3, "/tmp/sf0.1",
      samples, longs, longs, longs)
    assert(!contract.contains("\n"), "contract must be one line")
    val node = parse(contract)
    assert(node.get("metric").asText == "total")
    assert(math.abs(node.get("value").asDouble - 1.75) < 1e-9)
    assert(node.get("unit").asText == "sec")
    assert(node.get("sf").asText == "/tmp/sf0.1")
    assert(node.get("reps").asInt == 3)
    assert(node.get("queries").size == 3)
    assert(node.get("queries").get("q_ok").asDouble == 1.25)
    assert(node.get("queries").get("q_failed").asDouble == -1.0)
    assert(node.get("errors").get("q_failed").asText.contains("boom"))
    // per-rep attribution maps belong to the DETAIL artifact only
    for (f <- Seq("samples", "gc_ms", "jobs", "task_ms", "spread"))
      assert(node.get(f) == null, s"contract must not carry $f")
  }

  test("contract line stays small at suite scale (348 entries)") {
    val many = (1 to 348).map(i => f"x_query_family_name_$i%03d" -> i / 7.0)
    val sam = many.map { case (k, v) => k -> Vector(v, v, v) }.toMap
    val lng = many.map { case (k, _) => k -> Vector(1L, 2L, 3L) }.toMap
    val (contract, detail) = Bench.renderJson(many, scala.collection.Map(),
      3, "/root/testdata/sf0.1", sam, lng, lng, lng)
    parse(contract); parse(detail) // both standalone-parseable
    assert(contract.length < 20000,
      s"contract line grew to ${contract.length} bytes — keep it lean")
    assert(contract.length < detail.length / 3)
  }

  test("detail line parses as JSON with spread and per-rep arrays") {
    val (_, detail) = Bench.renderJson(results, errors, 3, "/tmp/sf0.1",
      samples, longs, longs, longs)
    val node = parse(detail)
    assert(node.get("queries").size == 3)
    assert(node.get("spread").get("q_ok").get("min").asDouble == 1.2)
    assert(node.get("spread").get("q_ok").get("max").asDouble == 1.3)
    // all-failed rows keep the -1 sentinel in the spread
    assert(node.get("spread").get("q_failed").get("min").asDouble == -1.0)
    assert(node.get("samples").get("q_ok").size == 3)
    assert(node.get("task_ms").get("q_ok").get(1).asLong == 11L)
    // a query with no attribution samples renders an empty array
    assert(node.get("jobs").get("q_\"quoted\"\\back\nline").size == 0)
    assert(node.get("gc_ms").get("q_failed").size == 3)
  }

  test("sf dir with a quote and a backslash is escaped in both lines") {
    val sf = "/tmp/odd \"dir\"\\sf0.1"
    val (contract, detail) = Bench.renderJson(results, errors, 3, sf,
      samples, longs, longs, longs)
    assert(parse(contract).get("sf").asText == sf)
    assert(parse(detail).get("sf").asText == sf)
  }

  test("reps=1 omits spread and still parses") {
    val (contract, detail) = Bench.renderJson(results, errors, 1,
      "/tmp/sf0.1", samples, longs, longs, longs)
    assert(parse(contract).get("reps").asInt == 1)
    assert(parse(detail).get("spread") == null)
  }
}
