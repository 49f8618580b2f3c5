package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry against its oracles, without a Spark session:
  * every row has exactly one oracle (static or dynamic), every shared
  * oracle resolves to a row that owns one, and the flat similarity
  * lifecycle rows generated from their family × scenario table keep
  * every name they had when they were written by hand.
  */
class RegistrySpec extends AnyFunSuite {

  private val static = SparkEntry.oracleSql.keySet
  private val dynamic = SparkEntry.dynamicQueryNames

  test("every query has a static or a dynamic oracle, and nothing else " +
      "does") {
    val queries = SparkEntry.queries.keySet
    assert(queries -- (static ++ dynamic) === Set.empty[String],
      "queries without an oracle")
    assert((static ++ dynamic) -- queries === Set.empty[String],
      "oracles without a query")
  }

  test("no name is both static and dynamic") {
    assert((static intersect dynamic) === Set.empty[String])
  }

  test("every shared oracle is owned by a static or a dynamic oracle") {
    val owners = graft.oracle.StaticOracles.sql.keySet ++
      graft.oracle.DynamicOracles.names
    val dangling = SparkEntry.sharedOracle.filterNot {
      case (_, owner) => owners(owner) }
    assert(dangling === Map.empty[String, String])
    assert(SparkEntry.sharedOracle.keySet.intersect(owners)
      === Set.empty[String], "a row that shares an oracle owns none")
  }

  test("the 29 flat similarity lifecycle rows keep their names") {
    val flat = Seq(
      "x_sim_ivf_served", "x_sim_ivf_append", "x_sim_ivf_delete",
      "x_sim_ivf_compact", "x_sim_ivf_versioned", "x_sim_ivf_rollback",
      "x_sim_ivf_time_travel", "x_sim_ivf_versioned_delete",
      "x_sim_pq_served", "x_sim_pq_delete", "x_sim_pq_append",
      "x_sim_pq_versioned", "x_sim_ivf_pq_served", "x_sim_ivf_pq_delete",
      "x_sim_ivf_pq_append", "x_sim_ivf_pq_versioned",
      "x_sim_quantized_served", "x_sim_quantized_delete",
      "x_sim_quantized_append", "x_sim_quantized_versioned",
      "x_stream_ivf_ingest", "x_stream_ivf_resume", "x_stream_pq_ingest",
      "x_stream_int8_ingest", "x_stream_ivfpq_ingest",
      "x_stream_ivf_versioned", "x_stream_pq_versioned",
      "x_stream_int8_versioned", "x_stream_ivfpq_versioned")
    assert(flat.distinct.size == 29)
    assert(flat.filterNot(SparkEntry.queries.contains) === Nil)
  }
}
