package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The kept dev tools, each through its `run` on the shared session:
  * every JSON they emit must parse, and the session must survive them.
  */
class DevToolsSpec extends SparkFunSuite {

  private val q = "q1_pricing_summary"
  private val mapper = new ObjectMapper()

  private def parse(s: String): JsonNode = mapper.readTree(s)
  private def parseFile(path: String): JsonNode =
    parse(Files.readString(Paths.get(path)))
  private def tmpFile(name: String): String =
    Files.createTempDirectory("graft_devtools").resolve(name).toString
  private def assertAlive(): Unit = {
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3L)
  }

  test("QueryBench reports the gate's minimum as one JSON line") {
    val out = parse(QueryBench.run(spark, Array(sf, "1", q)))
    assert(out.get("metric").asText == "qbench")
    assert(out.get(q).asDouble > 0.0)
    assertAlive()
  }

  test("GateSweep writes cold and warm times for a one-gate filter") {
    val path = tmpFile("sweep.json")
    val line = parse(GateSweep.run(spark, Array(sf, path, q)))
    assert(line.get("gates").asInt == 1)
    val out = parseFile(path)
    assert(out.get("times").get(q).asDouble > 0.0)
    assert(out.get("cold").get(q).asDouble > 0.0)
    assertAlive()
  }

  test("GateSweep output stays JSON under a comma-decimal default locale") {
    val path = tmpFile("sweep_de.json")
    val was = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try GateSweep.run(spark, Array(sf, path, q))
    finally Locale.setDefault(was)
    assert(parseFile(path).get("times").get(q).isDouble)
    assertAlive()
  }

  test("JobProfile reports jobs and stages of the profiled run") {
    val out = parse(JobProfile.run(spark, Array(sf, q, "1")))
    assert(out.get("query").asText == q)
    assert(out.get("wall_s").asDouble > 0.0)
    assert(out.get("jobs").size > 0 && out.get("stages").size > 0)
    assertAlive()
  }

  test("PlanCensus counts the AQE-off plan and restores the AQE conf") {
    val aqe = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqe)
    val path = tmpFile("census.json")
    val line = parse(PlanCensus.run(spark, Array(path, q)))
    assert(line.get("queries").asInt == 1)
    val gate = parseFile(path).get("queries").get(q)
    assert(!gate.has("error"))
    assert(gate.get("exchanges_total").asInt > 0)
    assert(spark.conf.get(aqe) == aqeWas)
    assertAlive()
  }
}
