package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench harness's error contract: a query that throws yields
  * a JSON-null timing (never a near-zero "fast green" number), lands in
  * the errors map, and the assembled line still parses as one JSON
  * object a machine consumer can ingest whole.
  */
class BenchSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private def fakeQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ok_query" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
    "broken_query" -> ((_: SparkSession, _: String) =>
      throw new RuntimeException("deliberately broken (spec)")))

  test("an errored query benches as null timing plus an errors entry") {
    val (results, errors) = Bench.measure(spark, sf0001, runs = 1, fakeQueries)
    val byName = results.toMap
    assert(byName("ok_query").exists(_ >= 0.0))
    assert(byName("broken_query").isEmpty, "errored timing must be None")
    assert(errors.map(_._1) == Seq("broken_query"))
    assert(errors.head._2.contains("deliberately broken"))
  }

  test("every sample runs against a cleared cache (uniform cold warmth)") {
    // round-12 pin: a query whose internal caches would survive
    // samples 2..n must NOT bench warm while managed queries bench
    // cold — measure() clears the catalog cache before EVERY sample,
    // so a plan cached by one sample is never visible to the next
    val sawWarm = scala.collection.mutable.ArrayBuffer[Boolean]()
    val q: (SparkSession, String) => DataFrame = (s, _) => {
      sawWarm += !s.sharedState.cacheManager.isEmpty
      val df = s.range(7).toDF("id")
      df.cache()
      df
    }
    Bench.measure(spark, sf0001, runs = 3, Seq("cacher" -> q))
    assert(sawWarm.toSeq == Seq(false, false, false),
      s"each sample must start with an empty cache, saw: $sawWarm")
  }

  test("the rendered line is one parseable JSON object with null for the error") {
    val (results, errors) = Bench.measure(spark, sf0001, runs = 1, fakeQueries)
    val line = Bench.renderLine(results, errors, skip = Set("skipped_one"),
      streaming = ""","streaming_rps":123.4""", sfDir = "/tmp/sf\"quoted")
    val node = mapper.readTree(line) // throws on malformed JSON
    assert(node.get("metric").asText() == "total")
    assert(node.get("queries").get("broken_query").isNull,
      "errored query must be JSON null, not a number")
    assert(node.get("queries").get("ok_query").isNumber)
    assert(node.get("errors").get("broken_query").asText()
      .contains("deliberately broken"))
    assert(node.get("skipped").get(0).asText() == "skipped_one")
    assert(node.get("streaming_rps").asDouble() == 123.4)
    // total counts only real measurements
    assert(node.get("value").asDouble() >= 0.0)
  }

  test("a failed BuiltOnce prebuild is tagged in the rendered line") {
    def render(failed: Seq[String]) = Bench.renderLine(
      Seq("ok_query" -> Some(1.5)), Seq.empty, skip = Set.empty,
      streaming = "", sfDir = "/tmp/sf", prebuildFailed = failed)
    // a run with no failed prebuild renders no prebuild_failed key
    assert(!mapper.readTree(render(Seq.empty)).has("prebuild_failed"))
    val line = render(Seq("text_longest_dup"))
    val node = mapper.readTree(line)
    val failed = node.get("prebuild_failed")
    assert(failed.isArray && failed.size() == 1, line)
    assert(failed.get(0).asText() == "text_longest_dup")
    assert(node.get("queries").get("ok_query").asDouble() == 1.5)
  }

  test("the rendered line carries the session's parallelism before sf") {
    val sc = spark.sparkContext
    val line = Bench.renderLine(Seq("ok_query" -> Some(0.5)), Seq.empty,
      skip = Set.empty, streaming = "", sfDir = "/tmp/sf")
    val node = mapper.readTree(line)
    assert(node.get("cpus").isInt && node.get("cpus").asInt() == sc.defaultParallelism, line)
    assert(node.get("master").asText() == sc.master, line)
    assert(line.endsWith(s""","cpus":${sc.defaultParallelism},"master":"${sc.master}","sf":"/tmp/sf"}"""))
  }
}
