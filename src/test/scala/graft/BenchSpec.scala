package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s protocol on sf0.001: every entry is sampled once per
  * round, a failure on any sample fails the entry, and the rendered
  * lines keep the artifact and stdout contracts. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = s"${TestSpark.dataRoot}/sf0.001"
  private val json = new ObjectMapper()

  private lazy val results: Seq[Bench.Result] = {
    var calls = 0
    val failsSecond: Bench.Query = (s, dir) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second call fails")
      SparkEntry.queries("q01_scan")(s, dir)
    }
    Bench.sweep(spark, sfDir, Seq(
      "q05_sort_limit" -> SparkEntry.queries("q05_sort_limit"),
      "q01_scan" -> SparkEntry.queries("q01_scan"),
      "zz_fails_second" -> failsSecond))
  }

  private def byName(name: String): Bench.Result = results.find(_.name == name).get

  test("results come back sorted by name, one per entry") {
    assert(results.map(_.name) == Seq("q01_scan", "q05_sort_limit", "zz_fails_second"))
  }

  test("a failure on one sample makes the entry -1 and lists it under failed") {
    val r = byName("zz_fails_second")
    assert(r.failed && r.value == -1.0)
    assert(r.wall.count(_ < 0) == 1, s"one of the rounds failed: ${r.wall}")
    val artifact = json.readTree(Bench.render(results, sfDir, "out.json").artifact)
    assert(artifact.get("failed").elements().asScala.map(_.asText).toSeq == Seq("zz_fails_second"))
    assert(artifact.get("queries").get("zz_fails_second").asDouble == -1.0)
  }

  test("each good entry has one wall and one CPU sample per round, and records the min wall") {
    Seq("q01_scan", "q05_sort_limit").map(byName).foreach { r =>
      assert(r.wall.size == Bench.Rounds && r.cpu.size == Bench.Rounds, r)
      assert(r.wall.forall(_ >= 0) && r.cpu.forall(_ >= 0), r)
      assert(!r.failed && r.value == r.wall.min, r)
    }
  }

  test("the artifact carries every entry's samples; the summary and heaviest_s lines parse") {
    val report = Bench.render(results, sfDir, "out.json")
    val artifact = json.readTree(report.artifact)
    def arrays(key: String): Map[String, Seq[Double]] =
      artifact.get(key).properties().asScala.map(e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asDouble).toSeq).toMap
    assert(arrays("samples").keySet == results.map(_.name).toSet)
    assert(arrays("cpu_s").values.forall(_.size == Bench.Rounds))
    assert(arrays("samples")("q01_scan").min == artifact.get("queries").get("q01_scan").asDouble)
    val summary = json.readTree(report.summary)
    Seq("metric", "value", "unit", "sf", "n_queries", "n_failed", "cpu_s", "detail")
      .foreach(k => assert(summary.has(k), s"summary lacks $k: ${report.summary}"))
    assert(summary.get("n_queries").asInt == 3 && summary.get("n_failed").asInt == 1)
    val heaviest: JsonNode = json.readTree(report.heaviest).get("heaviest_s")
    assert(heaviest.properties().asScala.map(_.getKey).toSet == Set("q01_scan", "q05_sort_limit"))
  }

  test("heaviest_s stays within 600 chars when names run long") {
    val many = (1 to 30).map(i => Bench.Result(f"x_${"long_entry_name_" * 3}$i%02d",
      Seq(i.toDouble, i + 1.0, i + 2.0), Seq(1.0, 1.0, 1.0)))
    val line = Bench.render(many, sfDir, "out.json").heaviest
    assert(line.length <= 600, line)
    val kept = json.readTree(line).get("heaviest_s").properties().asScala.map(_.getValue.asDouble).toSeq
    assert(kept.nonEmpty && kept.min > (30 - 20).toDouble, s"lightest dropped first: $kept")
  }

  test("an unknown entry name fails the run before any session starts") {
    val e = intercept[IllegalArgumentException](Bench.main(Array("q01_scan", "no_such_entry")))
    assert(e.getMessage.contains("no_such_entry"))
  }
}
