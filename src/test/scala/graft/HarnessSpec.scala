package graft

import java.nio.file.Files
import java.util.Locale
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

/** The harness run path and its two dump-writing modes, driven with
  * fake queries on sf0.001: one that works, one that throws while its
  * frame is built and one that throws when its action runs. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTesting.spark
  private def harness = new Harness("spec", SparkTesting.sf, () => spark)

  private val good: Harness.QueryFn = (s, sf) => s.read.parquet(s"$sf/region.parquet")
  private val badBuild: Harness.QueryFn = (_, _) => throw new IllegalStateException("boom")
  private val badExec: Harness.QueryFn =
    (s, _) => s.range(1).selectExpr("raise_error('boom at exec') AS x")
  private val queries = Seq("q_bad_build" -> badBuild, "q_bad_exec" -> badExec, "q_good" -> good)

  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet
  private def texts(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private val benchKeys =
    Set("metric", "value", "unit", "queries", "failed", "budget_exceeded", "budget_n", "runs", "sf")

  test("bench: one JSON line with the contract's keys; a throwing query is failed and untimed") {
    val line = Bench.sweep(harness, queries, Set.empty, 2, Map("q_good" -> 1e-9))
    assert(!line.contains("\n"))
    val n = Json.read(line)
    assert(keys(n) == benchKeys)
    assert(keys(n.get("queries")) == Set("q_good"))
    assert(n.get("queries").get("q_good").asDouble > 0)
    assert(texts(n.get("failed")) == Seq("q_bad_build", "q_bad_exec"))
    assert(keys(n.get("budget_exceeded")) == Set("q_good"))
    assert(n.get("budget_n").asInt == 1)
    assert(n.get("runs").size == 2)
    assert(n.get("sf").asText == SparkTesting.sf)
    assert(n.get("value").asDouble == n.get("queries").get("q_good").asDouble)
  }

  test("bench: a filtered run stamps its filter as \"only\"") {
    val only = Set("q_good")
    val n = Json.read(Bench.sweep(harness, Harness.select(queries, only).toOption.get, only, 1, Map.empty))
    assert(keys(n) == benchKeys + "only")
    assert(texts(n.get("only")) == Seq("q_good"))
    assert(keys(n.get("queries")) == Set("q_good"))
  }

  test("selection: all queries when none are named, the named ones otherwise, unknown names rejected") {
    assert(Harness.select(queries, Set.empty) == Right(queries))
    assert(Harness.select(queries, Set("q_good")).map(_.map(_._1)) == Right(Seq("q_good")))
    assert(Harness.select(queries, Set("q_good", "q_typo", "q_also")) == Left(Seq("q_also", "q_typo")))
  }

  test("verify: dump layout and files; a throwing query is in errors.json and its stale dump is gone") {
    val out = Files.createTempDirectory("harness_verify")
    // stale dumps from an earlier run of both failing queries
    Seq("q_bad_build", "q_bad_exec").foreach { q =>
      Files.createDirectories(out.resolve(q))
      Files.writeString(out.resolve(s"$q/part-0.parquet"), "stale")
    }
    val oracle = Map("q_good" -> "SELECT * FROM region", "q_bad_exec" -> "SELECT 1\tAS \"x\"")
    Verify.dump(harness, out.toString, queries, Set.empty, oracle)

    assert(Files.isDirectory(out.resolve("q_good")))
    assert(spark.read.parquet(out.resolve("q_good").toString).count() ==
      spark.read.parquet(s"${SparkTesting.sf}/region.parquet").count())
    assert(!Files.exists(out.resolve("q_bad_build")) && !Files.exists(out.resolve("q_bad_exec")))

    val sql = Json.read(Files.readString(out.resolve("oracle_sql.json")))
    assert(keys(sql).map(k => k -> sql.get(k).asText).toMap == oracle)

    val errors = Json.read(Files.readString(out.resolve("errors.json")))
    assert(keys(errors) == Set("q_bad_build", "q_bad_exec"))
    assert(errors.get("q_bad_build").asText == "IllegalStateException: boom")
    assert(errors.get("q_bad_exec").asText.contains("boom at exec"))

    val meta = Json.read(Files.readString(out.resolve("verify_meta.json")))
    assert(keys(meta) == Set("git_sha", "git_dirty", "classes_sha256", "stale_build",
      "filtered", "spark_version", "duckdb_version"))
    assert(meta.get("git_dirty").isBoolean && meta.get("stale_build").isBoolean)
    assert(meta.get("filtered").isArray && meta.get("filtered").size == 0)
    assert(meta.get("spark_version").asText == spark.version)
  }

  test("verify: a clean filtered run writes errors.json as {} and stamps its filter") {
    val out = Files.createTempDirectory("harness_verify_filtered")
    val only = Set("q_good")
    Verify.dump(harness, out.toString, Harness.select(queries, only).toOption.get, only,
      Map("q_good" -> "SELECT * FROM region", "q_bad_exec" -> "SELECT 1"))
    assert(Files.readString(out.resolve("errors.json")) == "{}")
    assert(keys(Json.read(Files.readString(out.resolve("oracle_sql.json")))) == Set("q_good"))
    assert(texts(Json.read(Files.readString(out.resolve("verify_meta.json"))).get("filtered")) ==
      Seq("q_good"))
  }

  test("the JSON writer escapes quotes and control characters and ignores the default locale") {
    val s = "say \"hi\"\tthen\u0001stop\\n\nend"
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line =
      try Json.write(ListMap("s" -> s, "d" -> 1234.5678, "small" -> 0.001))
      finally Locale.setDefault(prev)
    assert(!line.exists(_ < ' '))
    val n = Json.read(line)
    assert(n.get("s").asText == s)
    assert(n.get("d").asDouble == 1234.5678)
    assert(n.get("small").asDouble == 0.001)
    assert(line.contains("1234.5678"))
  }
}
