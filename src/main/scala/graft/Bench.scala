package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line, the sweep record. It runs on the session
  * the correctness gate uses, so a bench timing is always a timing of
  * the correct plan.
  *
  * SPARK_GRAFT_BENCH_RUNS (default 2) sets the number of full sweeps,
  * and each query reports the min over its successful attempts. Ambient
  * load on a shared machine inflates timings one-sidedly, so the min is
  * the low-noise estimator; whole sweeps rather than per-query repeats
  * keep each query's cold-cache state.
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated names) re-measures a subset
  * for budget-breach adjudication (tools/BENCH_PROTOCOL.md rule 3). A
  * filtered run stamps its filter into the line as "only", so a subset
  * total is never mistaken for a full sweep, and leaves bench_last.json
  * alone. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(Set.empty[String])(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = Harness.selectOrExit("bench", "SPARK_GRAFT_BENCH_ONLY", Harness.registered, only)
    val h = Harness("bench", sfDir)
    val line = sweep(h, queries, only, nRuns, budgets(Paths.get("tools/bench_budgets.txt")))
    println(line)
    // The file recovers the line when stdout is truncated. It holds full
    // sweeps only: the protocol artifacts copy from it, and a subset
    // total there would read as a sweep.
    if (only.isEmpty)
      try Files.write(Paths.get("bench_last.json"), (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write bench_last.json: ${e.getMessage}") }
    else
      System.err.println("[bench] filtered run — bench_last.json NOT updated")
    h.stop()
  }

  /** Runs `nRuns` sweeps of `queries` and returns the JSON line. A query
    * that failed every sweep is listed in "failed" and reports no
    * timing: a time-to-exception must never read as a result. */
  def sweep(h: Harness, queries: Seq[(String, Harness.QueryFn)], only: Set[String],
            nRuns: Int, budgets: Map[String, Double]): String = {
    warmUp(h)
    val sweeps = (1 to nRuns).map(_ => queries.map { case (n, fn) => h.run(n, fn)(hashAll) })
    val byName = sweeps.flatten.groupBy(_.name)
    val names = queries.map(_._1)
    val failed = names.filter(n => byName(n).forall(!_.ok)).sorted
    val results = ListMap.from(names.flatMap(n =>
      byName(n).filter(_.ok).map(_.secs).minOption.map(n -> _)))
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: ${failed.mkString(", ")}")
    val exceeded = results.toSeq
      .flatMap { case (k, v) => budgets.get(k).filter(v > _).map(b => k -> v / b) }
      .sortBy(-_._2)
    if (exceeded.nonEmpty)
      System.err.println(s"[bench] ${exceeded.size} over budget: " +
        exceeded.map { case (k, r) => f"$k $r%.2fx" }.mkString(", "))
    Json.write(ListMap(
      "metric" -> "total", "value" -> results.values.sum, "unit" -> "sec",
      "queries" -> results, "failed" -> failed,
      "budget_exceeded" -> ListMap.from(exceeded.map { case (k, r) => k -> math.rint(r * 1000) / 1000 }),
      "budget_n" -> budgets.size, "runs" -> sweeps.map(_.map(_.secs).sum)) ++
      (if (only.isEmpty) Nil else Seq("only" -> only.toSeq.sorted)) ++
      Seq("sf" -> h.sfDir))
  }

  /** Codegen, JIT and parquet-footer paths, so the first query does not
    * absorb seconds of one-time session cost. */
  private def warmUp(h: Harness): Unit = {
    h.spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(n => h.spark.read.parquet(s"${h.sfDir}/$n.parquet").limit(1).count())
  }

  /** Forces FULL evaluation of every output column: a bare count() lets
    * Catalyst collapse count-over-projection, so casts, string builds
    * and regexes never run. Hashing all columns into one aggregate keeps
    * the whole plan and its exchanges live while returning one row. */
  private def hashAll(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()

  /** Per-query budgets ("name seconds", 2× an idle-machine baseline):
    * a sweep's over-budget list separates uniform load noise from a
    * regression in specific queries. A malformed line costs that one
    * budget and a missing file turns the gate off, each with a warning,
    * never silently. */
  def budgets(path: Path): Map[String, Double] =
    if (!Files.isRegularFile(path)) {
      System.err.println(s"[bench] WARN no $path — budget gate OFF")
      Map.empty
    } else Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val parsed = l.split("\\s+") match {
          case Array(n, b) => b.toDoubleOption.map(n -> _)
          case _ => None
        }
        if (parsed.isEmpty) System.err.println(s"[bench] WARN bad budget line dropped: $l")
        parsed
      }.toMap
}
