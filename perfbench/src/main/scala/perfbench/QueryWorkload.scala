package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}

import graft.queries.QDef

/** Counts read off a final executed plan, through AQE query stages and
  * subqueries. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Long] = {
    def n(pf: PartialFunction[SparkPlan, Int]): Long = collectWithSubqueries(plan)(pf).size.toLong
    Map(
      "plan.parquet_scans" -> n { case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => 1 },
      "plan.exchanges" -> n { case _: ShuffleExchangeExec => 1 },
      "plan.reused_exchanges" -> n { case _: ReusedExchangeExec => 1 },
      "plan.broadcasts" -> n { case _: BroadcastExchangeExec => 1 })
  }
}

/** One query run the way graft.Bench runs it: the clock starts before
  * `fn(spark, sf)` and stops when the hash action returns; the cache
  * release afterwards is outside the window. The action hashes every
  * output column (xxhash64, folded with bit_xor) and counts the rows. */
final case class QueryOp(name: String, registry: String, wallS: Double,
                         hash: String, rows: Long, error: Option[String])

object QueryWorkload {

  private def hashed(out: DataFrame): DataFrame =
    out.select(xxhash64(out.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n"))

  /** With a tracer the run is split into spans query/<name> → build,
    * analyze, optimize, plan, exec, release; Catalyst phases are forced
    * one by one on the hashed Dataset whose action then runs, and the
    * action must report that same QueryExecution as finished. */
  def runOne(spark: SparkSession, pick: Sampler.Pick, lake: String,
             trace: Option[(Tracer, SparkTap)],
             facts: mutable.Map[String, Long]): QueryOp = {
    def phase[T](name: String)(f: => T): T = trace.fold(f)(_._1.span(name)(f))
    trace.foreach(_._1.open(s"query/${pick.q.name}"))
    val t0 = System.nanoTime()
    var tEnd = 0L
    var h: DataFrame = null
    var hash = ""
    var rows = -1L
    var error: Option[String] = None
    try {
      QDef.withCacheRelease(spark, phase("build")(pick.q.fn(spark, lake))) { out =>
        h = phase("analyze")(hashed(out))
        trace.foreach { _ =>
          phase("optimize")(h.queryExecution.optimizedPlan)
          phase("plan")(h.queryExecution.executedPlan)
        }
        val row = phase("exec")(h.collect().head)
        tEnd = System.nanoTime()
        hash = if (row.isNullAt(0)) "null" else row.getLong(0).toString
        rows = row.getLong(1)
        trace.foreach(_._1.open("release"))
      }
    } catch {
      case e: Throwable =>
        error = Some(s"${pick.q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (tEnd == 0L) tEnd = System.nanoTime()
    trace.foreach { case (tr, tap) =>
      // close the release span and the query span (and, after a
      // failure, whatever phase was open), innermost first
      tr.spans.filter(_.end < 0).reverse.foreach(s => tr.close(s.id))
      if (error.isEmpty) {
        SparkTap.drain(spark)
        if (!tap.ran(h.queryExecution))
          error = Some(s"${pick.q.name}: the action did not reuse the timed QueryExecution")
        PlanFacts.of(h.queryExecution.executedPlan).foreach { case (k, v) =>
          facts(k) = facts.getOrElse(k, 0L) + v
        }
      }
      tap.forget()
    }
    QueryOp(pick.q.name, pick.registry, (tEnd - t0) / 1e9, hash, rows, error)
  }
}
