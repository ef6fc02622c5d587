package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QDef

/** The one run path of the query harness mains (Bench, Verify,
  * Explain): session setup, query selection, and per-query execution
  * with timing, error capture and session recovery. A main supplies
  * only the action it applies to each query's frame and what it writes
  * from the outcomes. `open` builds the session; tests pass their
  * shared one. */
final class Harness(val tag: String, val sfDir: String, open: () => SparkSession) {
  private var current = open()

  /** The live session. One query's executor-level abort (a task OOM at
    * a big SF) stops the shared local SparkContext; rebuilding it here
    * judges every later query on its own behaviour instead of failing
    * it with "stopped SparkContext". */
  def spark: SparkSession = {
    if (current.sparkContext.isStopped) {
      System.err.println(s"[$tag] SparkContext stopped — recreating session")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      current = open()
    }
    current
  }

  /** Builds query `name` and applies `action` to its frame through
    * [[QDef.withCacheRelease]]. The clock starts before `fn`, because
    * building a frame can run jobs, and stops when the action returns:
    * the cache release that follows is session hygiene, not query
    * work. A throw is captured as the outcome's error. */
  def run[T](name: String, fn: Harness.QueryFn)(action: DataFrame => T): Harness.Outcome[T] = {
    val s = spark
    val t0 = System.nanoTime()
    var tEnd = 0L
    val result =
      try Right(QDef.withCacheRelease(s, fn(s, sfDir)) { df =>
        val v = action(df)
        tEnd = System.nanoTime()
        v
      })
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
        Left(e)
      }
    if (tEnd == 0L) tEnd = System.nanoTime()
    Harness.Outcome(name, (tEnd - t0) / 1e9, result)
  }

  def stop(): Unit = current.stop()
}

object Harness {
  type QueryFn = (SparkSession, String) => DataFrame

  /** `secs` runs to the action's return, or to the throw for an error. */
  final case class Outcome[T](name: String, secs: Double, result: Either[Throwable, T]) {
    def ok: Boolean = result.isRight
  }

  /** A harness over lake `sfDir`: fails fast when the heap cannot carry
    * the lake, then opens the local session. */
  def apply(tag: String, sfDir: String): Harness = {
    Sessions.guardHeapForLake(sfDir)
    new Harness(tag, sfDir, () => session(s"graft-$tag"))
  }

  /** The session every harness main runs on. */
  def session(app: String): SparkSession = {
    val s = Sessions.local(app)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every registered query, in name order. */
  def registered: Seq[(String, QueryFn)] = SparkEntry.queries.toSeq.sortBy(_._1)

  /** The queries named in `only`, or all of them when it is empty, in
    * the order given; Left lists the names no query has. */
  def select(queries: Seq[(String, QueryFn)],
             only: Set[String]): Either[Seq[String], Seq[(String, QueryFn)]] = {
    val unknown = only.diff(queries.map(_._1).toSet)
    if (unknown.nonEmpty) Left(unknown.toSeq.sorted)
    else Right(queries.filter { case (n, _) => only.isEmpty || only(n) })
  }

  /** [[select]], exiting 2 on an unknown name: a typo must fail loudly,
    * because a silently empty or partial run reads as a flattering
    * sweep or a clean dump. `source` names where the names came from. */
  def selectOrExit(tag: String, source: String, queries: Seq[(String, QueryFn)],
                   only: Set[String]): Seq[(String, QueryFn)] =
    select(queries, only).fold({ unknown =>
      System.err.println(s"[$tag] ERROR unknown query name(s) in $source: ${unknown.mkString(", ")}")
      sys.exit(2)
    }, identity)
}
