package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: the Spark plan and (when
  * ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the driver
  * hash-compares against (SURVEY.md §5). `oracle = None` → driver
  * records a weaker rows-only check. */
final case class QDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object QDef {
  /** Run one query's action and release every cached plan afterwards.
    *
    * A few operators persist() bounded intermediates at plan-build
    * time (q_triangle_support's oriented edge set, q_funnel_steps'
    * per-user step tables) because their plans scan one
    * materialization several times. Those persists are correct inside
    * the query but leak into the SHARED session once the action
    * finishes — and Spark substitutes cached plans into any later
    * query with a matching subtree (the cross-query
    * cache-substitution hazard Curation's scaladoc documents). Every
    * harness main (Bench, Verify, Explain, through [[graft.Harness]])
    * routes its per-query action through here so release is
    * centralized, not a per-caller workaround; library consumers
    * executing `SparkEntry.queries` directly should do the same after
    * each action. */
  def withCacheRelease[T](spark: SparkSession, df: => DataFrame)(action: DataFrame => T): T =
    try action(df) finally {
      spark.catalog.clearCache()
      // Snapshot blocks from snap()/localCheckpoint live OUTSIDE the
      // catalog cache (they persist the underlying RDD directly), so
      // clearCache() never frees them and a 423-query sweep would
      // accumulate every query's snapshots until the ContextCleaner's
      // GC-driven reclaim happens to run. Released here, centrally,
      // for the same reason the persist() release is: the action is
      // complete, nothing re-executes the returned frame.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

  /** Local-checkpoint SNAPSHOT of a deterministic intermediate: unlike
    * persist() it TRUNCATES the plan lineage to the stored blocks. It is
    * not lazy under AQE: building the snapshot runs its upstream
    * shuffle stages as jobs before the query's action, so that work
    * counts in the build time and is absent from the final plan's
    * scans. For unrolled iterative operators (q_pagerank_iter,
    * q_kcore_peel, q_hits_scores) the truncation is the point: without
    * it every iteration re-embeds the full upstream subtree, the
    * executed plan grows to hundreds of scans (q_kcore_peel: 142
    * parquet scans, 5k formatted lines), and AQE replans the whole tree
    * per stage — fixed overhead that dwarfs the data work at every SF
    * (guide §1.2 step 1, §3.3 "materialising an intermediate truncates
    * the plan"; the NearDup CC loop's discipline applied to the
    * unrolled-plan family). In-query materialization recomputed per
    * run — NOT cross-run caching; blocks are freed centrally by
    * [[withCacheRelease]] after each query's action. */
  def snap(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
