package perfbench

sealed trait Workload { def name: String }

/** A query workload: a fixed sample, run in a seeded order on a lake
  * that tools/gen_sf.py generates at `lakeSf`, checked against
  * expected/<expectedFile>. */
final case class QueryWorkloadDef(name: String, lakeSf: String, expectedFile: String,
                                  sample: Seq[String]) extends Workload

case object Ingest extends Workload { val name = "ingest" }

object Workload {
  /** The seed the query samples are drawn with. The workload seed only
    * orders a pass: a sample redrawn per seed would move sweep_s by
    * about a fifth between seeds (the interquartile range over ten
    * seeds, from the per-query times in expected/query_sf0.001.json),
    * wider than any bound a regression check could use. */
  val SampleSeed = 42L
  /** Share of each registry in the fixed-cost sample. */
  val FixedCostShare = 0.01

  val fixedCost = QueryWorkloadDef("query_fixedcost", "0.001", "query_sf0.001.json",
    Sampler.proportional(SampleSeed, FixedCostShare))

  def apply(name: String): Workload = name match {
    case fixedCost.name => fixedCost
    case Ingest.name => Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
