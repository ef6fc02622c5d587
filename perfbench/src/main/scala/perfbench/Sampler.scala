package perfbench

import graft.queries._

/** The query workloads' samples, drawn from the full registry.
  *
  * Every registry's names are put in one seeded order, and a sample
  * takes a share of each registry in proportion to its size. No query
  * is ever left out for being slow or for failing: a failure counts
  * against the run. */
object Sampler {

  /** The seven registries, in SparkEntry's order. */
  val registries: Seq[(String, Seq[QDef])] = Seq(
    "core" -> CoreQueries.all, "text" -> TextQueries.all,
    "sim" -> SimQueries.all, "trainprep" -> TrainPrepQueries.all,
    "analytics" -> AnalyticsQueries.all, "graphstat" -> GraphStatQueries.all,
    "rel" -> RelQueries.all)

  final case class Pick(registry: String, q: QDef)

  lazy val byName: Map[String, Pick] =
    registries.flatMap { case (r, qs) => qs.map(q => q.name -> Pick(r, q)) }.toMap

  /** Each registry's names, sorted and then shuffled with a generator
    * seeded from (seed, registry), so one registry's order does not
    * depend on another registry's size. */
  def order(seed: Long): Seq[(String, Seq[String])] = registries.map { case (r, qs) =>
    val rnd = new scala.util.Random(seed * 1000003L + r.hashCode)
    r -> rnd.shuffle(qs.map(_.name).sorted)
  }

  /** round(share × size) names per registry, at least one. */
  def proportional(seed: Long, share: Double): Seq[String] =
    order(seed).flatMap { case (_, names) =>
      names.take(math.max(1, math.round(names.size * share).toInt))
    }

  /** The run order of one pass: the sample interleaved by a seeded
    * shuffle, so registries do not run in blocks. */
  def runOrder(seed: Long, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  /** Resolves names against the registry; an unknown name fails loudly,
    * like SPARK_GRAFT_BENCH_ONLY does in graft.Bench. */
  def resolve(names: Seq[String]): Seq[Pick] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    names.map(byName)
  }
}
