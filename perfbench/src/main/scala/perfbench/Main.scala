package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import Layers.median

/** Entry point of the benchmark JVM (perfbench/run.py starts it).
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <repo> <work> <launchEpochMs>
  *   expect <query|ingest> <repo> <work>
  *
  * `run` prints, as its last stdout line, the result object the
  * benchmark contract asks for. `expect` writes the expected results
  * the runs are checked against. */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: w :: seed :: secs :: tr :: repo :: work :: launch :: Nil =>
      val res = run(Workload(w), seed.toLong, secs.toDouble, tr == "1", repo, work, launch.toLong)
      println(Json.write(res))
    case "expect" :: "query" :: repo :: work :: Nil => expect(Workload.fixedCost, repo, work)
    case "expect" :: "ingest" :: repo :: work :: Nil => IngestWorkload.expect(2, repo, work)
    case _ =>
      System.err.println("usage: see perfbench/README.md")
      sys.exit(2)
  }

  def session(): SparkSession = {
    val spark = graft.Sessions.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs a Python script to completion, its output to <work>/<log>.log. */
  def python(work: String, log: String, args: String*): Unit = {
    val p = new ProcessBuilder(("python3" +: args): _*)
      .redirectErrorStream(true).redirectOutput(new java.io.File(s"$work/$log.log")).start()
    require(p.waitFor() == 0, s"${args.head} failed, see $work/$log.log")
  }

  /** Generates a lake with the repo's generator (seed 42) into the
    * benchmark's work dir. */
  def genLake(repo: String, work: String, sf: String): String = {
    val dir = s"$work/lake_sf$sf"
    python(work, s"gen_sf$sf", s"$repo/tools/gen_sf.py", sf, dir)
    dir
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
          repo: String, work: String, launchMs: Long): java.util.Map[String, AnyRef] = w match {
    case q: QueryWorkloadDef => runQueries(q, seed, seconds, traced, repo, work, launchMs)
    case Ingest => IngestWorkload.run(seed, seconds, traced, repo, work, launchMs)
  }

  /** The end-to-end metrics, from set-up time and each operation's
    * median wall time in the run. */
  def endToEnd(setupS: Double, perOp: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("peak_rss_mb", peakRssMb(), "MB"),
    ("sweep_s", perOp.sum, "s"),
    ("op_p50_s", median(perOp), "s"))

  final case class Result(attempted: Int, failures: Seq[String],
                          metrics: Seq[(String, Double, String)]) {
    def toJson: java.util.Map[String, AnyRef] = Json.obj(
      "correct" -> Boolean.box(failures.isEmpty),
      "attempted" -> Int.box(attempted),
      "failed" -> Int.box(failures.size),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Double.box(v), "unit" -> u) }: _*))
  }

  def runQueries(w: QueryWorkloadDef, seed: Long, seconds: Double, traced: Boolean,
                 repo: String, work: String, launchMs: Long): java.util.Map[String, AnyRef] = {
    val picks = Sampler.resolve(Sampler.runOrder(seed, w.sample))
    val expected = Checks.loadExpected(s"$repo/perfbench/expected/${w.expectedFile}")
    val spark = session()
    val lake = genLake(repo, work, w.lakeSf)
    val none = mutable.Map.empty[String, Long]
    picks.foreach(p => QueryWorkload.runOne(spark, p, lake, None, none))
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    val tracer = new Tracer(s"${w.name}-$seed-$launchMs")
    val tap = new SparkTap
    if (traced) {
      spark.sparkContext.addSparkListener(tap)
      spark.listenerManager.register(tap)
    }
    val facts = mutable.Map.empty[String, Long]
    val ops = new ArrayBuffer[QueryOp]()
    val trace = if (traced) Some(tracer -> tap) else None
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < picks.size || System.nanoTime() < deadline)
      ops += QueryWorkload.runOne(spark, picks(ops.size % picks.size), lake, trace, facts)

    val failures = ops.flatMap(o => o.error.orElse(Checks.query(o.name, o.hash, o.rows, expected))) ++
      (if (traced && Layers.unaccounted(tracer, _.name.startsWith("query/")) > Layers.UnaccountedTolerance)
        Seq("trace: query child spans leave more than 5 % of the wall time unexplained") else Nil)
    val good = ops.filter(_.error.isEmpty)
    val perQuery = good.groupBy(_.name).map { case (n, os) => n -> median(os.map(_.wallS).toSeq) }
    val sweepS = perQuery.values.sum
    val metrics =
      if (!traced) endToEnd(setupS, perQuery.values.toSeq)
      else {
        SparkTap.drain(spark)
        val layers = QueryLayers(tracer, tap, ops.toSeq, facts.toMap, picks.size, spark, lake) +
          ("trace.sweep_s" -> sweepS)
        Layers.all.map(k => (k._1, layers.getOrElse(k._1, 0.0), k._2))
      }
    if (traced) Json.writeFile(s"$work/trace-${w.name}-$seed.json", tracer.toJson)
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
    Result(ops.size, failures.toSeq, metrics).toJson
  }

  /** Runs every registered query once on the workload's lake and
    * writes their hashes and row counts. Against an existing file, a
    * hash that differs from the earlier run's is marked unstable, so
    * two invocations compare hashes across JVMs. */
  def expect(w: QueryWorkloadDef, repo: String, work: String): Unit = {
    val out = s"$repo/perfbench/expected/${w.expectedFile}"
    val spark = session()
    val lake = genLake(repo, work, w.lakeSf)
    val none = mutable.Map.empty[String, Long]
    val runs = Sampler.resolve(Sampler.registries.flatMap(_._2.map(_.name))).map { p =>
      val o = QueryWorkload.runOne(spark, p, lake, None, none)
      o.error.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
      o
    }
    val prior = if (new java.io.File(out).exists) Checks.loadExpected(out) else Map.empty[String, Checks.Expected]
    val entries = runs.filter(_.error.isEmpty).sortBy(_.name).map { o =>
      val p = prior.get(o.name)
      require(p.forall(_.rows == o.rows), s"${o.name}: row count ${o.rows} differs from the earlier run's")
      o.name -> Json.obj("hash" -> o.hash, "rows" -> Long.box(o.rows),
        "hash_stable" -> Boolean.box(p.forall(e => e.hashStable && e.hash == o.hash)),
        "median_s" -> Double.box(o.wallS))
    }
    Json.writeFile(out, Json.obj("lake" -> s"tools/gen_sf.py ${w.lakeSf} (seed 42)",
      "queries" -> Json.obj(entries: _*)))
    spark.stop()
  }
}
