package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for Verify / Bench / tests.
  *
  * Scale posture (SURVEY.md §7): AQE on (runtime shuffle coalescing +
  * skew-join splitting), shuffle partitions sized to the local core
  * count (the driver exports SPARK_GRAFT_CPUS; a real cluster would
  * size this to executor cores × executors), and UTC session timezone
  * for oracle parity (graft.pipeline.Tables reinterprets the events
  * TIMESTAMP_NTZ column as UTC instants against it — the zone is
  * correctness-bearing, not cosmetic).
  */
object Sessions {

  /** Fail fast when the harness heap can't carry the lake: the
    * forked JVM defaults to `-Xmx8g` (build.sbt), which at a ≥1 GiB
    * lake on local[24+] is ~0.3 GB per task slot — enough
    * for q_approx_distinct's Expand×3 aggregate to legitimately OOM
    * an executor thread 40 minutes into a sweep. A real cluster
    * sizes executor memory per core; locally the fix is the env var,
    * so say so up front instead of dying mid-run. Overridable for
    * deliberate small-heap experiments. */
  def guardHeapForLake(sfDir: String): Unit = {
    val root = java.nio.file.Paths.get(sfDir)
    if (!java.nio.file.Files.isDirectory(root)) return
    val stream = java.nio.file.Files.walk(root)
    val lakeBytes =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally stream.close()
    val heap = Runtime.getRuntime.maxMemory
    val bigLake = lakeBytes >= (1L << 30)
    val smallHeap = heap < 32L * (1L << 30)
    if (bigLake && smallHeap && !sys.env.contains("SPARK_GRAFT_ALLOW_SMALL_HEAP")) {
      System.err.println(
        f"[graft] lake $sfDir is ${lakeBytes / 1e9}%.1f GB but the driver heap is " +
          f"${heap / 1e9}%.1f GB (build.sbt defaults to -Xmx8g). Wide-aggregate " +
          "operators OOM task threads at this ratio. Re-run with SPARK_DRIVER_MEM=64g " +
          "(or set SPARK_GRAFT_ALLOW_SMALL_HEAP=1 to proceed anyway).")
      sys.exit(2)
    }
  }

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
