package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import graft.pipeline.{PersistTableDual, RunPipeline}

/** Lifecycle-at-scale artifact: RunPipeline's E1/E2 composition is
  * replay-spec'd at fixture size (300 contacts); this main executes it
  * against a larger lake and MEASURES the two scaling claims the specs
  * only assert structurally:
  *
  *  A. `runFull` twice (initial load, then a 5% incremental) on an
  *     sf1 star schema — wall time + per-stage persisted counts from
  *     the StageLedger-backed report. The incremental run must be
  *     O(delta): the rows it wrote to its contacts delta dir hold the
  *     whole universe and fit inside the new ids plus the seeds.
  *
  *  B. the PARTITION-SCOPED dual merge (`runStreamingOnce`, bucketed
  *     contacts): grow the source 5%, re-run, then verify from the
  *     raw dir's file inventory that (1) every pre-existing file
  *     outside the delta's buckets is BYTE-IDENTICAL (same path, same
  *     length, same checksum — untouched on disk, the O(delta) swap),
  *     and (2) merge input rows (prior rows in affected buckets +
  *     delta rows) stay within a constant factor of the delta.
  *
  * Usage: runMain graft.PipelineBench [sfDir] [baseRows]. Output: one
  * JSON line, also written to tools/pipeline_bench_last.json.
  */
object PipelineBench {

  private def md5(p: java.nio.file.Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(java.nio.file.Files.readAllBytes(p))
      .map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("tools/sf1")
    // args(1): contact-universe base (default 12000, the sf1 scale);
    // the incremental delta is always 5% of it — pass 120000 with
    // tools/sf10 for the decade leg of the lifecycle evidence
    val baseRows = args.lift(1).flatMap(_.toIntOption).getOrElse(12000)
    val deltaRows = baseRows / 20
    val spark = Harness.session("graft-pipelinebench")

    // ── A. batch lifecycle at sfDir scale ──
    graft.sources.FixtureBackend.reset()
    val root = java.nio.file.Files.createTempDirectory("graft_pipebench").toString
    val seeds = Seq("row#3@x.test", "row#7@x.test")
    val t1 = System.nanoTime()
    val r1 = RunPipeline.runFull(spark, root, sfDir,
      totalRows = baseRows, seedEmails = seeds, nowUtc = "2026-08-01T00:00:00Z")
    val sec1 = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val r2 = RunPipeline.runFull(spark, root, sfDir,
      totalRows = baseRows + deltaRows, seedEmails = seeds,
      nowUtc = "2026-08-02T00:00:00Z")
    val sec2 = (System.nanoTime() - t2) / 1e9
    // O(delta), two-sided: the universe must fit inside the rows the
    // run wrote to its contacts delta dir, and those inside the new ids
    // plus the seeds. The count persist returns is the master's, never
    // the delta's, so it cannot stand in for either side.
    val contactsDelta =
      spark.read.parquet(PersistTableDual.Paths(root, "contacts").delta(r2.runId)).count()
    require(r2.universeSize <= contactsDelta,
      s"incremental universe ${r2.universeSize} exceeds the $contactsDelta rows " +
        "written to the contacts delta")
    require(contactsDelta <= deltaRows + seeds.size,
      s"contacts delta holds $contactsDelta rows for $deltaRows new ids and " +
        s"${seeds.size} seeds: not O(delta)")
    val runfull = ListMap(
      "sf_dir" -> sfDir,
      "base_rows" -> baseRows,
      "initial_contacts" -> r1.persisted("contacts")._1,
      "initial_wall_sec" -> sec1,
      "incr_contacts_delta" -> contactsDelta,
      "incr_contacts_raw" -> r2.persisted("contacts")._1,
      "incr_wall_sec" -> sec2,
      "incr_universe" -> r2.universeSize,
      "stage_rows_initial" -> r1.persisted.map { case (k, v) => k -> v._1 },
      "stage_rows_incr" -> r2.persisted.map { case (k, v) => k -> v._1 })

    // ── B. partition-scoped merge: untouched partitions byte-identical ──
    graft.sources.FixtureBackend.reset()
    val sroot = java.nio.file.Files.createTempDirectory("graft_scoped").toString
    val rawDir = s"$sroot/master/raw/contacts"
    def files(): Map[String, (Long, String)] = {
      val base = java.nio.file.Paths.get(rawDir)
      if (!java.nio.file.Files.exists(base)) Map.empty
      else {
        val st = java.nio.file.Files.walk(base)
        try st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString ->
            (java.nio.file.Files.size(p), md5(p)))
          .toMap
        finally st.close()
      }
    }
    RunPipeline.runStreamingOnce(spark, sroot,
      Map("totalrows" -> baseRows.toString, "pagelimit" -> "500"),
      "2026-08-01T00:00:00Z")
    val inv1 = files()
    val preBuckets = spark.read.parquet(rawDir)
      .groupBy("bucket").count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val t3 = System.nanoTime()
    RunPipeline.runStreamingOnce(spark, sroot,
      Map("totalrows" -> (baseRows + deltaRows).toString,
        "pagelimit" -> "500"),
      "2026-08-02T00:00:00Z")
    val sec3 = (System.nanoTime() - t3) / 1e9
    val inv2 = files()
    // deltaRows new ids arrive via keyset resume
    val changed = inv2.keySet.filter(k => !inv1.get(k).contains(inv2(k)))
    val removed = inv1.keySet -- inv2.keySet
    val untouched = inv1.keySet.intersect(inv2.keySet)
      .count(k => inv1(k) == inv2(k))
    // bucket dirs the merge rewrote (relative path starts bucket=N/)
    val touchedBuckets = (changed ++ removed)
      .flatMap(_.split('/').find(_.startsWith("bucket=")))
      .map(_.stripPrefix("bucket=").toLong)
    val mergeInputRows =
      touchedBuckets.toSeq.map(b => preBuckets.getOrElse(b, 0L)).sum + deltaRows
    // merge input is O(delta): the prior rows re-read are only the
    // delta's own tail buckets (≤ bucketSpan rows each), never the lake.
    require(mergeInputRows <= 4 * deltaRows,
      s"scoped merge read $mergeInputRows rows for a $deltaRows-row delta")
    require(untouched > 0 && untouched >= inv1.size - 8,
      s"scoped merge rewrote ${inv1.size - untouched} of ${inv1.size} " +
        "pre-existing files — the swap is not partition-scoped")

    val scopedMerge = ListMap(
      "lake_rows_before" -> preBuckets.values.sum,
      "delta_rows" -> deltaRows,
      "incr_wall_sec" -> sec3,
      "merge_input_rows" -> mergeInputRows,
      "merge_input_over_delta" -> mergeInputRows.toDouble / deltaRows,
      "files_before" -> inv1.size,
      "files_untouched_byte_identical" -> untouched,
      "buckets_touched" -> touchedBuckets.size,
      "lake_rows_after" -> spark.read.parquet(rawDir).count())

    val line = Json.write(ListMap("metric" -> "pipeline_bench", "unit" -> "sec",
      "runfull" -> runfull, "scoped_merge" -> scopedMerge))
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("tools/pipeline_bench_last.json"),
      line.getBytes("UTF-8"))
    spark.stop()
  }
}
