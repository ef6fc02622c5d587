package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Streaming throughput/state artifact.
  *
  * The streaming surface is correctness-spec'd (DocStreamSpec /
  * EventStreamSpec drive every operator through MemoryStream), but a
  * bounded-state CLAIM is an argument until the state store is
  * measured across micro-batches. This main runs two AvailableNow
  * passes over an SF-dir-sized feed staged as a multi-file parquet
  * stream (maxFilesPerTrigger chunks it into real micro-batches, the
  * same shape a file-drop ingest has in production):
  *
  *  1. `DocStream.curatedIngestSink` — the full streaming curation
  *     path (watermarked exact dedup → quality gate → per-batch
  *     broadcast decontam → stable splits → E2 dual merge).
  *  2. `EventStream.funnelChangelogStream` — `transformWithState`
  *     keyed funnel with retractions, state = one row per contact.
  *
  * For each: rows/s, per-micro-batch wall times, and the state-store
  * row count per batch from StreamingQueryProgress. The artifact's
  * point is the SHAPE of the state curve: funnel state rows must
  * plateau at O(distinct users) while input rows keep growing —
  * measured here, asserted in StreamStateBoundSpec.
  *
  * Usage: runMain graft.StreamBench [sfDir] (default SPARK_GRAFT_SF_DIR,
  * then the sf0.1 test lake). Output: one JSON line on stdout, also
  * written to tools/stream_bench_last.json.
  */
object StreamBench {

  /** Collects per-batch progress rows for the queries we run. */
  final class ProgressTap extends StreamingQueryListener {
    final case class Batch(batchId: Long, inputRows: Long, durMs: Long,
                           stateRows: Long, stateUpdated: Long)
    val batches = new ArrayBuffer[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (sr, su) =
        if (p.stateOperators != null && p.stateOperators.nonEmpty)
          (p.stateOperators.map(_.numRowsTotal).sum,
           p.stateOperators.map(_.numRowsUpdated).sum)
        else (0L, 0L)
      batches.synchronized {
        batches += Batch(p.batchId, p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          sr, su)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Harness.session("graft-streambench")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("graft_streambench").toString

    // Feed staging: documents on a MONOTONE synthetic event clock
    // (1 doc/second by doc_id), 16 files => 8 two-file batches. A
    // wrapping clock would regress event time past the 10-minute
    // watermark, so a large feed would mostly measure the late-data
    // drop path, not ingest. The monotone clock keeps every doc on time
    // at any SF, which makes the bounded-state claim clean: input grows
    // ∝SF, watermark occupancy doesn't.
    val docsB = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("ingest_ts",
        (lit(1704067200L) + col("doc_id")).cast("timestamp"))
    val nDocs = docsB.count()
    docsB.repartitionByRange(16, col("doc_id"))
      .write.mode("overwrite").parquet(s"$work/docfeed")
    // fixed eval set for the decontam stage: every 211th doc's 4-grams
    val evalShingles = graft.text.NearDup.shinglesN(
      docsB.filter(col("doc_id") % 211 === 7).select("doc_id", "text"),
      "doc_id", "text", 4).select("sh").cache()
    evalShingles.count()

    // ---- run 1: curated ingest sink ----
    val tap1 = new ProgressTap
    spark.streams.addListener(tap1)
    val docStream = spark.readStream
      .schema(spark.read.parquet(s"$work/docfeed").schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$work/docfeed")
    val t1 = System.nanoTime()
    val q1 = graft.streaming.DocStream.curatedIngestSink(docStream,
      evalShingles, work, "docs", s"$work/ckpt_docs", "ingest_ts",
      "10 minutes", extractedAt = "2026-01-01T00:00:00Z").start()
    q1.awaitTermination()
    val sec1 = (System.nanoTime() - t1) / 1e9
    spark.streams.removeListener(tap1)
    val curatedRows = spark.read.parquet(s"$work/master/latest/docs").count()

    // Bounded-state witness for the curation path: the in-stream
    // stateful operator is the watermarked exact dedup, so its state is
    // fingerprints WITHIN the 10-minute watermark of a 1-hour
    // event-time spread — never the corpus. The
    // artifact records the structural form of that claim: the state
    // peak must stay well under the total distinct fingerprints (if
    // eviction broke, state would converge on every fp ever seen).
    // StreamStateBoundSpec pins the same curve deterministically on
    // MemoryStream; this measures it at SF size.
    val nFps = docsB.select(md5(col("text"))).distinct().count()
    val curBatches = tap1.batches.sortBy(_.batchId)
    val maxState1 = curBatches.map(_.stateRows).foldLeft(0L)(math.max)
    val curated = ListMap(
      "input_rows" -> nDocs, "curated_rows" -> curatedRows,
      "wall_sec" -> sec1, "rows_per_sec" -> nDocs / sec1,
      "n_batches" -> curBatches.size,
      "batch_ms" -> curBatches.map(_.durMs).toList,
      "input_rows_per_batch" -> curBatches.map(_.inputRows).toList,
      "state_rows_per_batch" -> curBatches.map(_.stateRows).toList,
      "state_rows_updated_per_batch" -> curBatches.map(_.stateUpdated).toList,
      "max_state_rows" -> maxState1,
      "distinct_fingerprints" -> nFps,
      "state_bounded_by_watermark" -> (maxState1 < nFps))

    // ---- feed staging: events as ContactEvent, 16 files ----
    val evB = spark.read.parquet(s"$sfDir/events.parquet")
    val nEv = evB.count()
    val nUsers = evB.select("user_id").distinct().count()
    graft.pipeline.Tables.t(spark, sfDir, "events")
      .select(col("user_id").as("contact_id"), col("event_id"),
        col("ts").as("event_ts"), col("event_type"))
      .repartitionByRange(16, col("event_id"))
      .write.mode("overwrite").parquet(s"$work/evfeed")
    val tap2 = new ProgressTap
    spark.streams.addListener(tap2)
    val evStream = spark.readStream
      .schema(spark.read.parquet(s"$work/evfeed").schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$work/evfeed")
      .as[graft.streaming.ContactEvent]
    val t2 = System.nanoTime()
    val q2 = graft.streaming.EventStream.funnelChangelogStream(evStream)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", s"$work/ckpt_funnel")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("noop")
      .start()
    q2.awaitTermination()
    val sec2 = (System.nanoTime() - t2) / 1e9
    spark.streams.removeListener(tap2)

    val funnelBatches = tap2.batches.sortBy(_.batchId)
    val funnel = ListMap(
      "input_rows" -> nEv, "distinct_users" -> nUsers,
      "wall_sec" -> sec2, "rows_per_sec" -> nEv / sec2,
      "n_batches" -> funnelBatches.size,
      "batch_ms" -> funnelBatches.map(_.durMs).toList,
      "state_rows_per_batch" -> funnelBatches.map(_.stateRows).toList,
      "final_state_rows" -> funnelBatches.lastOption.map(_.stateRows).getOrElse(0L),
      "state_bounded_by_users" ->
        funnelBatches.lastOption.forall(_.stateRows <= nUsers))

    val line = Json.write(ListMap("metric" -> "stream_bench", "sf_dir" -> sfDir,
      "unit" -> "sec", "curated_ingest" -> curated, "funnel_changelog" -> funnel))
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("tools/stream_bench_last.json"),
      line.getBytes("UTF-8"))
    spark.stop()
  }
}
