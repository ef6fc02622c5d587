package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Sessions

/** E1 `run_pipeline` (run_ac_extraction.py:1537-1703) — the full run
  * lifecycle wired end-to-end on the fixture-backed paged source:
  *
  *   1. load keyset watermark state            (:1557-1559)
  *   2. incremental scan past the watermark    (S5, :1570-1573 —
  *      pushed into the DSv2 source as a planning-time page prune)
  *   3. persist_table_dual merge               (E2, :134-188)
  *   4. advance + save watermark               (:1696-1700)
  *
  * Re-running is a no-op: the watermark skips processed ids and the
  * content-hash dedup absorbs any redelivery — the reference's two
  * idempotence mechanisms, composed.
  *
  * Usage: runMain graft.pipeline.RunPipeline <outRoot> [totalRows]
  */
object RunPipeline {

  /** Unique, replayable run id: the injected run stamp (the
    * reference's wall-clock %Y%m%d_%H%M%S, :1553) plus the watermark
    * position. The stamp alone would suffice; the watermark suffix
    * keeps ids self-describing. Distinct runs must carry distinct
    * stamps — a watermark-only id collides whenever the watermark
    * doesn't advance (seed-only re-runs), and the colliding run would
    * overwrite the previous run's preserved delta dir. */
  private def mkRunId(runUtc: String, wm: Long): String =
    s"run_${runUtc.replaceAll("[^0-9TZ]", "")}_after_$wm"

  /** One incremental run. Returns (sliceRows, rawRows, latestRows).
    * `runUtc` is required and must be distinct per run (see
    * [[mkRunId]]) — a constant default here was a delta-overwrite
    * trap for any caller that omitted it. */
  def runOnce(spark: SparkSession, outRoot: String,
              totalRows: Long, runUtc: String): (Long, Long, Long) = {
    val statePath = s"$outRoot/state.json"
    val state = Watermark.load(statePath)

    val contacts = spark.read.format("graft.sources.PagedSource")
      .option("totalrows", totalRows.toString).option("pagelimit", "100").load()
    val slice = Watermark.incrementalSlice(contacts, "id", state)

    val runId = mkRunId(runUtc, state.maxId)
    val paths = PersistTableDual.Paths(outRoot, "contacts")
    val (rawN, latestN) = PersistTableDual.persist(
      spark, paths,
      slice.withColumn("contact_id", col("id").cast("string")),
      runId, runUtc, Seq("contact_id"), "updated_at")

    // Advance from the delta that was durably WRITTEN, never from a
    // re-scan of the live source: upstream may have grown between the
    // persist and now, and a watermark past unpersisted ids would
    // skip those rows forever.
    val deltaOnDisk = spark.read.parquet(paths.delta(runId))
    val sliceCount = deltaOnDisk.count()
    val advanced = Watermark.advance(deltaOnDisk, "id", state, runUtc)
    Watermark.save(statePath, advanced)
    (sliceCount, rawN, latestN)
  }

  /** Name prefix of [[StagePool]]'s threads. */
  private[pipeline] val StageThreadPrefix = "runFull-stage-"

  /** A fixed pool of `threads` daemon threads for `runFull`'s
    * concurrent stages. Once a task fails no queued task starts, but
    * running tasks are never interrupted. [[join]] waits until every
    * pool thread has exited, then rethrows the first failure as it
    * was thrown (not wrapped in an `ExecutionException`). */
  private final class StagePool(threads: Int) {
    import java.util.concurrent._
    private val failure = new atomic.AtomicReference[Throwable]()
    private val workers = new ConcurrentLinkedQueue[Thread]()
    private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, StageThreadPrefix + (workers.size + 1))
      t.setDaemon(true)
      workers.add(t)
      t
    })

    def submit[T](task: => T): Future[T] = pool.submit(new Callable[T] {
      def call(): T =
        if (failure.get != null) throw new CancellationException("an earlier stage failed")
        else try task catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
    })

    def join(): Unit = {
      pool.shutdown()
      // an interrupt of the waiting thread counts as the failure: no
      // queued task starts, and the running ones are still awaited
      workers.forEach { t =>
        while (t.isAlive)
          try t.join() catch { case e: InterruptedException => failure.compareAndSet(null, e) }
      }
      Option(failure.get).foreach(e => throw e)
    }
  }

  /** What one full-lifecycle run did — counts per stage, for tests
    * and operational logs. */
  final case class FullRunReport(
      runId: String, resolvedSeeds: Long, universeSize: Long,
      persisted: Map[String, (Long, Long)], martRows: Long, digests: Long,
      watermarkBefore: Long, watermarkAfter: Long)

  /** The COMPLETE E1 lifecycle (run_ac_extraction.py:1537-1703),
    * composed from the already-proven parts:
    *
    *   1. load keyset watermark state              (:1557-1559)
    *   2. seed resolve: emails → contact ids (J6)  (:1563-1568)
    *   3. incremental slice past the watermark(S5) (:1570-1573)
    *   4. universe = seed ∪ new, distinct,
    *      optional debug sample (U3/O2)            (:1576-1585)
    *   5. dims via the TTL cache                   (:1593)
    *   6. persist_table_dual per extracted table —
    *      the REST catalog stages first (when
    *      `acApiBase` is set), one at a time in
    *      declaration order, so the load on the
    *      external API is that of a sequential
    *      run; then 16 star-schema stages
    *      mirroring the reference's per-endpoint
    *      extract→persist breadth (:1605-1664):
    *      contacts; the combined activities stage
    *      + FIVE per-endpoint activity splits;
    *      orders (+ the dim-enriched variant, E2);
    *      the two-level deal-bundle fan-out
    *      (parent deals → child notes/tasks/
    *      activities, parent-FK stamped,
    *      :836-861); the per-contact sorted TAG
    *      SET and latest SCORE rollups
    *      (:1455-1474); and the dim_* stages the
    *      reference persists each run
    *   7. chatter mart + per-contact digest CSV/
    *      TXT sink (E3/S9), run CONCURRENTLY with
    *      the 16 star-schema stages           (:1666-1692)
    *   8. watermark advance — from the durably
    *      WRITTEN contacts delta, once every
    *      stage and the mart are done          (:1696-1700)
    *
    * Concurrency (steps 6–7): the reference persists one endpoint at
    * a time because pandas is single-threaded; here the star-schema
    * stages and the mart go to ONE fixed pool of
    * `spark.sparkContext.defaultParallelism` daemon threads, mart
    * first (it is the longest path). Their order was never a
    * correctness input: each stage writes only its own table through
    * an idempotent, content-hash-deduped sink — Structured
    * Streaming's exactly-once recipe (replayable source + idempotent
    * sink). On the first failure no queued stage starts; running
    * stages finish and are never interrupted (a full-rewrite persist
    * cut between its raw delete and its rename would lose
    * master/raw); then `runFull` rethrows the original throwable. The
    * watermark does not advance and the resume ledger keeps every
    * stage that completed.
    *
    * `stageHook(table)` fires after each stage that persisted in this
    * call (a resumed stage does not fire it), right after its ledger
    * entry is written. Calls are serialized under one lock — a hook
    * is never entered concurrently — and come in completion order,
    * which for the star-schema stages varies from run to run. A hook
    * that throws fails the run like a failing stage (the stage stays
    * ledgered). RunPipelineSpec uses it to kill a run mid-catalog.
    *
    * Fact stages read the testdata star schema (the reference's 18
    * REST extracts ≙ events/orders fan-out, FIXTURES.md); the
    * contacts collection is the DSv2 paged source, so the incremental
    * scan is a planning-time page prune exactly like production
    * keyset pagination. Re-running with unchanged upstream is a
    * no-op on every master/raw (watermark + content-hash dedup — the
    * reference's two idempotence mechanisms, composed).
    */
  def runFull(spark: SparkSession, outRoot: String, sfDir: String,
              totalRows: Long, nowUtc: String,
              seedEmails: Seq[String] = Nil,
              sampleSize: Option[Int] = None,
              dimTtlDays: Int = 7,
              acApiBase: Option[String] = None,
              acFanouts: Seq[String] = Seq("email_activities", "contact_notes"),
              stageHook: String => Unit = _ => ()): FullRunReport = {
    import graft.ops.Ops._
    import spark.implicits._
    val statePath = s"$outRoot/state.json"
    val state = Watermark.load(statePath)
    val runId = mkRunId(nowUtc, state.maxId)
    // per-endpoint resume (StageLedger scaladoc): a retry under the
    // SAME runId skips every already-persisted stage — its lazy delta
    // is never even planned, so no source scan / REST fetch happens
    val resumed = StageLedger.load(outRoot, runId)

    // ── contacts collection (DSv2 paged source) ──
    val contacts = spark.read.format("graft.sources.PagedSource")
      .option("totalrows", totalRows.toString).option("pagelimit", "100").load()

    // 2. seed resolve (J6): the seed list arrives as emails; the
    // collection's derived email is the join key, unresolvable seeds
    // drop (the reference keeps only rows that resolved an id)
    val withEmail = contacts.withColumn("email",
      concat(lower(col("name")), lit("@x.test")))
    val seedResolved = broadcast(seedEmails.toDF("email"))
      .join(withEmail, Seq("email"), "inner")
    val nSeeds = seedResolved.count()

    // 3. the incremental slice — pushed into the source as a keyset
    // page prune, so pre-watermark pages are never fetched
    val slice = Watermark.incrementalSlice(contacts, "id", state)

    // 4. universe: seed ∪ new, one row per contact, ordered with an
    // optional debug sample bound. CACHED: the universe gates every
    // downstream stage (4 persists + the mart semi-join) — without a
    // cache each action re-resolves the seed join and re-fetches the
    // paged source (the REST re-fetch trap PersistTableDual's delta
    // read-back exists to avoid).
    val delta0 = alignUnion(seedResolved.drop("email"), slice)
      .dropDuplicates("id")
    val contactsDelta =
      sampleSize.fold(delta0)(n => delta0.orderBy("id").limit(n)).cache()
    var dealChildren: org.apache.spark.sql.DataFrame = null
    var eventsSlice: org.apache.spark.sql.DataFrame = null
    try {
    val universe = contactsDelta.select(col("id").as("contact_id"))
    val universeSize = universe.count()

    // 5. dims through the TTL cache (load_all_dims :1593)
    val dims = s"$outRoot/dims"
    val nowInstant = java.time.Instant.parse(nowUtc)
    val nation = DimCache.loadOrRefreshDim(spark, dims, "nation",
      () => Tables.t(spark, sfDir, "nation"), dimTtlDays, nowInstant)
    val region = DimCache.loadOrRefreshDim(spark, dims, "region",
      () => Tables.t(spark, sfDir, "region"), dimTtlDays, nowInstant)

    // 6. persist stages (each one is the proven E2 merge). `delta` is
    // BY-NAME: a ledgered (resumed) stage returns its recorded counts
    // without constructing the plan at all — for fan-out endpoints
    // that means zero REST fetches, for star stages zero scans. The
    // ledger entry and the hook share one lock: concurrent stages
    // complete in any order, but the hook is never entered concurrently.
    val completion = new Object
    def stage(table: String, delta: => org.apache.spark.sql.DataFrame,
              keys: Seq[String], updatedAt: String): (String, (Long, Long)) =
      resumed.get(table) match {
        case Some(counts) => table -> counts
        case None =>
          val counts = PersistTableDual.persist(spark,
            PersistTableDual.Paths(outRoot, table), delta, runId, nowUtc,
            keys, updatedAt)
          completion.synchronized {
            StageLedger.markDone(outRoot, runId, table, counts)
            stageHook(table)
          }
          table -> counts
      }

    // CACHED: the universe-bounded events slice feeds the combined
    // activities stage, the five per-endpoint splits, and the
    // tag-set/score rollups — eight actions over one semi-join
    val events = Tables.t(spark, sfDir, "events")
      .join(universe, col("user_id") === col("contact_id"), "left_semi")
      .cache()
    eventsSlice = events
    val orders = Tables.t(spark, sfDir, "orders")
      .join(universe, col("o_custkey") === col("contact_id"), "left_semi")
    // the dim-enriched stage (enrich_email_activities :1612): orders
    // carry their customer's nation name via broadcast dim chain
    val customerFk = Tables.t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val ordersEnriched = mapLookup(
      orders.join(broadcast(customerFk),
        col("o_custkey") === col("c_custkey"), "left").drop("c_custkey"),
      nation, col("c_nationkey"), "n_nationkey", "n_name", "nation_name")
      .drop("c_nationkey")

    // deal-bundle stage (run_deals_bundle :836-861): two-level
    // fan-out — the run's parent deal list (its universe-bounded
    // orders) drives the child extract, and every child row is
    // stamped with BOTH parent FKs (deal_id + contact_id) at extract
    // time, exactly like the reference stamps deal_id/contact_id into
    // each fetched note/task/activity. One lineitem pass (cached),
    // split by row type — returnflag R/A/N ≙ notes/tasks/activities.
    val dealKeys = orders.select(col("o_orderkey"), col("o_custkey"))
    val dealLines = Tables.t(spark, sfDir, "lineitem")
      .join(dealKeys, col("l_orderkey") === col("o_orderkey"))
      .withColumn("deal_id", col("l_orderkey").cast("string"))
      .withColumn("contact_id", col("o_custkey").cast("string"))
      .drop("o_orderkey", "o_custkey")
      .cache()
    dealChildren = dealLines
    def childStage(table: String, flag: String) =
      stage(table, dealLines.filter(col("l_returnflag") === flag),
        Seq("deal_id", "l_linenumber"), "l_shipdate")

    // per-contact TAG SET (the reference's sorted tag/list/automation
    // sets, :1455-1474): one map-side-combined collect_set rollup
    val contactTags = events.groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("tags"),
        max(col("ts")).as("last_seen"))
      .select(col("user_id").cast("string").as("contact_id"),
        col("tags"), col("last_seen"))

    // per-contact latest SCORE (the scores endpoint, A2 latest-
    // snapshot semantics: newest event's value wins, id tiebreak)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val contactScores = events
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("user_id").cast("string").as("contact_id"),
        col("value").as("score"), col("ts").as("scored_at"))

    // dim persist stages (the reference persists every dim_* each
    // run, README star schema): no natural timestamp — the stamped
    // extracted_at drives latest-resolution, and unchanged re-extracts
    // are absorbed by the content-hash dedup
    def dimStage(table: String, df: org.apache.spark.sql.DataFrame,
                 key: String) =
      stage(table, df, Seq(key), "extracted_at")

    // ── catalog-driven REST extract stages (the production path:
    // sources/AcEndpoints × FanoutExtract × DimCache, feeding the
    // SAME E2 merge as every star-schema stage). `acApiBase` points
    // at a live v3 API (tests: the loopback stub):
    //   • every cacheable dim collection loads through the TTL cache
    //     from its catalog row (load_all_dims :390-407); a dim the
    //     account lacks caches EMPTY (404→empty, S7) and simply
    //     produces no persist stage — nothing to merge;
    //   • each `acFanouts` endpoint (PathId or QueryId) fans out
    //     across this run's universe as a distributed per-entity walk
    //     (FanoutExtract), every row stamped with its driving id —
    //     run_ac_extraction.py:422-441's N+1 loops, cluster-shaped.
    // Catalog rows are all-string `dict(it)` payloads with no
    // uniform update-time column, so latest-resolution rides the
    // stamped extracted_at (newest run wins) and unchanged
    // re-extracts are absorbed by the content-hash dedup — the same
    // discipline as the dim_* stages.
    val acStages: Map[String, (Long, Long)] = acApiBase match {
      case None => Map.empty
      case Some(base) =>
        val acDims = DimCache.loadAcDims(spark, dims, base, dimTtlDays, nowInstant)
        val dimStages = acDims.toSeq.collect {
          case (name, df) if !df.isEmpty => dimStage(s"dim_$name", df, "id")
        }
        val idsDs = universe.select(col("contact_id").cast("string")).as[String]
        val fanStages = acFanouts.map { epName =>
          val ep = graft.sources.AcEndpoints.byName(epName)
          stage(epName,
            graft.sources.FanoutExtract.fanout(idsDs, ep, base),
            Seq("driving_id", "id"), "extracted_at")
        }
        (dimStages ++ fanStages).toMap
    }

    // per-endpoint activity splits (the reference extracts ONE table
    // per REST endpoint — email opens/clicks/site visits/logs/goals,
    // run_ac_extraction.py:1605-1664): same cached slice, one filter
    // + persist per type
    val typedStages = Seq("click", "view", "signup", "purchase", "error")
      .map(tpe => () => stage(s"activity_$tpe",
        events.filter(col("event_type") === tpe), Seq("event_id"), "ts"))
    val starStages = typedStages ++ Seq(
      () => stage("contacts",
        contactsDelta.withColumn("contact_id", col("id").cast("string")),
        Seq("contact_id"), "updated_at"),
      () => stage("activities", events, Seq("event_id"), "ts"),
      () => stage("orders", orders, Seq("o_orderkey"), "o_orderdate"),
      () => stage("orders_enriched", ordersEnriched, Seq("o_orderkey"), "o_orderdate"),
      () => childStage("deal_notes", "R"),
      () => childStage("deal_tasks", "A"),
      () => childStage("deal_activities", "N"),
      () => stage("contact_tags", contactTags, Seq("contact_id"), "last_seen"),
      () => stage("contact_scores", contactScores, Seq("contact_id"), "scored_at"),
      () => dimStage("dim_nation", nation, "n_nationkey"),
      () => dimStage("dim_region", region, "r_regionkey"))

    // 7. mart + digest (E3): flagship chatter master bounded to this
    // run's universe, written as the readable master file, plus the
    // per-contact digest in CSV and one-TXT-per-contact form (S9).
    // Returns (mart rows, digests read back).
    def martAndDigest(): (Long, Long) = {
      // CACHED: the mart (the heaviest plan in the repo) feeds the CSV
      // write, the digest aggregation, and the display lookup — three
      // actions that would otherwise each recompute it from scratch.
      val mart = ChatterMaster.chatterMaster(spark, sfDir)
        .join(universe, Seq("contact_id"), "left_semi").cache()
      try {
        val martDir = s"$outRoot/master/mart"
        mart.write.mode("overwrite").option("header", "true")
          .csv(s"$martDir/chatter_master")
        val martRows = mart.count()

        val digestCore = mart.select(col("contact_id"),
          struct(col("event_ts").as("ets"), xxhash64(col("event_id")).as("event_id"),
            col("event_type"), col("chatter_line").as("line")).as("ev"))
          .as[(Long, graft.ops.DigestEvent)]
          .groupByKey(_._1).mapValues(_._2)
          .agg(new graft.ops.DigestAgg(5).toColumn)
          .toDF("contact_id", "out")
        val display = mart.select(col("contact_id"), col("contact_display")).distinct()
        val digests = digestCore.join(broadcast(display), Seq("contact_id"))
          .select(col("contact_id"),
            concat(col("contact_display"), lit(" ["), col("out.types"),
              lit("]\n"), col("out.tail")).as("digest"))
        digests.write.mode("overwrite").option("header", "true")
          .csv(s"$martDir/contact_digest")
        ChatterMaster.writeDigestTxt(digests, s"$martDir/contact_digest_txt")
        // multiLine: digest bodies embed newlines (CSV-quoted on write) —
        // a plain line-splitting read would miscount records
        val nDigests = spark.read.option("header", "true")
          .option("multiLine", "true").csv(s"$martDir/contact_digest").count()
        (martRows, nDigests)
      } finally mart.unpersist() // a leaked cached mart would pin
                                 // executor memory across retries
    }

    // steps 6–7 on one pool (scaladoc "Concurrency"); join() runs in
    // the finally, so no stage is still running when the caches below
    // are unpersisted
    val pool = new StagePool(spark.sparkContext.defaultParallelism)
    val (martRun, starRuns) =
      try (pool.submit(martAndDigest()), starStages.map(s => pool.submit(s())))
      finally pool.join()
    val (martRows, nDigests) = martRun.get()
    val persisted = acStages ++ starRuns.map(_.get())

    // 8. advance the watermark from the durably WRITTEN contacts
    // delta (never from a re-scan of the live source — upstream may
    // have grown since, and skipping unpersisted ids loses them)
    val writtenDelta = spark.read.parquet(
      PersistTableDual.Paths(outRoot, "contacts").delta(runId))
    val advanced = Watermark.advance(writtenDelta, "id", state, nowUtc)
    Watermark.save(statePath, advanced)
    // run complete — the per-endpoint resume ledger describes only
    // in-flight runs, and a stale one must not shadow the next retry
    StageLedger.clear(outRoot)

    FullRunReport(runId, nSeeds, universeSize, persisted, martRows, nDigests,
      state.maxId, advanced.maxId)
    } finally {
      // unpersist even on failure — leaked caches would pin executor
      // memory for the session's lifetime across retries
      if (dealChildren != null) dealChildren.unpersist()
      if (eventsSlice != null) eventsSlice.unpersist()
      contactsDelta.unpersist()
    }
  }

  /** The streaming analog of the lifecycle's contacts stage
    * (SURVEY.md §2.9): the DSv2 paged source consumed as a
    * MICRO-BATCH STREAM — the checkpoint's committed keyset offsets
    * replace `state.json` (same watermark semantics, engine-managed)
    * — flowing through the PARTITION-SCOPED dual merge, so each
    * trigger merges O(batch) rows and swaps only the partitions its
    * rows land in, never the whole lake.
    *
    * `Trigger.AvailableNow` (set inside persistDualSink) makes one
    * call ≙ one cron-style incremental run: it drains everything past
    * the committed offset and stops. Re-running after upstream grew
    * resumes from the checkpoint and ingests only the delta;
    * re-running with unchanged upstream plans zero batches. Run ids
    * are the engine's batchIds (monotonic across restarts via the
    * checkpoint), so every micro-batch keeps its own replayable delta
    * dir exactly like the batch lifecycle's runs/<run_id>/delta.
    *
    * `bucketSpan`: ids are bucketed by `floor(id / bucketSpan)` — a
    * pure function of the key, satisfying the partitionScoped
    * key-functional contract; a keyset-ordered source then touches
    * only the tail bucket(s) per batch. */
  def runStreamingOnce(spark: SparkSession, outRoot: String,
                       sourceOpts: Map[String, String], extractedAt: String,
                       bucketSpan: Long = 64L): Unit = {
    val contacts = spark.readStream.format("graft.sources.PagedSource")
      .options(sourceOpts).load()
      .withColumn("contact_id", col("id").cast("string"))
      // integer `div`, not `/`: Spark's `/` on longs is DOUBLE
      // division, so cast("long") would truncate a double and ids
      // above 2^53 could land in the wrong bucket
      .withColumn("bucket", expr(s"id div $bucketSpan"))
    val q = graft.streaming.EventStream.persistDualSink(
      contacts, outRoot, "contacts", s"$outRoot/checkpoint",
      Seq("contact_id"), "updated_at", extractedAt,
      partitionCols = Seq("bucket"), partitionScoped = true).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  def main(args: Array[String]): Unit = {
    val outRoot = args(0)
    val totalRows = if (args.length > 1) args(1).toLong else 300L
    val spark = Sessions.local("graft-run-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    val before = Watermark.load(s"$outRoot/state.json").maxId
    // CLI runs stamp from the wall clock (the reference's
    // %Y%m%d_%H%M%S run id) — a constant default here would collide
    // run ids whenever the watermark doesn't advance and overwrite
    // the previous run's preserved delta dir. Tests inject fixed
    // stamps for replayability; each run still gets a distinct one.
    val runUtc = java.time.Instant.now().toString.replaceFirst("\\.\\d+", "")
    val (sliceN, rawN, latestN) = runOnce(spark, outRoot, totalRows, runUtc)
    val after = Watermark.load(s"$outRoot/state.json").maxId
    println(s"[pipeline] watermark $before -> $after; slice=$sliceN " +
      s"master/raw=$rawN master/latest=$latestN")
    spark.stop()
  }
}
