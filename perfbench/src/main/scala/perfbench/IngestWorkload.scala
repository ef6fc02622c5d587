package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{PersistTableDual, RunPipeline, Watermark}
import graft.streaming.{ContactEvent, DocStream, EventStream}

/** The write path, driven through its public entry points and timed
  * from outside.
  *
  * One cycle is six operations:
  *
  *  - `RunPipeline.runFull` over a 120-contact source into an empty root
  *    (the initial run), then again after the source grew by 5 % (the
  *    incremental run);
  *  - `RunPipeline.runStreamingOnce` twice into a bucketed lake: the
  *    load, then the same growth merged partition-scoped;
  *  - `DocStream.curatedIngestSink` and `EventStream.funnelChangelogStream`,
  *    AvailableNow over 16-file feeds staged from the lake, all 16 files
  *    in one micro-batch; the funnel keeps its state in RocksDB, which
  *    its column families need.
  *
  * Set-up is the session, the lake and the feeds, with no warm-up
  * cycle: every pipeline run in production is a JVM of its own
  * (RunPipeline.main), so users pay the cold cost each time. No query
  * of the registries runs here. */
object IngestWorkload {
  val LakeSf = "0.01"
  /** Contacts in the source at the initial run; the lake's events reach
    * 150 distinct contacts at this scale, so the incremental run's new
    * contacts have events, orders and deals. */
  val BaseContacts = 120L
  val GrownContacts: Long = BaseContacts + BaseContacts / 20
  val SeedEmails = Seq("row#3@x.test", "row#7@x.test")
  val FeedFiles = 16
  val FilesPerTrigger = 16
  /** runStreamingOnce's default bucket width. */
  val BucketSpan = 64L

  final case class Feeds(docs: String, docSchema: StructType, evalShingles: DataFrame,
                         events: String, eventSchema: StructType,
                         nDocs: Long, nEvents: Long, nUsers: Long)

  /** Stages both feeds with perfbench/stage_feeds.py (16 files each,
    * in id order) and the curated stream's decontamination eval set. */
  def stageFeeds(spark: SparkSession, repo: String, lake: String, work: String): Feeds = {
    Main.python(work, "stage_feeds", s"$repo/perfbench/stage_feeds.py", lake, work, FeedFiles.toString)
    val docs = spark.read.parquet(s"$work/docfeed")
    val evalShingles = graft.text.NearDup.shinglesN(
      docs.filter(col("doc_id") % 211 === 7).select("doc_id", "text"),
      "doc_id", "text", 4).select("sh").cache()
    evalShingles.count()
    val events = spark.read.parquet(s"$work/evfeed")
    Feeds(s"$work/docfeed", docs.schema, evalShingles, s"$work/evfeed", events.schema,
      docs.count(), events.count(), events.select("contact_id").distinct().count())
  }

  /** Run stamps come from the seed: day `seed mod 365` of 2026 for the
    * load, the next day for the incremental run. */
  def stamps(seed: Long): (String, String) = {
    val d0 = java.time.LocalDate.of(2026, 1, 1).plusDays(Math.floorMod(seed, 365L))
    (s"${d0}T00:00:00Z", s"${d0.plusDays(1)}T00:00:00Z")
  }

  final case class Cycle(ops: Seq[(String, Double)], failures: Seq[String],
                         facts: Map[String, Double], observed: Seq[(String, Long)])

  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
  }

  /** Parquet files under a dir, keyed by relative path, with length and
    * MD5, to tell which files a merge left byte-identical. */
  private def inventory(path: String): Map[String, (Long, String)] = {
    val base = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val st = java.nio.file.Files.walk(base)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        base.relativize(p).toString -> (java.nio.file.Files.size(p), md5)
      }.toMap
      finally st.close()
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** runFull with its stage boundaries recorded through `stageHook`. */
  final case class FullRun(report: RunPipeline.FullRunReport, seconds: Double,
                           span: Int, hooks: Seq[(String, Long)])

  private def runFull(spark: SparkSession, root: String, lake: String, rows: Long,
                      now: String, label: String, trace: Option[(Tracer, SparkTap)]): FullRun = {
    val hooks = new ArrayBuffer[(String, Long)]()
    val hook: String => Unit = trace.fold((_: String) => ())(t => (s: String) => hooks += s -> t._1.now())
    val span = trace.fold(-1)(_._1.open(s"runFull/$label"))
    val t0 = System.nanoTime()
    val r = try RunPipeline.runFull(spark, root, lake, totalRows = rows, nowUtc = now,
      seedEmails = SeedEmails, stageHook = hook)
    finally trace.foreach(_._1.close(span))
    FullRun(r, (System.nanoTime() - t0) / 1e9, span, hooks.toSeq)
  }

  /** Children of a traced runFull span: pre_stage, stage/<name> and
    * mart. The first stage begins when its delta write starts, which
    * the listener sees as a SQL execution start; every later stage
    * begins where the previous one's hook fired. Returns the children's
    * seconds keyed as pipeline.<label>.* metrics. */
  private def stageSpans(tr: Tracer, tap: SparkTap, label: String, run: FullRun): Map[String, Double] = {
    val s = tr.spans(run.span)
    if (run.hooks.isEmpty) return Map.empty
    val (first, firstEnd) = run.hooks.head
    val firstStart = tap.synchronized(tap.sqlStarts.toSeq).filter(_.plan.contains(s"/delta/$first"))
      .map(_.ms * 1000000L).filter(t => t >= s.start && t <= firstEnd)
      .minOption.getOrElse(s.start)
    tr.add("pre_stage", run.span, s.start, firstStart)
    run.hooks.foldLeft(firstStart) { case (from, (name, at)) =>
      tr.add(s"stage/$name", run.span, from, at); at
    }
    tr.add("mart", run.span, run.hooks.last._2, s.end)
    tr.children(run.span).map { c =>
      val key = if (c.name.startsWith("stage/")) s"stage_s.${c.name.stripPrefix("stage/")}" else s"${c.name}_s"
      s"pipeline.$label.$key" -> c.dur / 1e9
    }.toMap
  }

  private def progressFacts(q: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = Layers.median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ops = ps.flatMap(_.stateOperators)
    Map(
      s"streaming.$q.add_batch_ms_p50" -> dur("addBatch"),
      s"streaming.$q.query_planning_ms_p50" -> dur("queryPlanning"),
      s"streaming.$q.wal_commit_ms_p50" -> dur("walCommit"),
      s"streaming.$q.state_commit_ms_p50" -> Layers.median(ps.map(p =>
        p.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      s"streaming.$q.state_rows_max" -> ops.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble,
      s"streaming.$q.state_memory_bytes_max" ->
        ops.map(_.memoryUsedBytes).foldLeft(0L)(math.max).toDouble,
      s"streaming.$q.batches" -> ps.size.toDouble)
  }

  private def batchSpans(tr: Tracer, root: Int, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tr.add(s"batch/${p.batchId}", root, startNs, startNs + ms * 1000000L)
    }

  /** The loads the incremental operations start from. */
  final case class Base(initial: FullRun, loadS: Double)

  private def scopedOnce(spark: SparkSession, root: String, rows: Long, now: String): Unit =
    RunPipeline.runStreamingOnce(spark, root,
      Map("totalrows" -> rows.toString, "pagelimit" -> "500"), now)

  /** The initial runFull and the bucketed lake's first load. */
  def prepare(spark: SparkSession, lake: String, dir: String, seed: Long,
              trace: Option[(Tracer, SparkTap)]): Base = {
    val (now1, _) = stamps(seed)
    graft.sources.FixtureBackend.reset()
    val initial = runFull(spark, s"$dir/lifecycle", lake, BaseContacts, now1, "initial", trace)
    graft.sources.FixtureBackend.reset()
    val (_, loadS) = timed(scopedOnce(spark, s"$dir/scoped", BaseContacts, now1))
    Base(initial, loadS)
  }

  def observedInitial(b: Base): Seq[(String, Long)] = {
    val r = b.initial.report
    r.persisted.toSeq.sortBy(_._1).map { case (k, v) => s"initial.$k.raw" -> v._1 } ++
      Seq("initial.universe" -> r.universeSize, "initial.watermark_before" -> r.watermarkBefore,
        "initial.watermark_after" -> r.watermarkAfter, "initial.mart_rows" -> r.martRows,
        "initial.stages" -> r.persisted.size.toLong)
  }

  /** Compares observed values with the expected file's, key by key:
    * a missing or extra key is a failure too. */
  def compare(observed: Seq[(String, Long)], expected: Map[String, Long], prefix: String): Seq[String] = {
    val got = observed.toMap
    (got.keySet ++ expected.keySet.filter(_.startsWith(prefix))).toSeq.sorted
      .flatMap(k => Checks.equal(s"ingest $k", got.get(k), expected.get(k)))
  }

  /** One cycle in an empty `root`. */
  def cycle(spark: SparkSession, lake: String, feeds: Feeds, root: String,
            seed: Long, expected: Option[Map[String, Long]],
            trace: Option[(Tracer, SparkTap)]): Cycle = {
    import spark.implicits._
    val (now1, now2) = stamps(seed)
    val base = prepare(spark, lake, root, seed, trace)
    val lc = s"$root/lifecycle"
    val failures = new ArrayBuffer[String]()
    failures ++= expected.toSeq.flatMap(compare(observedInitial(base), _, "initial."))
    def span[T](name: String)(f: => T): (T, Int) = trace match {
      case Some((tr, _)) => val id = tr.open(name); (try f finally tr.close(id), id)
      case None => (f, -1)
    }

    val sliceS = trace.map { _ =>
      // the sources layer alone: load plus incremental slice at the
      // state the incremental run starts from
      val state = Watermark.load(s"$lc/state.json")
      timed(span("sources/paged_slice") {
        val contacts = spark.read.format("graft.sources.PagedSource")
          .option("totalrows", GrownContacts.toString).option("pagelimit", "100").load()
        Watermark.incrementalSlice(contacts, "id", state).count()
      })._2
    }
    graft.sources.FixtureBackend.reset()
    val incr = runFull(spark, lc, lake, GrownContacts, now2, "incr", trace)
    val r2 = incr.report

    // O(delta): the universe against the rows this run wrote to its
    // contacts delta dir
    val contactsDelta = spark.read.parquet(PersistTableDual.Paths(lc, "contacts").delta(r2.runId)).count()
    failures ++= Checks.oDelta(r2.universeSize, contactsDelta,
      GrownContacts - BaseContacts, SeedEmails.size)

    // the partition-scoped merge
    val sc = s"$root/scoped"
    val rawDir = s"$sc/master/raw/contacts"
    val inv1 = inventory(rawDir)
    val before = spark.read.parquet(rawDir).select("id", "bucket").as[(Long, Long)].collect().toMap
    graft.sources.FixtureBackend.reset()
    val (_, mergeS) = timed(span("scoped/merge")(scopedOnce(spark, sc, GrownContacts, now2)))
    val inv2 = inventory(rawDir)
    val after = spark.read.parquet(rawDir).select("id", "bucket").as[(Long, Long)].collect().toMap
    val changed = inv2.keySet.filter(k => !inv1.get(k).contains(inv2(k))) ++ (inv1.keySet -- inv2.keySet)
    val touched = changed.flatMap(_.split('/').find(_.startsWith("bucket=")))
      .map(_.stripPrefix("bucket=").toLong)
    val newRows = (after.keySet -- before.keySet).size.toLong
    val deltaBuckets = (after -- before.keySet).values.toSet
    val mergeInput = before.values.count(touched.contains).toLong + newRows
    val untouched = inv1.keySet.intersect(inv2.keySet).count(k => inv1(k) == inv2(k))
    failures ++= Checks.scopedMerge(touched, deltaBuckets, mergeInput, newRows, BucketSpan, untouched)

    // the curated ingest stream
    val docStream = spark.readStream.schema(feeds.docSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(feeds.docs)
    val ((curatedProgress, curatedRoot), curatedS) = timed(span("stream/curated") {
      val q = withStateStore(spark, None)(DocStream.curatedIngestSink(docStream, feeds.evalShingles,
        s"$root/curated", "docs", s"$root/ckpt_docs", "ingest_ts", "10 minutes", extractedAt = now1).start())
      try q.awaitTermination() finally if (q.isActive) q.stop()
      q.recentProgress.toSeq
    })
    val curatedRows = spark.read.parquet(s"$root/curated/master/latest/docs").count()

    // the funnel changelog stream
    val evStream = spark.readStream.schema(feeds.eventSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(feeds.events).as[ContactEvent]
    val ((funnelProgress, funnelRoot), funnelS) = timed(span("stream/funnel") {
      val q = withStateStore(spark, RocksDb)(EventStream.funnelChangelogStream(evStream).writeStream
        .outputMode(OutputMode.Update).option("checkpointLocation", s"$root/ckpt_funnel")
        .trigger(Trigger.AvailableNow()).format("noop").start())
      try q.awaitTermination() finally if (q.isActive) q.stop()
      q.recentProgress.toSeq
    })
    val funnelState = funnelProgress.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    failures ++= Checks.equal("funnel final state rows vs distinct users", funnelState, feeds.nUsers)

    val observed: Seq[(String, Long)] = observedInitial(base) ++
      r2.persisted.toSeq.sortBy(_._1).map { case (k, v) => s"incr.$k.raw" -> v._1 } ++
      Seq("incr.universe" -> r2.universeSize, "incr.contacts_delta_rows" -> contactsDelta,
        "incr.watermark_before" -> r2.watermarkBefore, "incr.watermark_after" -> r2.watermarkAfter,
        "incr.mart_rows" -> r2.martRows, "incr.stages" -> r2.persisted.size.toLong,
        "scoped.new_rows" -> newRows, "scoped.lake_rows" -> after.size.toLong,
        "curated.rows" -> curatedRows)
    expected.foreach(e => failures ++= compare(observed, e, "incr.") ++
      compare(observed, e, "scoped.") ++ compare(observed, e, "curated."))

    val facts = trace.fold(Map.empty[String, Double]) { case (tr, tap) =>
      SparkTap.drain(spark)
      batchSpans(tr, curatedRoot, curatedProgress)
      batchSpans(tr, funnelRoot, funnelProgress)
      val incrRoot = tr.spans(incr.span)
      def delta(s: String) = PersistTableDual.Paths(lc, s).delta(r2.runId)
      val deltaRows = Layers.stages.map(s => s -> spark.read.parquet(delta(s)).count()).toMap
      val deltaBytes = Layers.stages.map(s => dirBytes(delta(s))).sum
      val absorbed = Layers.stages.map(s =>
        base.initial.report.persisted(s)._1 + deltaRows(s) - r2.persisted(s)._1).sum
      val inIncr = tap.synchronized(tap.tasks.toSeq).filter(t =>
        t.endMs * 1000000L >= incrRoot.start && t.endMs * 1000000L <= incrRoot.end)
      stageSpans(tr, tap, "initial", base.initial) ++ stageSpans(tr, tap, "incr", incr) ++ Map(
        "pipeline.initial_run_s" -> base.initial.seconds,
        "sources.paged_slice_s" -> sliceS.getOrElse(0.0),
        "pipeline.incr_run_s" -> incr.seconds,
        "pipeline.incr.delta_rows" -> deltaRows.values.sum.toDouble,
        "pipeline.incr.dedup_absorbed_rows" -> absorbed.toDouble,
        "pipeline.incr.read_amplification" ->
          inIncr.map(_.recordsRead).sum.toDouble / math.max(1L, deltaRows.values.sum),
        "pipeline.incr.write_amplification" ->
          inIncr.map(_.bytesWritten).sum.toDouble / math.max(1L, deltaBytes),
        "pipeline.lake_bytes" -> dirBytes(s"$lc/master").toDouble,
        "pipeline.scoped_merge_s" -> mergeS,
        "pipeline.scoped_input_over_delta" -> mergeInput.toDouble / math.max(1L, newRows),
        "streaming.curated_rows_per_s" -> feeds.nDocs / curatedS,
        "streaming.funnel_rows_per_s" -> feeds.nEvents / funnelS,
        "streaming.curated_batch_p50_ms" -> Layers.median(curatedProgress.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)))) ++
        progressFacts("curated", curatedProgress) ++ progressFacts("funnel", funnelProgress)
    }
    val ops = Seq("initial" -> base.initial.seconds, "incr" -> incr.seconds,
      "scoped_load" -> base.loadS, "scoped_merge" -> mergeS, "curated" -> curatedS, "funnel" -> funnelS)
    Cycle(ops, failures.toSeq, facts, observed)
  }

  private val StateStore = "spark.sql.streaming.stateStore.providerClass"

  /** funnelChangelogStream keeps its state in several column families,
    * which only the RocksDB state store provides; the curated stream
    * keeps Spark's default store. A query reads the setting when it
    * starts. */
  private def withStateStore[T](spark: SparkSession, provider: Option[String])(f: => T): T = {
    provider.fold(spark.conf.unset(StateStore))(spark.conf.set(StateStore, _))
    try f finally spark.conf.unset(StateStore)
  }
  private val RocksDb = Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def expectedPath(repo: String): String = s"$repo/perfbench/expected/ingest.json"

  def loadExpected(repo: String): Map[String, Long] =
    Json.read(expectedPath(repo)).get("values").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  /** Set-up (session, lake, feeds), then cycles until `seconds` have
    * passed, at least one. */
  def run(seed: Long, seconds: Double, traced: Boolean, repo: String, work: String,
          launchMs: Long): java.util.Map[String, AnyRef] = {
    val expected = loadExpected(repo)
    val spark = Main.session()
    val tracer = new Tracer(s"ingest-$seed-$launchMs")
    val tap = new SparkTap
    if (traced) spark.sparkContext.addSparkListener(tap)
    val trace = if (traced) Some(tracer -> tap) else None
    val lake = Main.genLake(repo, work, LakeSf)
    val feeds = stageFeeds(spark, repo, lake, work)
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    val cycles = new ArrayBuffer[Cycle]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (cycles.isEmpty || System.nanoTime() < deadline)
      cycles += cycle(spark, lake, feeds, s"$work/ingest/c${cycles.size}", seed, Some(expected), trace)
    val failures = cycles.toSeq.flatMap(_.failures)
    val perOp = cycles.toSeq.flatMap(_.ops).groupBy(_._1).map { case (k, v) => k -> Layers.median(v.map(_._2)) }
    val metrics =
      if (!traced) Main.endToEnd(setupS, perOp.values.toSeq)
      else {
        SparkTap.drain(spark)
        val n = cycles.size.toDouble
        val facts = cycles.toSeq.flatMap(_.facts).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / n }
        val isRunFull = (s: Span) => s.name.startsWith("runFull/")
        val layers = facts ++
          Layers.sparkCounts(tracer, tap, _ => true, spark.sparkContext.defaultParallelism)
            .map { case (k, v) => k -> (if (k.endsWith("frac") || k.contains("peak")) v else v / n) } ++
          Map("tables.t_call_ms" -> Layers.tablesCallMs(spark, lake),
            "trace.sweep_s" -> perOp.values.sum,
            "trace.unaccounted_frac" -> Layers.unaccounted(tracer, isRunFull))
        Layers.all.map(k => (k._1, layers.getOrElse(k._1, 0.0), k._2))
      }
    val coverage =
      if (traced && Layers.unaccounted(tracer, _.name.startsWith("runFull/")) > Layers.UnaccountedTolerance)
        Seq("trace: runFull child spans leave more than 5 % of its wall time unexplained")
      else Nil
    if (traced) Json.writeFile(s"$work/trace-ingest-$seed.json", tracer.toJson)
    (failures ++ coverage).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
    Main.Result(cycles.size * 6, failures ++ coverage, metrics).toJson
  }

  /** Runs `passes` cycles and writes the values every later run is
    * checked against; the cycles must agree. */
  def expect(passes: Int, repo: String, work: String): Unit = {
    val spark = Main.session()
    val lake = Main.genLake(repo, work, LakeSf)
    val feeds = stageFeeds(spark, repo, lake, work)
    val runs = (1 to passes).map { i =>
      val c = cycle(spark, lake, feeds, s"$work/ingest/e$i", i, None, None)
      require(c.failures.isEmpty, c.failures.mkString("; "))
      c.observed
    }
    require(runs.distinct.size == 1, "cycles disagree")
    Json.writeFile(expectedPath(repo), Json.obj(
      "lake" -> s"tools/gen_sf.py $LakeSf (seed 42)", "cycles" -> Int.box(passes),
      "values" -> Json.obj(runs.head.map { case (k, v) => k -> Long.box(v) }: _*)))
    spark.stop()
  }
}
