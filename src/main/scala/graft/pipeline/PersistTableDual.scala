package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ops._

/** E2 `persist_table_dual` (run_ac_extraction.py:134-188), the merge
  * path every extracted table flows through, re-expressed as one
  * Spark job over a parquet lake:
  *
  *   delta(+lineage) → write runs/<runId>/delta/<table>
  *   raw' = dedup_by_content_hash(raw ∪ delta)  → rewrite master/raw
  *   latest = latest_per_key(raw')              → rewrite master/latest
  *
  * Idempotence is the contract: re-persisting the same delta leaves
  * master/raw unchanged (content-hash dedup absorbs redelivery —
  * the reference's exactly-once-effect-from-at-least-once-input,
  * SURVEY.md §2.9).
  *
  * Scale notes: the union is plan-level; the only wide ops are the
  * hash dedup (one shuffle on an md5 key — uniform by construction)
  * and the latest-per-key window (one shuffle on the business key).
  * At 100 TB the full-raw rewrite becomes the bottleneck — the layout
  * is partitioned so a real deployment rewrites only affected
  * partitions (or swaps in a MERGE-capable table format); the logical
  * plan here is unchanged by that choice.
  */
object PersistTableDual {

  final case class Paths(root: String, table: String) {
    def delta(runId: String) = s"$root/runs/$runId/delta/$table"
    val raw = s"$root/master/raw/$table"
    val latest = s"$root/master/latest/$table"
  }

  /** The on-disk layout schema with hive partition columns forced
    * back to their authoritative (delta-schema) types. */
  private def typedLayout(spark: SparkSession, paths: Paths,
                          authoritative: org.apache.spark.sql.types.StructType,
                          partitionCols: Seq[String],
                          knownSchema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    // base layout from the caller when it already has it (saves a
    // probe read's file listing + footer scan), else probe once
    val base = knownSchema.getOrElse(spark.read.parquet(paths.raw).schema)
    org.apache.spark.sql.types.StructType(base.map { f =>
      if (partitionCols.exists(_.equalsIgnoreCase(f.name)))
        authoritative.find(_.name.equalsIgnoreCase(f.name))
          .map(d => f.copy(dataType = d.dataType)).getOrElse(f)
      else f
    })
  }

  /** Read master/raw with hive partition columns forced back to their
    * authoritative (delta-schema) types: partition-value inference
    * would re-type string "07" as int 7 — the leading zero is already
    * gone after inference, so only an explicit read schema preserves
    * it. Case-insensitive name matching mirrors Spark's resolution. */
  private def readRawTyped(spark: SparkSession,
                           paths: Paths,
                           authoritative: org.apache.spark.sql.types.StructType,
                           partitionCols: Seq[String],
                           knownSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    if (partitionCols.isEmpty) spark.read.parquet(paths.raw)
    else spark.read
      .schema(typedLayout(spark, paths, authoritative, partitionCols, knownSchema))
      .parquet(paths.raw)
  }

  /** Lineage stamp (P1): constant run_id + extraction time. The
    * extractedAt literal is injected (not wall-clock) so runs are
    * replayable/deterministic. */
  def stampLineage(df: DataFrame, runId: String, extractedAt: String): DataFrame =
    df.withColumn("run_id", lit(runId))
      .withColumn("extracted_at", lit(extractedAt))

  private val lineageCols = Seq("run_id", "extracted_at")

  /** Relative hive partition dirs (e.g. "ym=2024-01", "a=1/b=2")
    * actually written under `root`, discovered by walking the layout
    * rather than re-implementing Spark's partition-value escaping.
    * Relative paths are assembled from `Path.getName` segments — a
    * URI round-trip (`toUri.getPath` + prefix-stripping) can
    * decode/re-encode Hive-escaped `%XX` or space characters
    * inconsistently, mis-addressing dirs during swap/recovery. */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            depth: Int): Seq[String] = {
    def walk(p: org.apache.hadoop.fs.Path, d: Int, rel: List[String]): Seq[String] =
      if (d == 0) Seq(rel.reverse.mkString("/"))
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filter(_.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, d - 1, s.getPath.getName :: rel))
    walk(root, depth, Nil)
  }

  private def backupRoot(dst: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dst, "__swap_backup")

  /** Move every staged partition dir over its counterpart under
    * `dst`, leaving all other partitions' files untouched on disk
    * (same inodes — byte-identical, no rewrite). Crash-safe: the old
    * partition is RENAMED into a backup dir (not deleted) before the
    * staged one moves in, so at every instant the data exists
    * somewhere on disk; [[recoverInterruptedSwap]] heals a crash
    * between the two renames on the next run. Failures are checked:
    * Hadoop FileSystem signals most errors via `false` returns. */
  private def swapPartitions(fs: org.apache.hadoop.fs.FileSystem,
                             stage: org.apache.hadoop.fs.Path,
                             dst: org.apache.hadoop.fs.Path,
                             depth: Int): Unit = {
    val backup = backupRoot(dst)
    partitionDirs(fs, stage, depth).foreach { rel =>
      val from = new org.apache.hadoop.fs.Path(stage, rel)
      val to = new org.apache.hadoop.fs.Path(dst, rel)
      val bak = new org.apache.hadoop.fs.Path(backup, rel)
      if (fs.exists(to)) {
        fs.mkdirs(bak.getParent)
        if (!fs.rename(to, bak))
          throw new java.io.IOException(s"failed to back up old partition $to")
      }
      fs.mkdirs(to.getParent)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"failed to move $from into $to")
    }
    // all partitions are in place — the old copies can go
    fs.delete(backup, true)
    fs.delete(stage, true) // leftover _SUCCESS / empty scaffolding
  }

  /** Heal a swap interrupted between "old partition renamed to
    * backup" and "staged partition renamed in": any backup partition
    * whose destination is missing is restored verbatim. Partitions
    * whose destination exists finished their swap — their backup is
    * just the superseded copy and is dropped with the backup root.
    * Idempotent; a no-op when no backup dir exists. */
  private def recoverInterruptedSwap(fs: org.apache.hadoop.fs.FileSystem,
                                     dst: org.apache.hadoop.fs.Path,
                                     depth: Int): Unit = {
    val backup = backupRoot(dst)
    if (fs.exists(backup)) {
      partitionDirs(fs, backup, depth).foreach { rel =>
        val to = new org.apache.hadoop.fs.Path(dst, rel)
        if (!fs.exists(to)) {
          fs.mkdirs(to.getParent)
          if (!fs.rename(new org.apache.hadoop.fs.Path(backup, rel), to))
            throw new java.io.IOException(s"failed to restore $rel from backup")
        }
      }
      fs.delete(backup, true)
    }
  }

  /** Marker recording which partitions' latest snapshots are owed a
    * recompute — written BEFORE the raw swap starts, deleted after
    * the latest swap completes. Any crash in between leaves raw and
    * latest divergent for those partitions; the marker lets the next
    * persist (scoped or not) rebuild exactly them from current raw. */
  private def pendingLatestPath(paths: Paths) =
    new org.apache.hadoop.fs.Path(paths.latest + "__pending")

  private def writePendingLatest(fs: org.apache.hadoop.fs.FileSystem,
                                 paths: Paths, rels: Seq[String]): Unit = {
    val out = fs.create(pendingLatestPath(paths), true)
    try out.write(rels.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Rebuild the latest snapshot for the partitions a crashed run
    * left pending. Reads ONLY those partition dirs of raw (basePath
    * keeps the partition columns), so recovery cost is scoped like
    * the merge itself. Idempotent; a no-op without a marker. */
  private def recoverPendingLatest(spark: SparkSession, paths: Paths,
                                   authoritative: org.apache.spark.sql.types.StructType,
                                   keyCols: Seq[String], updatedAtCol: String,
                                   partitionCols: Seq[String],
                                   fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val marker = pendingLatestPath(paths)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val rels = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList finally in.close()
    val existing = rels.filter(r =>
      fs.exists(new org.apache.hadoop.fs.Path(paths.raw, r)))
    if (existing.nonEmpty) {
      val schema = typedLayout(spark, paths, authoritative, partitionCols, None)
      val rawAffected = spark.read.schema(schema)
        .option("basePath", paths.raw)
        .parquet(existing.map(r => s"${paths.raw}/$r"): _*)
      val latestAffected = latestSnapshot(rawAffected, keyCols,
        col(updatedAtCol), col("extracted_at"))
      val lstage = new org.apache.hadoop.fs.Path(paths.latest + "__stage")
      latestAffected.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(lstage.toString)
      swapPartitions(fs, lstage,
        new org.apache.hadoop.fs.Path(paths.latest), partitionCols.length)
    }
    fs.delete(marker, false)
  }

  /** Full merge: returns (rawCount, latestCount) after the rewrite.
    *
    * `partitionCols` gives raw/latest a hive-partitioned layout
    * (e.g. by ingest date or key-hash bucket) so a scaled deployment
    * rewrites/reads only affected partitions and downstream scans
    * partition-prune; semantics are unchanged.
    *
    * `partitionScoped = true` makes the rewrite itself partition-
    * scoped: only partitions present in the delta are read, merged
    * and swapped — untouched partitions keep their exact files (no
    * O(history) rewrite per run; THE requirement at 100 TB where a
    * run's delta touches a sliver of the lake). Contract:
    *
    *  1. every partition column must be a pure function of the
    *     business key (key-hash bucket, key range — NOT ingest date),
    *     otherwise a key's rows span partitions and the
    *     partition-local latest snapshot would be wrong; the
    *     unpartitioned/full-rewrite path stays for layouts without
    *     that property;
    *  2. the delta schema must be stable across scoped runs: only
    *     affected partitions are rewritten with the new schema, so a
    *     schema-evolving delta would leave raw with heterogeneous
    *     per-partition schemas, and later single-footer schema probes
    *     would silently drop the added columns when reading untouched
    *     partitions — evolve the schema through a full (non-scoped)
    *     rewrite instead;
    *  3. a scoped merge that throws or crashes mid-way MUST be
    *     replayed by the caller: entry-time recovery restores
    *     *consistency* (no partition is lost or half-swapped) but the
    *     interrupted delta may be applied to some partitions and
    *     rolled back on others — only the replay makes it fully
    *     applied. Both callers do this by construction (the batch
    *     watermark does not advance past a failed run; the streaming
    *     checkpoint re-delivers the micro-batch), and content-hash
    *     dedup makes the replay idempotent. */
  def persist(spark: SparkSession, paths: Paths, delta: DataFrame,
              runId: String, extractedAt: String,
              keyCols: Seq[String], updatedAtCol: String,
              partitionCols: Seq[String] = Nil,
              partitionScoped: Boolean = false): (Long, Long) = {
    require(!partitionScoped || partitionCols.nonEmpty,
      "partitionScoped needs a partitioned layout")
    def partitioned(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    val stamped = stampLineage(delta, runId, extractedAt)
    stamped.write.mode("overwrite").parquet(paths.delta(runId))
    // From here on, read the delta back from its own parquet: one
    // source scan total (a REST-backed delta would otherwise be
    // re-fetched by every downstream action), and every later step
    // sees exactly the rows that were durably written.
    val deltaOnDisk = spark.read.parquet(paths.delta(runId))

    // resolve the filesystem FROM the path — FileSystem.get(conf)
    // returns the default FS and throws "Wrong FS" for any other
    // scheme (s3a://, abfs://, ...)
    val rawPath = new org.apache.hadoop.fs.Path(paths.raw)
    val fs = rawPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Explicit existence check — a broad catch would misread a
    // transient read failure as "first run" and silently rebuild the
    // lake from just this delta.
    val rawExists = fs.exists(rawPath)

    // Heal any half-done scoped swap REGARDLESS of this call's mode:
    // a crashed scoped run may have left a partition only in the
    // backup dir (which Spark's reader skips, underscore prefix), and
    // the full-rewrite path below would otherwise merge without that
    // partition's history and then delete its only copy with raw.
    if (partitionCols.nonEmpty && rawExists) {
      recoverInterruptedSwap(fs, rawPath, partitionCols.length)
      recoverInterruptedSwap(fs,
        new org.apache.hadoop.fs.Path(paths.latest), partitionCols.length)
      recoverPendingLatest(spark, paths, stamped.schema, keyCols,
        updatedAtCol, partitionCols, fs)
    }

    if (partitionScoped && rawExists)
      return persistScoped(spark, paths, deltaOnDisk, stamped.schema,
        keyCols, updatedAtCol, partitionCols, fs, rawPath)

    val existingRaw =
      if (rawExists) {
        // partition-value type inference re-types hive partition
        // columns on read-back (string "07" → int 7 — the leading
        // zero is already gone, so casting back cannot restore it),
        // changing their canonicalForHash rendering and silently
        // breaking dedup idempotence. Supplying an explicit schema
        // makes partition values parse as the declared type verbatim.
        Some(readRawTyped(spark, paths, stamped.schema, partitionCols))
      } else None

    val unioned = existingRaw.fold(deltaOnDisk)(raw => alignUnion(raw, deltaOnDisk))
    // Earliest lineage wins among content-duplicates, mirroring the
    // reference's keep="first" on the (older-first) concat order.
    val deduped = contentHashDedup(unioned, lineageCols,
      struct(col("extracted_at"), col("run_id")))

    // Rewrite raw via a staging dir: the plan reads paths.raw lazily,
    // so an in-place overwrite would clobber its own input. Hadoop
    // FileSystem signals most failures via `false` returns — check
    // them, or a failed delete turns the rename into a nested move
    // and the next read silently sees doubled/stale data.
    val stage = paths.raw + "__stage"
    partitioned(deduped.write.mode("overwrite")).parquet(stage)
    if (fs.exists(rawPath) && !fs.delete(rawPath, true))
      throw new java.io.IOException(s"failed to delete old raw at $rawPath")
    fs.mkdirs(rawPath.getParent)
    if (!fs.rename(new org.apache.hadoop.fs.Path(stage), rawPath))
      throw new java.io.IOException(s"failed to move staged raw into $rawPath")

    // same typed read here — an inferred re-read would feed
    // latestSnapshot re-typed partition values and write a corrupted
    // master/latest even though raw is correct; deduped.schema is the
    // just-written layout, so no probe read is needed
    val raw = readRawTyped(spark, paths, stamped.schema, partitionCols,
      knownSchema = Some(deduped.schema))
    val latest = latestSnapshot(raw, keyCols,
      col(updatedAtCol), col("extracted_at"))
    partitioned(latest.write.mode("overwrite")).parquet(paths.latest)

    (raw.count(), spark.read.parquet(paths.latest).count())
  }

  /** The partition-scoped rewrite: merge the delta with ONLY its own
    * partitions of raw (a partition-pruned scan), swap those
    * partition dirs, and recompute latest for the same partitions —
    * every other partition's files are left physically untouched.
    *
    * Returns (rawCount, latestCount) of the AFFECTED partitions, not
    * lake totals — counting the whole lake would be the O(history)
    * scan this path exists to avoid. Crash recovery: interrupted
    * swaps heal from the on-disk backup at the next run's entry, and
    * because delta dirs are preserved, re-running a failed merge is
    * always safe (content-hash dedup absorbs the replay). */
  private def persistScoped(spark: SparkSession, paths: Paths,
                            deltaOnDisk: DataFrame,
                            authoritative: org.apache.spark.sql.types.StructType,
                            keyCols: Seq[String], updatedAtCol: String,
                            partitionCols: Seq[String],
                            fs: org.apache.hadoop.fs.FileSystem,
                            rawPath: org.apache.hadoop.fs.Path): (Long, Long) = {
    val latestPath = new org.apache.hadoop.fs.Path(paths.latest)
    // (interrupted-swap + pending-latest healing already ran in
    // persist() before dispatching here)

    // the delta's partition tuples — few by design (a run touches a
    // sliver of the lake), so the collect is O(partitions-in-delta)
    val affected = deltaOnDisk.select(partitionCols.map(col): _*)
      .distinct().collect()
    // empty delta = idempotent no-op (the non-scoped path's contract):
    // nothing to merge, nothing to count cheaply — report zeros
    if (affected.isEmpty) return (0L, 0L)
    // null-safe per-tuple predicate; reaches the scan as partition
    // pruning, so unaffected partitions are never even read
    val pred = affected.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _)
    }.reduce(_ || _)

    val rawSchema = spark.read.parquet(paths.raw).schema // one probe, reused
    val rawAffected = readRawTyped(spark, paths, authoritative, partitionCols,
      knownSchema = Some(rawSchema)).filter(pred)
    val deduped = contentHashDedup(alignUnion(rawAffected, deltaOnDisk),
      lineageCols, struct(col("extracted_at"), col("run_id")))

    // stage → swap only the affected partition dirs (the write reads
    // raw lazily, so it must land in a staging dir first)
    val stage = new org.apache.hadoop.fs.Path(paths.raw + "__stage")
    deduped.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(stage.toString)
    // record which latest partitions are owed a recompute BEFORE raw
    // mutates: a crash anywhere between here and the latest swap
    // would otherwise leave raw and latest silently divergent (the
    // mid-raw-swap backup heals raw, but says nothing about latest)
    writePendingLatest(fs, paths, partitionDirs(fs, stage, partitionCols.length))
    swapPartitions(fs, stage, rawPath, partitionCols.length)

    // latest over the POST-swap affected partitions (the pre-swap
    // plan's input dirs no longer exist; the just-written layout has
    // deduped's schema, so no re-probe). Partition-local latest is
    // correct because partitionScoped requires partition values to be
    // a function of the business key — a key never spans partitions.
    val rawAffectedNew = readRawTyped(spark, paths, authoritative, partitionCols,
      knownSchema = Some(deduped.schema)).filter(pred)
    val latestAffected = latestSnapshot(rawAffectedNew,
      keyCols, col(updatedAtCol), col("extracted_at"))
    val lstage = new org.apache.hadoop.fs.Path(paths.latest + "__stage")
    latestAffected.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(lstage.toString)
    swapPartitions(fs, lstage, latestPath, partitionCols.length)
    fs.delete(pendingLatestPath(paths), false) // latest is consistent again

    (rawAffectedNew.count(),
      spark.read.schema(rawAffectedNew.schema).parquet(paths.latest)
        .filter(pred).count())
  }
}
