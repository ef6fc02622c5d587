package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._

/** Correctness dump: each query's result → parquet under
  * `<outDir>/<name>`, plus oracle_sql.json, for the DuckDB oracle
  * compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1 q2 ...] — the
  * optional names dump only those queries (local iteration).
  *
  * Every dump is stamped with `verify_meta.json` — the working-tree git
  * SHA/dirty flag plus a content hash of the compiled classes — so a
  * stale build can never produce an artifact that silently claims to be
  * HEAD. `tools/selfcheck.py` refuses the compare when the stamp does
  * not match the tree it runs against. */
object Verify {

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val queries = Harness.selectOrExit("verify", "args", Harness.registered, only)
    val h = Harness("verify", sfDir)
    dump(h, outDir, queries, only, SparkEntry.oracleSql)
    h.stop()
  }

  /** Writes the dump of `queries` (selected by `only`) into `outDir`. */
  def dump(h: Harness, outDir: String, queries: Seq[(String, Harness.QueryFn)],
           only: Set[String], oracleSql: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    // A query that throws leaves a loud record in errors.json, which
    // selfcheck.py grades as ERR, not just a stderr line: a missing dump
    // alone reads as "not sampled".
    val errors = ListMap.from(queries.flatMap { case (name, fn) =>
      h.run(name, fn)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .result.left.toOption.map { e =>
          // a stale dump from an earlier run must not mask this failure
          try deleteTree(Paths.get(outDir, name)) catch { case _: Throwable => () }
          name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        }
    })
    // Manifest = every query whose dump EXISTS in outDir, always with
    // the current code's oracle SQL. A filtered run into a previously
    // full dir keeps the other queries' coverage instead of collapsing
    // the compare to the subset, and a stale old dump can only fail
    // loudly, never validate against an equally old oracle.
    write(outDir, "oracle_sql.json", TreeMap.from(oracleSql.filter { case (k, _) =>
      only.isEmpty || only(k) || Files.exists(Paths.get(outDir, k)) }))
    // written even when empty, so "no errors" differs from "never recorded"
    write(outDir, "errors.json", errors)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    // stale_build: a source file newer than every compiled class means
    // this JVM is NOT running the working tree. `filtered` records a
    // subset refresh: it must not re-stamp the other queries' dumps,
    // possibly from an older build, as current, so selfcheck refuses
    // to full-compare a subset-stamped dump. duckdb_version names the
    // oracle build the local replica compares with, so a divergence in
    // a remote compare is diagnosed from the artifact.
    val classesRoot = Paths.get("target/scala-2.13/classes")
    write(outDir, "verify_meta.json", ListMap(
      "git_sha" -> execOut("git", "rev-parse", "HEAD"),
      "git_dirty" -> execOut("git", "status", "--porcelain").nonEmpty,
      "classes_sha256" -> classesFingerprint(classesRoot),
      "stale_build" -> (newestUnder(Paths.get("src/main/scala")) > newestUnder(classesRoot)),
      "filtered" -> only.toSeq.sorted,
      "spark_version" -> h.spark.version,
      "duckdb_version" -> execOut("python3", "-c", "import duckdb; print(duckdb.__version__)")))
    // Forensic serialization dump: per dumped query, the exact
    // normalized byte stream the gate hashes for the Spark side
    // (tools/dump_rows.py shares selfcheck.py's norm rules and DuckDB
    // fetch path), so a failed compare becomes a byte diff against
    // <name>.rows.txt. Best-effort: without python3+duckdb it is
    // skipped, never failing the run. GRAFT_SKIP_ROWS_DUMP=1 turns it
    // off for big-SF runs, where it is slow and selfcheck.py recomputes
    // the hashes independently anyway.
    val dumped = queries.map(_._1).filterNot(errors.contains)
    if (sys.env.get("GRAFT_SKIP_ROWS_DUMP").exists(_.nonEmpty)) {
      // Skipping must also evict: rows.txt files from an older build in
      // a reused outDir would make selfcheck's serializer-parity check
      // report phantom drift for any query whose output changed.
      Option(new java.io.File(outDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".rows.txt")).foreach(f => Files.deleteIfExists(f.toPath))
      System.err.println("[verify] rows dump skipped (GRAFT_SKIP_ROWS_DUMP set; " +
        "stale *.rows.txt evicted)")
    } else if (dumped.nonEmpty) {
      val res = execOut(("python3" +: "tools/dump_rows.py" +: outDir +: dumped): _*)
      if (res.startsWith("<")) System.err.println(s"[verify] rows dump skipped: $res")
    }
  }

  private def write(outDir: String, file: String, v: Any): Unit =
    Files.writeString(Paths.get(outDir, file), Json.write(v))

  private def execOut(cmd: String*): String =
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0) out else s"<exit ${p.exitValue()}>"
    } catch { case e: Exception => s"<error: ${e.getMessage}>" }

  private def regularFiles(root: Path): List[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }

  private def newestUnder(root: Path): Long =
    regularFiles(root).map(Files.getLastModifiedTime(_).toMillis).foldLeft(0L)(math.max)

  /** sha256 over (sorted relative path, bytes) of every .class under
    * the compiled-classes root — the build fingerprint. Content (not
    * mtime) based: an identical rebuild keeps the same fingerprint,
    * because its dumps would be identical too. */
  private def classesFingerprint(root: Path): String =
    if (!Files.isDirectory(root)) "<no-classes-dir>"
    else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      regularFiles(root).filter(_.toString.endsWith(".class"))
        .sortBy(root.relativize(_).toString)
        .foreach { p =>
          md.update(root.relativize(p).toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
      md.digest().map("%02x".format(_)).mkString
    }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toList.reverse.foreach(Files.delete) finally st.close()
    }
}
