package graft.pipeline

import java.nio.file.{Files, Paths => JPaths}
import scala.collection.immutable.ListMap
import graft.Json

/** Per-endpoint resume checkpoints for the E1 lifecycle — the
  * reference's own unbuilt wishlist item (CONTRIBUTING.md:8 "resume
  * más fino"): the reference keeps ONE `max_contact_id` watermark, so
  * an interrupted 31-endpoint run re-extracts every completed
  * endpoint on retry.
  *
  * Here each completed persist stage appends to `run_ledger.json`
  * (atomic rewrite, the Watermark temp+move discipline), keyed by the
  * owning runId. A re-run that resolves to the SAME runId — i.e. the
  * caller retries with the original run's `nowUtc` stamp, against the
  * still-unadvanced watermark — skips every ledgered stage and
  * returns its recorded counts; because stage deltas are LAZY
  * DataFrames, a skipped stage never scans its source or touches the
  * REST API at all (spec-pinned via the loopback wire log). A run
  * under a NEW runId ignores and then overwrites the ledger (the old
  * partial run's persisted deltas are absorbed by content-hash dedup,
  * exactly as before this existed), and a COMPLETED run deletes it —
  * the ledger only ever describes one in-flight run.
  *
  * Consistency note: resumed stages persisted THEIR slice of the
  * interrupted run; upstream rows that arrived after the
  * interruption stay above the final watermark (it advances from the
  * durably written contacts delta of the SAME runId) and are picked
  * up by the NEXT run — nothing is lost, nothing double-extracted.
  */
object StageLedger {

  def path(outRoot: String): String = s"$outRoot/run_ledger.json"

  /** Completed stages of `runId`, empty for a fresh/foreign ledger.
    * An unparseable ledger is an ERROR (Watermark.load's argument: a
    * truncated write must not silently demote to "nothing done"
    * after half the catalog already persisted — the retry would
    * re-extract; loud beats silent re-work). */
  def load(outRoot: String, runId: String): Map[String, (Long, Long)] = {
    val p = JPaths.get(path(outRoot))
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.readString(p)
      val node = try Json.read(s) catch {
        case e: Exception => throw new IllegalStateException(
          s"run ledger at $p exists but is unparseable: $s", e)
      }
      if (node.path("run_id").asText("") != runId) Map.empty
      else {
        val done = node.path("completed")
        val b = Map.newBuilder[String, (Long, Long)]
        val it = done.fields()
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> ((e.getValue.get(0).asLong(),
            e.getValue.get(1).asLong()))
        }
        b.result()
      }
    }
  }

  /** Record one completed stage (atomic temp+move full rewrite — the
    * ledger is O(#endpoints), never data-sized). Safe for concurrent
    * callers: load → add → move runs under this object's lock, so two
    * stages completing at once cannot drop each other's entry. */
  def markDone(outRoot: String, runId: String, stage: String,
               counts: (Long, Long)): Map[String, (Long, Long)] = synchronized {
    val done = load(outRoot, runId) + (stage -> counts)
    val p = JPaths.get(path(outRoot))
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, Json.write(ListMap("run_id" -> runId,
      "completed" -> done.map { case (name, (a, b)) => name -> Seq(a, b) })))
    Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    done
  }

  /** The run finished (watermark advanced) — no in-flight run to
    * describe. */
  def clear(outRoot: String): Unit =
    Files.deleteIfExists(JPaths.get(path(outRoot)))
}
