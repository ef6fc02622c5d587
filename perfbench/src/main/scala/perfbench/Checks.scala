package perfbench

import scala.jdk.CollectionConverters._

/** Output checks. Each returns the reason an operation failed, or None.
  * They are plain functions of the measured values so that the
  * benchmark's tests can show each one firing. */
object Checks {

  /** A query's expected result on the benchmark's lake. `hashStable` is
    * false for a query whose hash did not repeat across runs of the
    * commit that produced the file; such a query is checked by its row
    * count alone. */
  final case class Expected(hash: String, rows: Long, hashStable: Boolean)

  def loadExpected(path: String): Map[String, Expected] =
    Json.read(path).get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("hash").asText, v.get("rows").asLong,
        v.get("hash_stable").asBoolean)
    }.toMap

  def query(name: String, hash: String, rows: Long,
            expected: Map[String, Expected]): Option[String] =
    expected.get(name) match {
      case None => Some(s"$name: no expected result for this lake")
      case Some(e) if e.rows != rows => Some(s"$name: $rows rows, expected ${e.rows}")
      case Some(e) if e.hashStable && e.hash != hash =>
        Some(s"$name: hash $hash, expected ${e.hash}")
      case _ => None
    }

  /** The incremental run must be O(delta). `deltaRows` is the row count
    * read back from that run's contacts delta dir, never the master
    * count that persist returns: the universe has to fit inside what
    * the run actually wrote, and what it wrote has to fit inside the
    * ids that arrived since the last run plus the seed contacts. A
    * master count in place of the delta, or a universe that re-reads
    * the lake, fails one of the two. */
  def oDelta(universe: Long, deltaRows: Long, newIds: Long, seeds: Int): Option[String] =
    if (universe > deltaRows)
      Some(s"incremental universe $universe exceeds the $deltaRows rows written to the contacts delta")
    else if (deltaRows > newIds + seeds)
      Some(s"contacts delta holds $deltaRows rows for $newIds new ids and $seeds seeds: not O(delta)")
    else None

  def equal(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** The partition-scoped merge touches only the buckets its new rows
    * land in, reads at most those buckets plus the delta, and leaves
    * every file of the other buckets byte-identical. */
  def scopedMerge(touched: Set[Long], deltaBuckets: Set[Long], mergeInputRows: Long,
                  deltaRows: Long, bucketSpan: Long, untouched: Int): Option[String] =
    if (!touched.subsetOf(deltaBuckets))
      Some(s"scoped merge rewrote buckets ${(touched -- deltaBuckets).toSeq.sorted.mkString(",")} that hold no new row")
    else if (mergeInputRows > deltaRows + bucketSpan * deltaBuckets.size)
      Some(s"scoped merge read $mergeInputRows rows for a $deltaRows-row delta in ${deltaBuckets.size} bucket(s)")
    else if (untouched == 0)
      Some("scoped merge left no file of the lake byte-identical")
    else None
}
