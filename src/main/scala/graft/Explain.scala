package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan dumper: writes `<outDir>/<query>_<tag>.txt` with the formatted
  * FINAL adaptive plan of every named query, in one JVM.
  *
  * Usage: runMain graft.Explain <outDir> <tag> <q1> [q2 ...] [sfDir]
  * (a trailing arg containing '/' is taken as the sf dir).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val (names, sfDir) =
      if (args.last.contains("/")) (args.drop(2).dropRight(1), args.last)
      else (args.drop(2), "/root/testdata/sf0.1")
    val queries = Harness.selectOrExit("explain", "args", Harness.registered, names.toSet)
    Files.createDirectories(outDir)
    val h = Harness("explain", sfDir)
    queries.foreach { case (name, fn) =>
      val o = h.run(name, fn) { df =>
        // Execute THIS queryExecution so the dumped plan is the final
        // adaptive plan, runtime ReusedExchange and AQE coalescing
        // included; a noop write would be a separate QueryExecution and
        // leave this plan unfinalized. toRdd.count() evaluates every
        // column of every row.
        h.spark.sparkContext.setJobDescription(s"explain:$name")
        df.queryExecution.toRdd.count()
        df.queryExecution.explainString(FormattedMode)
      }
      o.result.foreach { plan =>
        Files.writeString(outDir.resolve(s"${name}_$tag.txt"),
          f"-- build + execute wall: ${o.secs}%.3f s (single run, indicative " +
            f"only; bench numbers are the record)%n$plan")
        println(f"[explain] wrote $name ($tag) ${o.secs}%.3f s")
      }
    }
    h.stop()
  }
}
