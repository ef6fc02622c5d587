package graft

/** Local smoke: run the flagship entry() exactly as the driver does
  * (rows>0 on sf0.001) and print a sample + the physical plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = 60)
    if (args.contains("--explain")) df.explain("formatted")
    require(n > 0, "entry() returned 0 rows")
    spark.stop()
  }
}
