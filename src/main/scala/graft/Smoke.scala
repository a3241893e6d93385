package graft

/** Local smoke: run the flagship entry query on sf0.001 exactly as the
  * driver does (rows>0 check), print the rows and the physical plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-smoke", defaultCpus = 4)
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(10, truncate = false)
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
