package graft.examples

/** Plan inspector: `runMain graft.examples.Explain <queryName> [sfDir]`
  * prints the formatted physical plan and wall time for one registry query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"TIMING $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
