package graft

/** Dev-only: time the queries named on the command line in the bench's
  * session ([[Bench.session]]) on SPARK_GRAFT_SF_DIR, min-of-3 printed
  * per pass. Not part of the declared surface. Usage:
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.DevTime <query...>"
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val names = args.toSeq
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count()) // warm
    for (p <- 1 to 3; n <- names) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[devtime] pass$p $n ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
