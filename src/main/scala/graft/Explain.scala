package graft

/** Dev tool: time one query and dump its formatted physical plan.
  * Usage: tools/run.sh graft.Explain <queryName> [sfDir] [explain|noexplain]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.length <= 2 || args(2) != "noexplain") df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"[explain] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
