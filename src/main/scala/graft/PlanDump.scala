package graft

/** Dev/audit tool: print the formatted physical plan and wall time of one
  * SparkEntry query (the .explain("formatted") loop the scale design work
  * runs per operator — SURVEY §8 "Scale design decisions").
  *
  * Usage: runMain graft.PlanDump <query_name> [sfDir] [plan|time|both]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "both"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.batchSession(s"local[$cpus]", cpus)
      .appName("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (mode != "time") fn(spark, sfDir).explain("formatted")
    if (mode != "plan") {
      // warm then measure, same discipline as Bench
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[plandump] $name measured ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
