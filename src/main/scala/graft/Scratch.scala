package graft

// temporary profiling harness — not part of the surface
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.batchSession(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[scratch] $label%-20s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val qname = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_QUERY",
      "ss20_graph_expand")
    def run(): Unit = SparkEntry.queries(qname)(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // warm
    run()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val stages = scala.collection.mutable
      .ArrayBuffer[(Int, String, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val dur = (for {c <- i.completionTime; s <- i.submissionTime}
            yield c - s).getOrElse(-1L)
          val m = i.taskMetrics
          stages += ((i.stageId, i.name.takeWhile(_ != '\n').take(60), dur,
            i.numTasks, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead))
        }
      })
    time("full")(run())
    Thread.sleep(500)
    stages.sortBy(-_._3).take(25).foreach { case (id, n, d, t, sw, sr) =>
      println(f"[scratch] stage $id%3d $d%6d ms tasks=$t%-3d " +
        f"shW=${sw / 1024}%8d KiB shR=${sr / 1024}%8d KiB $n")
    }
    println(s"[scratch] total stages: ${stages.size}, " +
      s"sum ${stages.map(_._3).sum} ms, " +
      s"shuffle write ${stages.map(_._5).sum / 1024} KiB")
    spark.stop()
  }
}
