package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the filter
    // is a local-iteration convenience; the driver passes two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the same surface
    // across REAL executor JVMs — a separate process boundary, so every
    // custom expression/operator/kernel must actually serialize (the one
    // class of bug local[*] structurally cannot catch). Executors launch
    // from SPARK_HOME and need only our compiled classes added.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = Tables.batchSession(master, cpus)
    if (master.startsWith("local-cluster")) {
      val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      b.config("spark.executor.extraClassPath", classes)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // jsonString escapes every control char (< 0x20): a tab or CR in the
    // SQL would otherwise make a json.load of this file fail
    import graft.sinks.Render.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
