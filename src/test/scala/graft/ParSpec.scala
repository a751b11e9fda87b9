package graft

import org.apache.spark.SparkEnv

/** `Par.width`: the session's core count, floored by a
  * `spark.default.parallelism` setting.
  */
class ParSpec extends SparkSpec {

  test("width is the core count of a local[N] session") {
    assert(Par.width(spark) == spark.sparkContext.defaultParallelism)
    assert(Par.spread(spark.range(100)).rdd.getNumPartitions == Par.width(spark))
  }

  test("a spark.default.parallelism setting floors the width") {
    val cores = spark.sparkContext.defaultParallelism
    // set on the running context's conf, as a session built with the
    // setting has it
    val conf = SparkEnv.get.conf
    try {
      conf.set("spark.default.parallelism", (cores + 3).toString)
      assert(Par.width(spark) == cores + 3)
      assert(Par.spread(spark.range(100)).rdd.getNumPartitions == cores + 3)
    } finally conf.remove("spark.default.parallelism")
    assert(Par.width(spark) == cores)
  }

  test("a local-cluster[n,c,m] master floors the width at n·c") {
    assert(Par.masterCores("local-cluster[2,8,4096]") == 16)
    assert(Par.masterCores("local-cluster[ 3 , 2 , 1024 ]") == 6)
    assert(Par.masterCores("local[4]") == 0)
    assert(Par.masterCores("local[*]") == 0)
    assert(Par.masterCores("spark://host:7077") == 0)
    assert(Par.width(spark) >= Par.masterCores(spark.sparkContext.master))
  }
}
