package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.batchSession("local[4]", "4")
    .appName("graft-test")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  /** Fixture dir as a plain filesystem path (forked tests run in the
    * repo root; classpath URLs can be jar-internal, which Spark's file
    * sources can't read).
    */
  def fixtureDir: String = new java.io.File("src/test/resources/k8s")
    .getAbsolutePath
}
