package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.sources.K8sSchemas

/** An independent `from_json` reader of a list file of each kind: the
  * reference the block-backed `k8s-snapshot` source is checked against,
  * with the same stamped columns (ksql.js:200-201,230-234) and `_raw`
  * escape hatch.
  */
object FromJsonSnapshot {

  /** Read one K8s list file into rows of its `items` array, with the full
    * item JSON kept in `_raw` (SURVEY §1.6 escape hatch). multiLine: list
    * responses are single pretty-printed JSON docs, not JSONL.
    */
  private def readItems(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val listSchema = StructType(Seq(
      StructField("items", ArrayType(StringType))))
    // Two-phase read: first pull each item out as raw JSON text (escape
    // hatch column), then parse the modeled subset with the explicit
    // schema. Keeps unmodeled fields queryable via get_json_object(_raw).
    spark.read.option("multiLine", "true")
      .schema(listSchema).json(path)
      .select(explode(col("items")).as("_raw"))
      .withColumn("parsed", from_json(col("_raw"), schema))
      .select(col("parsed.*"), col("_raw"))
  }

  /** The table schema's column order: stamped keys, item fields, `_raw`. */
  private def stamped(spark: SparkSession, path: String, item: StructType,
      keys: (String, String)*): DataFrame = {
    val df = readItems(spark, path, item)
    keys.foldLeft(df) { case (d, (k, from)) => d.withColumn(k, col(from)) }
      .select((keys.map(_._1) ++ item.fieldNames :+ "_raw").map(col): _*)
  }

  /** Stamp T2 keys (ksql.js:200-201): pods get uid + node. */
  def pods(spark: SparkSession, path: String): DataFrame =
    stamped(spark, path, K8sSchemas.pod,
      "uid" -> "metadata.uid", "node" -> "spec.nodeName")

  /** Nodes and services get name + uid (ksql.js:230-234). */
  def nodes(spark: SparkSession, path: String): DataFrame =
    stamped(spark, path, K8sSchemas.node,
      "name" -> "metadata.name", "uid" -> "metadata.uid")

  def services(spark: SparkSession, path: String): DataFrame =
    stamped(spark, path, K8sSchemas.service,
      "name" -> "metadata.name", "uid" -> "metadata.uid")
}
