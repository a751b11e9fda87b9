package graft.sources.v2

import java.util
import java.util.OptionalLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import net.jpountz.lz4.LZ4Factory
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, InterpretedUnsafeProjection, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDD, DataSourceV2ScanExecBase}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.K8sSchemas

/** DataSource V2 connector for K8s snapshot lists (SURVEY §4 / §7.3
  * optional scope): `spark.read.format("k8s-snapshot").option("kind",
  * "pods").load(path)` reads a K8s list response (`{"items":[...]}` —
  * what `/api/v1/pods` returns, mirroring the reference's scans at
  * `/root/reference/ksql.js:190-247`) as a properly-schemed DataFrame
  * with the same stamped columns as `graft.sources.K8sSnapshot`.
  *
  * Like the reference, which loads its snapshot into arrays once and
  * answers every query from them (`ksql.js:249-265`), a table parses its
  * list file once, on first use, into a [[K8sGeneration]]: full-schema
  * `UnsafeRow`s in LZ4-compressed blocks that the table keeps for its
  * lifetime. Every scan of the table reads those blocks, so a DataFrame
  * over it answers from one point-in-time snapshot however often the
  * file changes. The JSON→row conversion runs only at that step.
  *
  * Top-level column pruning (`SupportsPushDownRequiredColumns`) and the
  * stamped-key filter pushdown (`SupportsPushDownFilters`) apply per row
  * as the reader walks a decompressed block: the filters are checked on
  * the stored row, and only matching rows are projected. The scan
  * reports the generation's exact row count and in-memory byte size
  * (`SupportsReportStatistics`).
  *
  * A generation within `spark.sql.autoBroadcastJoinThreshold` (the size
  * under which Spark would broadcast it) scans as one partition
  * ([[K8sSnapshotScanExec]]): aggregates and sorts over it plan no
  * exchange, and an equi-join of two such scans plans as a hash join of
  * their single partitions, with no exchange and no broadcast job. A
  * larger generation scans one block per task, and its joins plan as
  * Spark chooses from the statistics.
  */
class K8sSnapshotSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "k8s-snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    K8sSnapshotTable.schemaFor(Option(options.get("kind")).getOrElse("pods"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new K8sSnapshotTable(
      Option(properties.get("kind")).getOrElse("pods"),
      Option(properties.get("path")).orElse(
        Option(properties.get("paths")).map(p =>
          // Spark passes .load(path) as a JSON array in "paths"
          p.stripPrefix("[\"").stripSuffix("\"]")))
        .getOrElse(sys.error("k8s-snapshot: path required")))
}

object K8sSnapshotTable {
  /** The snapshot kinds, in load order: each one's modeled item schema
    * (metadata, spec, status) and its stamped key columns in column
    * order (ksql.js:200-201 for pods, :230-234 for nodes and services).
    */
  private val KINDS: Seq[(String, StructType, Seq[String])] = Seq(
    ("pods", K8sSchemas.pod, Seq("uid", "node")),
    ("nodes", K8sSchemas.node, Seq("name", "uid")),
    ("services", K8sSchemas.service, Seq("name", "uid")))

  private[graft] val kinds: Seq[String] = KINDS.map(_._1)

  /** Each stamped key column and the item field it is read from. */
  private[v2] val stampedFrom: Map[String, (String, String)] = Map(
    "uid" -> ("metadata", "uid"), "name" -> ("metadata", "name"),
    "node" -> ("spec", "nodeName"))

  /** Full table schemas — stamped keys + modeled structs + _raw escape
    * hatch, identical to the view-based loader so queries are portable.
    */
  def schemaFor(kind: String): StructType = KINDS.find(_._1 == kind) match {
    case Some((_, item, keys)) =>
      StructType(keys.map(StructField(_, StringType)) ++ item.fields :+
        StructField("_raw", StringType))
    case None => sys.error(s"k8s-snapshot: unknown kind '$kind'")
  }
}

/** One list file as a table. `path` names a list file for batch reads,
  * or a directory of generation files for the micro-batch stream.
  */
class K8sSnapshotTable(val kind: String, val path: String)
    extends Table with SupportsRead {
  override def name(): String = s"k8s-snapshot:$kind:$path"
  override def schema(): StructType = K8sSnapshotTable.schemaFor(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** The snapshot every batch scan of this table reads: `path` parsed on
    * first use and kept until the table itself is unreachable (when the
    * last plan bound to it is gone). Never re-read, so a file rewritten
    * meanwhile is seen only by a new table.
    */
  lazy val generation: K8sGeneration = K8sGeneration.read(kind, path)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new K8sScanBuilder(this)
}

class K8sScanBuilder(table: K8sSnapshotTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private val full = table.schema()
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  /** Top-level pruning: a requested column keeps its full type, since the
    * stored rows are full-schema and the projection copies whole columns.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(full(_)))

  /** Push simple predicates on the STAMPED key columns (uid/name/node)
    * down to the reader: each stored row is checked before it is
    * projected, so on a large cluster snapshot a `WHERE node = 'x'`
    * projects only x's pods, not the fleet (SURVEY §4 checklist). The
    * evaluation is exact, so accepted filters produce no residual for
    * Spark to re-check.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val stampedCols = full.fieldNames.toSet
      .intersect(K8sSnapshotTable.stampedFrom.keySet)
    def supported(f: Filter): Boolean = f match {
      case EqualTo(a, v) => stampedCols(a) && v.isInstanceOf[String]
      case In(a, vs) => stampedCols(a) && vs.forall(_.isInstanceOf[String])
      case IsNotNull(a) => stampedCols(a)
      case IsNull(a) => stampedCols(a)
      case StringStartsWith(a, _) => stampedCols(a)
      case StringContains(a, _) => stampedCols(a)
      case _ => false
    }
    val (ok, rest) = filters.partition(supported)
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new K8sScan(table, required, pushed)
}

/** One scan of a snapshot table: its pruned columns and its pushed
  * stamped-key filters. As a `Batch` it plans one input partition per
  * block of the generation; `K8sSnapshotScanExec` reads the same blocks
  * as one partition.
  */
class K8sScan(val table: K8sSnapshotTable, required: StructType,
    val pushed: Array[org.apache.spark.sql.sources.Filter])
    extends Scan with Batch with SupportsReportStatistics {
  import table.{kind, path}
  private val full = table.schema()

  /** The generation the scan reads. A stream's table names a directory
    * of generations, not one snapshot, and has none.
    */
  def snapshot: Option[K8sGeneration] =
    if (new java.io.File(path).isDirectory) None else Some(table.generation)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    table.generation.partitions
  override def createReaderFactory(): PartitionReaderFactory =
    new K8sReaderFactory(full, required, pushed)
  /** The generation's exact size; none for a stream's table. */
  override def estimateStatistics(): Statistics = {
    val g = snapshot
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        g.fold(OptionalLong.empty())(x => OptionalLong.of(x.sizeInBytes))
      override def numRows(): OptionalLong =
        g.fold(OptionalLong.empty())(x => OptionalLong.of(x.numRows))
    }
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new K8sMicroBatchStream(kind, path, full, required, pushed)
  override def description(): String =
    s"k8s-snapshot kind=$kind path=$path cols=${required.fieldNames.mkString(",")}" +
      s" filters=${pushed.mkString(",")}"
}

/** A snapshot scan as ONE partition that reads every block of the
  * generation in order: a `BatchScanExec` of one task. It reports
  * `SinglePartition`, so the aggregates, sorts and hash joins above it
  * need no exchange, and a plan whose leaves are all such scans can be
  * computed on the calling thread with no Spark job
  * (`graft.plans.LocalCollect`). `graft.plans.GraftStrategy` plans it for
  * a generation within `spark.sql.autoBroadcastJoinThreshold`; a larger
  * one keeps the `BatchScanExec` of one task per block.
  *
  * Its rows are views over the stored rows, as a `BatchScanExec`'s are,
  * so the strategy puts the projection that makes unsafe rows above it.
  * The scan is transient, as `BatchScanExec`'s is: a task ships the RDD,
  * not the scan.
  */
case class K8sSnapshotScanExec(output: Seq[AttributeReference],
    @transient scan: K8sScan) extends DataSourceV2ScanExecBase {
  override def outputPartitioning: Partitioning = SinglePartition
  override def keyGroupedPartitioning: Option[Seq[Expression]] = None
  override def ordering: Option[Seq[SortOrder]] = None
  override def readerFactory: PartitionReaderFactory = scan.createReaderFactory()
  override def inputPartitions: Seq[InputPartition] =
    scan.planInputPartitions().toSeq
  override lazy val inputRDD: RDD[InternalRow] = new DataSourceRDD(
    sparkContext, Seq(inputPartitions), readerFactory, false, customMetrics)
}

/** Streaming face of the connector — the reference's snapshot REFRESH
  * loop (`ksql.js:280`: re-list 10 s after startup) generalized to a
  * Structured Streaming source: each re-list lands as a new generation
  * file `<kind>-<gen>.json` in the watched directory, and every
  * micro-batch picks up exactly the not-yet-committed generations.
  *
  * Offsets are the MAX GENERATION NUMBER consumed (parsed from the
  * trailing digits of the filename), not an index into a name-sorted
  * listing: unpadded names (`pods-10.json` sorts before `pods-2.json`)
  * and files landing between `latestOffset` and `planInputPartitions`
  * would both shift index-based slices, replaying one generation and
  * skipping another. A gen-range selection `(start, end]` is stable
  * under both, so restart-from-checkpoint replays exactly the right
  * snapshots. The listing is captured once per batch at `latestOffset`;
  * each selected file is materialized as a [[K8sGeneration]] when the
  * batch is planned, and read by the batch reader (same pruning and
  * stamped-key filters).
  *
  * At scale each generation file is one API list response; a live
  * implementation swaps the directory listing for a watch bookmark —
  * the offset contract (monotone generation number) is unchanged.
  */
class K8sMicroBatchStream(kind: String, dir: String, full: StructType,
    required: StructType, filters: Array[org.apache.spark.sql.sources.Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Trailing digits of the basename (`pods-17.json` → 17). Files with
    * no generation number are not generations and are skipped.
    */
  private def genOf(name: String): Option[Long] = {
    val digits = name.stripSuffix(".json").reverse.takeWhile(_.isDigit).reverse
    if (digits.isEmpty || digits.length > 18) None else Some(digits.toLong)
  }

  private def listGenerations(): Array[(Long, String)] = {
    val d = new java.io.File(dir)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .flatMap(f => genOf(f.getName).map(g => (g, f.getAbsolutePath)))
      .sortBy(_._1)
    // a single-file path behaves as one generation (batch parity)
    if (fs.isEmpty && d.isFile) Array((0L, d.getAbsolutePath)) else fs
  }

  /** Listing captured at `latestOffset` so the batch planned against it
    * sees a consistent snapshot even if files land mid-plan.
    */
  @volatile private var captured: Array[(Long, String)] = Array.empty

  override def initialOffset(): Offset = K8sGenOffset(-1L)
  override def latestOffset(): Offset = {
    captured = listGenerations()
    K8sGenOffset(if (captured.isEmpty) -1L else captured.last._1)
  }
  override def deserializeOffset(json: String): Offset =
    K8sGenOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[K8sGenOffset].gen,
      end.asInstanceOf[K8sGenOffset].gen)
    // Replay after restart plans from the offset log without a fresh
    // latestOffset; re-list then — gen-range selection is stable anyway.
    val src =
      if (captured.nonEmpty && captured.last._1 >= e) captured
      else listGenerations()
    src.filter { case (g, _) => g > s && g <= e }
      .flatMap { case (_, p) => K8sGeneration.read(kind, p).partitions }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new K8sReaderFactory(full, required, filters)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class K8sGenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

/** The items of about [[K8sGeneration.ChunkBytes]] of list JSON as
  * full-schema `UnsafeRow`s, each stored as a 4-byte length and its
  * bytes, LZ4-compressed as a whole.
  */
final case class K8sChunk(rows: Int, rawBytes: Int, lz4: Array[Byte])

/** The chunks one task reads. */
final case class K8sRowBlock(chunks: Array[K8sChunk]) {
  def rows: Int = chunks.iterator.map(_.rows).sum
  def sizeInBytes: Long = chunks.iterator.map(_.lz4.length.toLong).sum

  /** The rows in order. Each chunk is decompressed into one buffer, and
    * one `UnsafeRow` is re-pointed at each row in turn: copy a row to
    * keep it past the next call.
    */
  def iterator(numFields: Int): Iterator[UnsafeRow] = {
    val lz4 = LZ4Factory.fastestInstance().safeDecompressor()
    val raw = new Array[Byte](chunks.iterator.map(_.rawBytes).maxOption.getOrElse(0))
    val buf = java.nio.ByteBuffer.wrap(raw)
    val row = new UnsafeRow(numFields)
    chunks.iterator.flatMap { c =>
      lz4.decompress(c.lz4, 0, c.lz4.length, raw, 0, c.rawBytes)
      var off = 0
      Iterator.fill(c.rows) {
        val n = buf.getInt(off)
        row.pointTo(raw, Platform.BYTE_ARRAY_OFFSET + off + 4, n)
        off += 4 + n
        row
      }
    }
  }
}

/** One input partition per block: the task carries the rows it reads. */
case class K8sInputPartition(block: K8sRowBlock) extends InputPartition

/** One list file, materialized: its items as full-schema rows in
  * compressed blocks. Immutable; it lives as long as its owner (a
  * [[K8sSnapshotTable]], or one micro-batch's partitions).
  */
final class K8sGeneration(val blocks: Array[K8sRowBlock]) {
  def numRows: Long = blocks.iterator.map(_.rows.toLong).sum
  /** Bytes held in memory: the compressed chunks. */
  def sizeInBytes: Long = blocks.iterator.map(_.sizeInBytes).sum
  def partitions: Array[InputPartition] = blocks.map(K8sInputPartition(_))
}

object K8sGeneration {
  /** List JSON per chunk: lz4-java's own stream block size. A chunk's
    * rows take about twice that, which LZ4 compresses well and a reader
    * decompresses into a buffer that stays in cache.
    */
  val ChunkBytes: Int = 1 << 16

  /** Most compressed bytes per block: Spark's recommended maximum task
    * size (the scheduler warns above 1000 KiB). A jobbed scan's tasks
    * share one serialized RDD, and a `DataSourceRDD` holds every input
    * partition, so each task binary carries every block of the
    * generation, not only its own: a snapshot under this size scans as
    * one task, a larger one as one task per block, each shipping the
    * whole generation. A generation within
    * `spark.sql.autoBroadcastJoinThreshold` is instead read as one
    * partition ([[K8sSnapshotScanExec]]), usually with no job at all.
    */
  val MaxBlockBytes: Int = 1000 * 1024

  /** Parse the list file at `path` once: each item becomes one row of the
    * full `kind` schema. Items are parsed in file order and cut into
    * chunks of about [[ChunkBytes]] of JSON; each chunk is converted and
    * compressed on the global pool while parsing goes on, at most two
    * chunks per core in flight.
    */
  def read(kind: String, path: String): K8sGeneration = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val full = K8sSnapshotTable.schemaFor(kind)
    // interpreted: generating code for these nested schemas compiles for
    // seconds, far longer than converting a large snapshot takes
    val fields = full.fields.toSeq.zipWithIndex
      .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
    val toUnsafe = ThreadLocal.withInitial(() =>
      InterpretedUnsafeProjection.createProjection(fields))
    val inFlight = 2 * Runtime.getRuntime.availableProcessors
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Future[K8sChunk]]
    K8sItems.foreachChunk(path, ChunkBytes) { items =>
      if (chunks.size >= inFlight) Await.ready(chunks(chunks.size - inFlight), Duration.Inf)
      chunks += Future(chunk(items, full, toUnsafe.get))
    }
    new K8sGeneration(pack(chunks.map(Await.result(_, Duration.Inf)).toSeq))
  }

  private def chunk(items: Array[JsonNode], full: StructType,
      toUnsafe: UnsafeProjection): K8sChunk = {
    val raw = new java.io.ByteArrayOutputStream(4 * ChunkBytes)
    val out = new java.io.DataOutputStream(raw)
    val scratch = new Array[Byte](1 << 12)
    items.foreach { item =>
      val row = toUnsafe(K8sItems.toRow(item, full))
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, scratch)
    }
    val bytes = raw.toByteArray
    K8sChunk(items.length, bytes.length,
      LZ4Factory.fastestInstance().fastCompressor().compress(bytes))
  }

  /** Consecutive chunks into blocks of at most [[MaxBlockBytes]]. */
  private def pack(chunks: Seq[K8sChunk]): Array[K8sRowBlock] = {
    val blocks = Array.newBuilder[K8sRowBlock]
    var cur = Vector.empty[K8sChunk]
    var bytes = 0L
    chunks.foreach { c =>
      if (cur.nonEmpty && bytes + c.lz4.length > MaxBlockBytes) {
        blocks += K8sRowBlock(cur.toArray); cur = Vector.empty; bytes = 0L
      }
      cur :+= c; bytes += c.lz4.length
    }
    if (cur.nonEmpty) blocks += K8sRowBlock(cur.toArray)
    blocks.result()
  }
}

/** The JSON→row converter: list file items as `InternalRow`s of a table
  * schema. It runs only when a generation is materialized.
  */
object K8sItems {
  /** The elements of the list's `items` array in order, parsed one at a
    * time and handed to `f` in runs that span about `bytes` of the file.
    */
  def foreachChunk(path: String, bytes: Int)(f: Array[JsonNode] => Unit): Unit = {
    val mapper = new ObjectMapper
    val p = mapper.getFactory.createParser(new java.io.File(path))
    def offset = p.currentLocation().getByteOffset
    try {
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val isItems = p.currentName() == "items"
          if (p.nextToken() == JsonToken.START_ARRAY && isItems) {
            val run = Array.newBuilder[JsonNode]
            var from = offset
            while (p.nextToken() != JsonToken.END_ARRAY) {
              run += mapper.readTree[JsonNode](p)
              if (offset - from >= bytes) {
                f(run.result()); run.clear(); from = offset
              }
            }
            if (run.knownSize > 0) f(run.result())
          } else p.skipChildren()
        }
    } finally p.close()
  }

  /** Compact JSON, the bytes of `JsonNode.toString` in UTF-8. */
  private val json = new ObjectMapper().writer()

  private def textAt(n: JsonNode, p1: String, p2: String): String = {
    val a = n.get(p1)
    if (a == null) null
    else { val b = a.get(p2); if (b == null || b.isNull) null else b.asText }
  }

  def toRow(item: JsonNode, schema: StructType): InternalRow = {
    val values = schema.fields.map { f =>
      K8sSnapshotTable.stampedFrom.get(f.name) match {
        case Some((p1, p2)) =>
          Option(textAt(item, p1, p2)).map(UTF8String.fromString).orNull
        case None if f.name == "_raw" =>
          UTF8String.fromBytes(json.writeValueAsBytes(item))
        case None => convert(item.get(f.name), f.dataType)
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  private def convert(node: JsonNode, dt: DataType): Any = {
    if (node == null || node.isNull) return null
    dt match {
      case StringType => UTF8String.fromString(
        if (node.isTextual) node.asText else node.toString)
      case IntegerType => if (node.isNumber) Int.box(node.asInt) else null
      case LongType => if (node.isNumber) Long.box(node.asLong) else null
      case DoubleType => if (node.isNumber) Double.box(node.asDouble) else null
      case BooleanType => if (node.isBoolean) Boolean.box(node.asBoolean) else null
      case s: StructType =>
        InternalRow.fromSeq(s.fields.toIndexedSeq.map(f =>
          convert(node.get(f.name), f.dataType)))
      case ArrayType(et, _) =>
        if (!node.isArray) null
        else new GenericArrayData(node.elements().asScala.map(convert(_, et)).toArray)
      case MapType(StringType, vt, _) =>
        if (!node.isObject) null
        else {
          val ks = node.fieldNames().asScala.toArray
          ArrayBasedMapData(
            ks.map(k => UTF8String.fromString(k): Any),
            ks.map(k => convert(node.get(k), vt)))
        }
      case other => sys.error(s"k8s-snapshot: unsupported type $other")
    }
  }
}

class K8sReaderFactory(full: StructType, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new K8sPartitionReader(p.asInstanceOf[K8sInputPartition].block,
      full, required, filters)
}

/** Reads one block: decompresses it, checks the pushed stamped-key
  * filters against each stored row, and projects the matching rows to
  * the required columns (a view over the stored row, no copy).
  */
class K8sPartitionReader(block: K8sRowBlock, full: StructType,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.sources._
  private val rows = block.iterator(full.length)
  private val out = ProjectingInternalRow(required,
    required.fieldNames.toIndexedSeq.map(full.fieldIndex))
  private val checks: Array[InternalRow => Boolean] = filters.map(check)

  /** Rows that passed the filters and were projected — observable from
    * K8sDsv2Spec to prove the pushdown skips rows, not just post-filters.
    */
  var converted: Long = 0L

  private def check(f: Filter): InternalRow => Boolean = {
    def key(a: String): InternalRow => UTF8String = {
      val i = full.fieldIndex(a)
      r => if (r.isNullAt(i)) null else r.getUTF8String(i)
    }
    def utf8(s: Any) = UTF8String.fromString(s.asInstanceOf[String])
    f match {
      case EqualTo(a, v) => val k = key(a); val u = utf8(v); r => u == k(r)
      case In(a, vs) =>
        val k = key(a); val us = vs.map(utf8).toSet; r => us.contains(k(r))
      case IsNotNull(a) => val k = key(a); r => k(r) != null
      case IsNull(a) => val k = key(a); r => k(r) == null
      case StringStartsWith(a, p) =>
        val k = key(a); val u = utf8(p)
        r => { val s = k(r); s != null && s.startsWith(u) }
      case StringContains(a, c) =>
        val k = key(a); val u = utf8(c)
        r => { val s = k(r); s != null && s.contains(u) }
      case other => sys.error(s"k8s-snapshot: unpushable filter $other")
    }
  }

  override def next(): Boolean = {
    while (rows.hasNext) {
      val row = rows.next()
      if (checks.forall(_(row))) {
        out.project(row); converted += 1
        return true
      }
    }
    false
  }
  override def get(): InternalRow = out
  override def close(): Unit = ()
}
