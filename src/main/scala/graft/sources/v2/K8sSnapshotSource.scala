package graft.sources.v2

import java.util
import java.util.OptionalLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import net.jpountz.lz4.{LZ4Factory, LZ4SafeDecompressor}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDD, DataSourceV2ScanExecBase}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}
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
  * list file once, on first use, into a [[K8sGeneration]] that the table
  * keeps for its lifetime: chunks of rows stored column by column, each
  * top-level column's values LZ4-compressed on their own, packed into
  * blocks. Every scan of the table reads those blocks, so a DataFrame
  * over it answers from one point-in-time snapshot however often the
  * file changes. The JSON→row conversion runs only at that step. A table
  * derived from one (`containers`, flattened from `pods` at
  * `graft.sources.K8sSnapshot.load`) stores its rows the same way.
  *
  * As Dremel reads only the columns a query touches, a scan decompresses
  * only its columns: top-level column pruning
  * (`SupportsPushDownRequiredColumns`) picks them, and `count(*)` reads
  * none. The stamped-key filters (`SupportsPushDownFilters`) are checked
  * on each stored row after only their own columns are decompressed, and
  * a chunk's other columns are decompressed only when one of its rows
  * passes; only matching rows are projected. The scan reports the
  * generation's exact row count and compressed size
  * (`SupportsReportStatistics`), and the compressed bytes it decompressed
  * as the custom metric `bytesDecompressed` ([[K8sBytesDecompressed]]).
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

  /** A table `kind` of `schema` whose rows, `generation`, were computed
    * from the table of the list file at `from`. */
  def derived(kind: String, from: String, schema: StructType,
      generation: K8sGeneration): K8sSnapshotTable =
    new K8sSnapshotTable(kind, from, schema, () => generation)
}

/** One list file as a table. `path` names a list file for batch reads,
  * or a directory of generation files for the micro-batch stream. A
  * table derived from a list file (`K8sSnapshotTable.derived`) holds rows
  * computed from that file's table instead, and `path` names that file.
  */
class K8sSnapshotTable private (val kind: String, val path: String,
    tableSchema: StructType, materialize: () => K8sGeneration)
    extends Table with SupportsRead {
  def this(kind: String, path: String) = this(kind, path,
    K8sSnapshotTable.schemaFor(kind), () => K8sGeneration.read(kind, path))

  override def name(): String = s"k8s-snapshot:$kind:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** The snapshot every batch scan of this table reads: `path` parsed on
    * first use and kept until the table itself is unreachable (when the
    * last plan bound to it is gone). Never re-read, so a file rewritten
    * meanwhile is seen only by a new table.
    */
  lazy val generation: K8sGeneration = materialize()

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

  /** Top-level pruning: a requested column keeps its full type, since
    * each top-level column is stored, and decompressed, whole.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(full(_)))

  /** Push simple predicates on the STAMPED key columns (uid/name/node)
    * down to the reader: each stored row is checked on those columns
    * alone before anything else is decompressed or projected, so on a
    * large cluster snapshot a `WHERE node = 'x'` projects only x's pods,
    * not the fleet (SURVEY §4 checklist), and decompresses the other
    * columns only of the chunks holding them. The evaluation is exact,
    * so accepted filters produce no residual for Spark to re-check.
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
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new K8sBytesDecompressed)
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

/** One top-level column of a chunk: each row's value as a one-field
  * `UnsafeRow` after a 4-byte length, `rawBytes` in all, LZ4-compressed
  * as a whole.
  */
final case class K8sColumn(rawBytes: Int, lz4: Array[Byte])

/** The rows of about [[K8sGeneration.ChunkBytes]] of list JSON (of rows,
  * for a derived table), stored column by column: `columns(i)` holds
  * column i of the table schema for all `rows` rows, in row order. A
  * reader decompresses only the columns it reads.
  */
final case class K8sChunk(rows: Int, columns: Array[K8sColumn]) {
  def lz4Bytes: Long = columns.iterator.map(_.lz4.length.toLong).sum
}

/** The chunks one task reads. */
final case class K8sRowBlock(chunks: Array[K8sChunk]) {
  def rows: Int = chunks.iterator.map(_.rows).sum
  def sizeInBytes: Long = chunks.iterator.map(_.lz4Bytes).sum

  /** The rows of the block that `keep` accepts, in order, as one row of
    * `numFields` fields re-pointed at each in turn: copy a row to keep it
    * past the next call. Only the columns `first` and `rest` are read;
    * the others are never decompressed, and must not be read.
    *
    * Per chunk, the `first` columns are decompressed and `keep` is asked
    * of every row with only those set; the `rest` are decompressed only
    * when at least one of the chunk's rows passed. With no `first`
    * columns every row passes. `inflated` is told the compressed size of
    * each column it decompresses.
    */
  def iterator(numFields: Int, first: Array[Int], rest: Array[Int],
      keep: InternalRow => Boolean, inflated: Int => Unit): Iterator[InternalRow] = {
    val lz4 = LZ4Factory.fastestInstance().safeDecompressor()
    val cursors = new Array[K8sColumnCursor](numFields)
    (first ++ rest).foreach(i => cursors(i) = new K8sColumnCursor(
      chunks.iterator.map(_.columns(i).rawBytes).maxOption.getOrElse(0)))
    val row = new K8sColumnsRow(cursors.map(c => if (c == null) null else c.row))
    val firsts = first.map(cursors)
    val all = (first ++ rest).map(cursors)
    def load(c: K8sChunk, cols: Array[Int]): Unit = cols.foreach { i =>
      cursors(i).load(c.columns(i), lz4)
      inflated(c.columns(i).lz4.length)
    }
    chunks.iterator.flatMap { c =>
      load(c, first)
      val pass = if (first.isEmpty) null
        else Array.tabulate(c.rows) { _ => firsts.foreach(_.next()); keep(row) }
      if (pass != null && !pass.contains(true)) Iterator.empty
      else {
        firsts.foreach(_.rewind())
        load(c, rest)
        Iterator.range(0, c.rows)
          .filter { r => all.foreach(_.next()); pass == null || pass(r) }
          .map(_ => row)
      }
    }
  }
}

/** One column of the chunk being read: its decompressed values, and a
  * one-field `UnsafeRow` pointed at each value in turn by `next`. */
private[v2] final class K8sColumnCursor(capacity: Int) {
  private val raw = new Array[Byte](capacity)
  private val buf = java.nio.ByteBuffer.wrap(raw)
  private var off = 0
  val row = new UnsafeRow(1)

  def load(c: K8sColumn, lz4: LZ4SafeDecompressor): Unit = {
    lz4.decompress(c.lz4, 0, c.lz4.length, raw, 0, c.rawBytes)
    off = 0
  }
  def rewind(): Unit = off = 0
  def next(): Unit = {
    val n = buf.getInt(off)
    row.pointTo(raw, Platform.BYTE_ARRAY_OFFSET + off + 4, n)
    off += 4 + n
  }
}

/** A row of a chunk as a view over its columns: field i is the value
  * `cols(i)` points at. A column not read has no `UnsafeRow`, and its
  * field must not be read. Read-only. */
private[v2] final class K8sColumnsRow(cols: Array[UnsafeRow]) extends InternalRow {
  override def numFields: Int = cols.length
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
  override def copy(): InternalRow =
    new K8sColumnsRow(cols.map(c => if (c == null) null else c.copy()))
  override def isNullAt(i: Int): Boolean = cols(i).isNullAt(0)
  override def getBoolean(i: Int): Boolean = cols(i).getBoolean(0)
  override def getByte(i: Int): Byte = cols(i).getByte(0)
  override def getShort(i: Int): Short = cols(i).getShort(0)
  override def getInt(i: Int): Int = cols(i).getInt(0)
  override def getLong(i: Int): Long = cols(i).getLong(0)
  override def getFloat(i: Int): Float = cols(i).getFloat(0)
  override def getDouble(i: Int): Double = cols(i).getDouble(0)
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    cols(i).getDecimal(0, precision, scale)
  override def getUTF8String(i: Int): UTF8String = cols(i).getUTF8String(0)
  override def getBinary(i: Int): Array[Byte] = cols(i).getBinary(0)
  override def getGeography(i: Int): GeographyVal = cols(i).getGeography(0)
  override def getGeometry(i: Int): GeometryVal = cols(i).getGeometry(0)
  override def getInterval(i: Int): CalendarInterval = cols(i).getInterval(0)
  override def getVariant(i: Int): VariantVal = cols(i).getVariant(0)
  override def getStruct(i: Int, numFields: Int): InternalRow = cols(i).getStruct(0, numFields)
  override def getArray(i: Int): ArrayData = cols(i).getArray(0)
  override def getMap(i: Int): MapData = cols(i).getMap(0)
  override def get(i: Int, dataType: DataType): AnyRef = cols(i).get(0, dataType)
}

/** One input partition per block: the task carries the rows it reads. */
case class K8sInputPartition(block: K8sRowBlock) extends InputPartition

/** One list file, materialized: its items as full-schema rows in
  * column-compressed chunks, packed into blocks (or a derived table's
  * rows, the same way). Immutable; it lives as long as its owner (a
  * [[K8sSnapshotTable]], or one micro-batch's partitions).
  */
final class K8sGeneration(val blocks: Array[K8sRowBlock]) {
  def numRows: Long = blocks.iterator.map(_.rows.toLong).sum
  /** Bytes held in memory: the compressed columns of every chunk. */
  def sizeInBytes: Long = blocks.iterator.map(_.sizeInBytes).sum
  def partitions: Array[InputPartition] = blocks.map(K8sInputPartition(_))
}

object K8sGeneration {
  /** List JSON per chunk: lz4-java's own stream block size. A chunk's
    * rows take about twice that, split over its columns, which LZ4
    * compresses well and a reader decompresses into buffers that stay in
    * cache. It is also the unit a pushed filter skips: a chunk with no
    * matching row decompresses only the filter's columns.
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
    val inFlight = 2 * Runtime.getRuntime.availableProcessors
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Future[K8sChunk]]
    K8sItems.foreachChunk(path, ChunkBytes) { items =>
      if (chunks.size >= inFlight) Await.ready(chunks(chunks.size - inFlight), Duration.Inf)
      chunks += Future {
        val w = new ChunkWriter(full)
        items.foreach(item => w.add(K8sItems.toRow(item, full)))
        w.result()
      }
    }
    new K8sGeneration(pack(chunks.map(Await.result(_, Duration.Inf)).toSeq))
  }

  /** The rows of a derived table, in order, cut into chunks of about
    * [[ChunkBytes]] of rows. */
  def of(schema: StructType, rows: Iterator[InternalRow]): K8sGeneration = {
    val chunks = Seq.newBuilder[K8sChunk]
    var w = new ChunkWriter(schema)
    rows.foreach { r =>
      w.add(r)
      if (w.bytes >= ChunkBytes) { chunks += w.result(); w = new ChunkWriter(schema) }
    }
    if (w.rows > 0) chunks += w.result()
    new K8sGeneration(pack(chunks.result()))
  }

  /** Rows of `schema` written as one chunk, column by column: each
    * row's value of column i as a one-field `UnsafeRow` after its length
    * in column i's buffer, each buffer LZ4-compressed at `result`.
    */
  private final class ChunkWriter(schema: StructType) {
    // interpreted: generating code for the nested snapshot schemas
    // compiles for seconds, far longer than converting a large snapshot
    private val columns = schema.fields.zipWithIndex.map { case (f, i) =>
      InterpretedUnsafeProjection.createProjection(
        Seq(BoundReference(i, f.dataType, f.nullable)))
    }
    private val raw = columns.map(_ => new java.io.ByteArrayOutputStream(ChunkBytes))
    private val out = raw.map(new java.io.DataOutputStream(_))
    private val scratch = new Array[Byte](1 << 12)
    var rows = 0

    def add(row: InternalRow): Unit = {
      var i = 0
      while (i < columns.length) {
        val v = columns(i)(row)
        out(i).writeInt(v.getSizeInBytes)
        v.writeToStream(out(i), scratch)
        i += 1
      }
      rows += 1
    }

    def bytes: Int = raw.iterator.map(_.size).sum

    def result(): K8sChunk = {
      val lz4 = LZ4Factory.fastestInstance().fastCompressor()
      K8sChunk(rows, raw.map { r =>
        val b = r.toByteArray
        K8sColumn(b.length, lz4.compress(b))
      })
    }
  }

  /** Consecutive chunks into blocks of at most [[MaxBlockBytes]]. */
  private def pack(chunks: Seq[K8sChunk]): Array[K8sRowBlock] = {
    val blocks = Array.newBuilder[K8sRowBlock]
    var cur = Vector.empty[K8sChunk]
    var bytes = 0L
    chunks.foreach { c =>
      if (cur.nonEmpty && bytes + c.lz4Bytes > MaxBlockBytes) {
        blocks += K8sRowBlock(cur.toArray); cur = Vector.empty; bytes = 0L
      }
      cur :+= c; bytes += c.lz4Bytes
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

/** Reads one block: decompresses the columns of the pushed stamped-key
  * filters, checks the filters on each stored row, decompresses the
  * other required columns of the chunks where a row passed, and projects
  * the matching rows to the required columns (a view over the stored
  * columns, no copy). A scan with no filters and no required columns
  * (`count(*)`) decompresses nothing.
  */
class K8sPartitionReader(block: K8sRowBlock, full: StructType,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.sources._

  /** Rows that passed the filters and were projected — observable from
    * K8sDsv2Spec to prove the pushdown skips rows, not just post-filters.
    */
  var converted: Long = 0L

  /** Compressed bytes of the columns decompressed so far, with those of
    * the readers before this one in the same task (`initMetricsValues`).
    */
  var bytesDecompressed: Long = 0L

  private val checks: Array[InternalRow => Boolean] = filters.map(check)
  private val wanted = required.fieldNames.map(full.fieldIndex)
  private val first = filters.flatMap(_.references).distinct.map(full.fieldIndex)
  private val rows = block.iterator(full.length, first, wanted.filterNot(first.contains),
    r => checks.forall(_(r)), bytesDecompressed += _)
  private val out = ProjectingInternalRow(required, wanted.toIndexedSeq)

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

  override def next(): Boolean = rows.hasNext && {
    out.project(rows.next()); converted += 1
    true
  }
  override def get(): InternalRow = out
  override def close(): Unit = ()

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(K8sBytesDecompressed.value(bytesDecompressed))
  override def initMetricsValues(metrics: Array[CustomTaskMetric]): Unit =
    metrics.find(_.name == K8sBytesDecompressed.Name)
      .foreach(m => bytesDecompressed += m.value)
}

/** The scan's "bytes decompressed" metric: the compressed bytes of every
  * column a scan decompressed, summed over its tasks. Spark creates it by
  * class name, so it keeps a no-argument constructor. */
class K8sBytesDecompressed extends CustomSumMetric {
  override def name(): String = K8sBytesDecompressed.Name
  override def description(): String = "bytes decompressed"
}

object K8sBytesDecompressed {
  val Name = "bytesDecompressed"

  def value(bytes: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = Name
    override def value(): Long = bytes
  }
}
