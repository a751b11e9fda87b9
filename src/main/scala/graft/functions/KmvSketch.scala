package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

import scala.collection.mutable

/** KMV (k-minimum-values) DISTINCT-COUNT SKETCH (Bar-Yossef et al. '02 /
  * Beyer et al. SIGMOD '07) of a string key column, as a MERGEABLE
  * TypedImperativeAggregate — the distinct-count member of the custom
  * sketch family (q77's Misra-Gries finds who dominates; this estimates
  * HOW MANY distincts there are from k values of state).
  *
  * The buffer keeps the k lexicographically-smallest md5 hex digests of
  * the values seen. Fixed-width hex compares lexicographically exactly
  * as the 128-bit integer it encodes, and md5 is PORTABLE — so unlike
  * hash-function sketches tied to an engine (q38's HLL), the ENTIRE
  * sketch state is deterministic and cross-engine replayable: the same
  * value set yields byte-identical bottom-k under ANY partitioning or
  * merge tree (min-k of a set is order-independent). That makes the
  * sketch itself oracle-checkable, not just its error envelope.
  *
  * Estimate (consumer-side, q85): with h = the k-th smallest hash
  * mapped to [0,1), E[distinct] ≈ (k−1)/h — evaluated in exact integer
  * arithmetic over the first 48 hash bits: (k−1)·2⁴⁸ div h48.
  *
  * Merge = set-union then trim to k: the classic mergeable-summary
  * property, O(k) state per partition at any scale.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[String]] {

  require(k >= 2, s"kmv_sketch: k must be >= 2, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("n_kept", LongType, nullable = false),
    StructField("kth_hash", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): mutable.TreeSet[String] =
    mutable.TreeSet.empty

  override def update(buf: mutable.TreeSet[String],
      input: InternalRow): mutable.TreeSet[String] = {
    val v = child.eval(input)
    if (v == null) return buf
    val h = KmvSketch.md5Hex(v.toString)
    if (buf.size < k) buf += h
    else if (h < buf.last && !buf.contains(h)) {
      buf -= buf.last
      buf += h
    }
    buf
  }

  override def merge(b1: mutable.TreeSet[String],
      b2: mutable.TreeSet[String]): mutable.TreeSet[String] = {
    b1 ++= b2
    while (b1.size > k) b1 -= b1.last
    b1
  }

  override def eval(buf: mutable.TreeSet[String]): Any =
    InternalRow(buf.size.toLong,
      if (buf.size == k) UTF8String.fromString(buf.last) else null)

  override def serialize(buf: mutable.TreeSet[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeUTF)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[String] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[String]
    var i = 0
    while (i < n) { buf += in.readUTF(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "kmv_sketch"
}

object KmvSketch {
  /** Lowercase hex of the MD5 digest of `bytes` (the `md5()` SQL text).
    * One StringBuilder per call: it runs per row in [[KmvSketch]]'s
    * update, per event in the ledger/cms stream faces and per image in
    * the multimodal fingerprints. */
  def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** [[md5Hex]] of the UTF-8 bytes of `s`. */
  def md5Hex(s: String): String = md5Hex(s.getBytes("UTF-8"))

  /** KMV distinct sketch with k minima (mergeable, deterministic state —
    * see [[KmvSketch]]).
    */
  def kmv_sketch(c: Column, k: Int): Column =
    GraftShim.column(
      KmvSketch(GraftShim.expression(c), k).toAggregateExpression())
}
