package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import graft.plans.LocalCollect

/** Result sinks (SURVEY §2.3): the `{headers, data}` wire shape
  * (`/root/reference/ksql.js:137-154`), the ASCII table with `[]` on
  * empty (`ksql.js:160-170`), and JSON rendering for the HTTP API
  * (`ksql.js:299-305`). Spark gives every row a uniform schema, so the
  * reference's first-row-only header quirk disappears (documented
  * superset behavior, SURVEY §2.3 K1).
  *
  * `process` collects the whole result: these are terminal REPL/HTTP
  * renderers for human-sized results, not operators; large results
  * belong in `df.write` paths. `process(df)` collects through
  * `graft.plans.LocalCollect`: a query over snapshot-sized tables is
  * prepared and run on the calling thread with no Spark job, and any
  * other query is `df.collect()`. It keeps no prepared plan; the server
  * (`graft.server.Ksql.answer`) keeps them per snapshot generation, and
  * renders what it collects with `process(columns, rows)`.
  */
object Render {

  case class Result(headers: Seq[String], data: Seq[Seq[Any]])

  /** K1: result → headers + row matrix. */
  def process(df: DataFrame): Result = process(df.columns.toSeq, LocalCollect(df))

  def process(columns: Seq[String], rows: Array[Row]): Result =
    Result(columns, rows.toSeq.map(_.toSeq))

  /** JSON value rendering for rows — handles nested structs, maps,
    * arrays, null, numerics, booleans; everything else as a string.
    */
  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) jsonString(d.toString)
      else d.toString
    // Float's own shortest form, as the ASCII sink prints it: widened
    // to a double, 1.1f would print as 1.100000023841858
    case f: Float => if (f.isNaN || f.isInfinite) jsonString(f.toString)
      else f.toString
    case d: java.math.BigDecimal => d.toPlainString
    case r: Row => r.schema match {
      case null => r.toSeq.map(jsonValue).mkString("[", ",", "]")
      case sch => sch.fieldNames.zip(r.toSeq)
        .map { case (k, x) => jsonString(k) + ":" + jsonValue(x) }
        .mkString("{", ",", "}")
    }
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonString(String.valueOf(k)) + ":" + jsonValue(x) }
        .mkString("{", ",", "}")
    case a: scala.collection.Seq[_] =>
      a.map(jsonValue).mkString("[", ",", "]")
    // binary before the generic array case, which would match it too
    case b: Array[Byte] => jsonString(base64(b))
    case a: Array[_] => a.toSeq.map(jsonValue).mkString("[", ",", "]")
    case other => jsonString(other.toString)
  }

  /** Binary cells render as base64 in both sinks. */
  private def base64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)

  /** JSON string literal: escapes the quote, the backslash and every
    * control character (< 0x20). */
  private[graft] def jsonString(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append("\\u00")
          .append(Character.forDigit(c >> 4, 16))
          .append(Character.forDigit(c & 0xf, 16))
        case c => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }

  /** K3: the `{headers, data}` JSON wire shape, 2-space pretty like the
    * reference (`JSON.stringify(..., null, 2)`-compatible consumers only
    * need the field names, but we keep it readable).
    */
  def toJson(r: Result): String = {
    val headers = r.headers.map(jsonString).mkString("[", ", ", "]")
    val rows = r.data.map(row =>
      row.map(jsonValue).mkString("[", ", ", "]"))
      .mkString("[\n    ", ",\n    ", "\n  ]")
    s"""{\n  "headers": $headers,\n  "data": ${if (r.data.isEmpty) "[]" else rows}\n}"""
  }

  /** Scalar cell display (ASCII table): null → empty, like cli-table2. */
  private def cell(v: Any): String = v match {
    case null => ""
    case r: Row => jsonValue(r)
    case m: scala.collection.Map[_, _] => jsonValue(m)
    case a: scala.collection.Seq[_] => jsonValue(a)
    case b: Array[Byte] => base64(b)
    case x => x.toString
  }

  /** K2: ASCII table; empty result renders as `[]` (ksql.js:160-161). */
  def toAscii(r: Result): String = {
    if (r.data.isEmpty) return "[]"
    val rows = r.data.map(_.map(cell))
    val widths = r.headers.indices.map { i =>
      (r.headers(i).length +: rows.map(_(i).length)).max
    }
    def line(l: String, m: String, rt: String): String =
      widths.map("-" * (_: Int)).mkString(l + "-", "-" + m + "-", "-" + rt)
    def fmt(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    (Seq(line("+", "+", "+"), fmt(r.headers), line("+", "+", "+")) ++
      rows.map(fmt) :+ line("+", "+", "+")).mkString("\n")
  }
}
