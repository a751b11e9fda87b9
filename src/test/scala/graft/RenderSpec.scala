package graft

import graft.sinks.Render

/** Sink semantics (SURVEY §2.3): `[]` on empty, {headers,data} JSON
  * wire shape, null rendering.
  */
class RenderSpec extends SparkSpec {
  import spark.implicits._

  test("empty result renders [] (ksql.js:160-161)") {
    val df = Seq.empty[(Int, String)].toDF("a", "b")
    assert(Render.toAscii(Render.process(df)) == "[]")
  }

  test("ascii table has headers and rows") {
    val df = Seq((1, "x"), (2, null.asInstanceOf[String])).toDF("a", "b")
    val out = Render.toAscii(Render.process(df.orderBy("a")))
    assert(out.contains("| a | b |"))
    assert(out.contains("| 1 | x |"))
    assert(out.startsWith("+---+---+"))
  }

  test("json wire shape {headers, data} (ksql.js:150-153)") {
    val df = Seq((1, "x")).toDF("a", "b")
    val json = Render.toJson(Render.process(df))
    assert(json.contains("\"headers\": [\"a\", \"b\"]"))
    assert(json.contains("[1, \"x\"]"))
  }

  test("json renders nulls, nested maps and arrays") {
    val df = Seq((Map("k" -> "v"), Seq(1, 2), null.asInstanceOf[String]))
      .toDF("m", "arr", "s")
    val json = Render.toJson(Render.process(df))
    assert(json.contains("{\"k\":\"v\"}"))
    assert(json.contains("[1,2]"))
    assert(json.contains("null"))
  }

  test("binary cells render as base64 in the JSON and the ASCII table") {
    val r = Render.process(spark.sql("select unhex('cafe') as b"))
    assert(Render.toJson(r).contains("[\"yv4=\"]"))
    assert(Render.toAscii(r).contains("| yv4= |"))
  }

  test("floats print in their own shortest form in the JSON and the ASCII table") {
    val r = Render.process(spark.sql(
      "select cast(1.1 as float) as a, cast(0.1 as float) as b, " +
        "cast('NaN' as float) as c, cast('-Infinity' as float) as d"))
    assert(Render.toJson(r).contains("[1.1, 0.1, \"NaN\", \"-Infinity\"]"), Render.toJson(r))
    assert(Render.toAscii(r).contains("| 1.1 | 0.1 | NaN | -Infinity |"), Render.toAscii(r))
  }

  test("json strings escape quote, backslash and control characters; keep non-ASCII") {
    val in = "a\"b\\c\nd\re\tf\u0001g\u001fh é 日"
    assert(Render.jsonString(in) ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh é 日\"")
    val json = Render.toJson(Render.process(Seq(in).toDF("s")))
    assert(json.contains("[\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh é 日\"]"), json)
    // every UTF-16 unit escapes as the per-character mapping always did
    def perChar(c: Char): String = c match {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    for (c <- Char.MinValue to Char.MaxValue)
      assert(Render.jsonString(c.toString) == "\"" + perChar(c) + "\"", c.toInt)
  }
}
