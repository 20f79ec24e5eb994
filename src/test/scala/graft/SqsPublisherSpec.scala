package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SqsPublisher

class SqsPublisherSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("golden envelope: nodes then relations, header-order keys") {
    val nodes = Seq(("mysql://main.shop/orders", "Table", "orders"))
      .toDF("KEY", "LABEL", "name")
    val rels = Seq(("mysql://main.shop", "Schema", "mysql://main.shop/orders",
      "Table", "TABLE", "TABLE_OF"))
      .toDF("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE", "REVERSE_TYPE")
    val t = new SqsPublisher.Recording
    val body = SqsPublisher.publishParity(nodes, rels, t, "q://x")
    assert(body ==
      """{"nodes": [{"KEY": "mysql://main.shop/orders", "LABEL": "Table", "name": "orders"}], """ +
      """"relations": [{"START_KEY": "mysql://main.shop", "START_LABEL": "Schema", """ +
      """"END_KEY": "mysql://main.shop/orders", "END_LABEL": "Table", "TYPE": "TABLE", """ +
      """"REVERSE_TYPE": "TABLE_OF"}]}""")
    assert(t.sent.map(m => (m._1, m._3)) == Seq(("q://x", "metadata")))
  }

  test("json escaping: quotes, newlines, control chars, nulls") {
    val j = SqsPublisher.rowJson(Seq("a", "b"), Seq("x\"y\nz" + 1.toChar, null))
    assert(j == """{"a": "x\"y\nz""" + "\\u0001" + """", "b": null}""")
  }

  test("parity mode enforces the 250 KB reference bound") {
    val big = Seq.fill(3000)("x" * 100).zipWithIndex
      .map { case (s, i) => (s"k$i", "Label", s) }
      .toDF("KEY", "LABEL", "name")
    val rels = spark.emptyDataFrame
    val t = new SqsPublisher.Recording
    val e = intercept[SqsPublisher.MessageTooLarge] {
      SqsPublisher.publishParity(big, big.limit(0), t, "q://x")
    }
    assert(e.bytes > SqsPublisher.MaxMessageBytes)
    assert(t.sent.isEmpty) // nothing sent on failure
  }

  test("chunked mode accounts UTF-8 bytes, not chars (CJK payloads)") {
    // 3-byte CJK chars: a char-count budget would overshoot the byte cap
    val nodes = (1 to 60).map(i => (s"key$i", "Label", "试" * 20))
      .toDF("KEY", "LABEL", "name")
    val t = new SqsPublisher.Recording
    SqsPublisher.publishChunked(nodes, nodes.limit(0), t, "q://x", maxBytes = 1024)
    assert(t.sent.nonEmpty)
    assert(t.sent.map(_._2).forall(_.getBytes("UTF-8").length <= 1024))
    assert(t.sent.map(b => "\"KEY\"".r.findAllIn(b._2).size).sum == 60)
    // a single row that can never fit fails loudly instead of oversending
    val huge = Seq(("k", "Label", "语" * 2000)).toDF("KEY", "LABEL", "name")
    val cause = intercept[org.apache.spark.SparkException] {
      SqsPublisher.publishChunked(huge, huge.limit(0), new SqsPublisher.Recording, "q://x", maxBytes = 1024)
    }
    assert(exceptionChain(cause).exists(_.isInstanceOf[SqsPublisher.RowTooLarge]))
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("DSv2 sink: format(\"graft-sqs\") chunk-publishes executor-side") {
    val rec = new SqsPublisher.Recording
    val nodes = (1 to 300).map(i => (s"key$i", "Label", "v" * 40))
      .toDF("KEY", "LABEL", "name")
    nodes.repartition(4)
      .write.format("graft-sqs")
      .option("queue_url", "q://v2")
      .option("transport", s"recording:${rec.id}")
      .option("kind", "nodes")
      .option("max_bytes", "2048")
      .mode("append").save()
    val bodies = rec.sent
    assert(bodies.forall { case (q, b, g) =>
      q == "q://v2" && g == "metadata" && b.getBytes("UTF-8").length <= 2048 &&
        b.startsWith("""{"nodes": [""")
    })
    assert(bodies.map(b => "\"KEY\"".r.findAllIn(b._2).size).sum == 300)
    // relations kind lands rows in the relations array
    val rels = Seq(("s1", "A", "e1", "B", "T", "T_OF"))
      .toDF("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE", "REVERSE_TYPE")
    val rec2 = new SqsPublisher.Recording
    rels.write.format("graft-sqs")
      .option("queue_url", "q://v2")
      .option("transport", s"recording:${rec2.id}")
      .option("kind", "relations")
      .mode("append").save()
    assert(rec2.sent.size == 1)
    assert(rec2.sent.head._2.startsWith("""{"nodes": [], "relations": [{"START_KEY": "s1""""))
  }

  test("DSv2 sink renders external values for non-string columns (parity with publishChunked)") {
    // regression: the writer once serialized Catalyst internals —
    // timestamps as raw micros, dates as epoch days
    val rec = new SqsPublisher.Recording
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Date.valueOf("2024-01-01"), 2.5))
      .toDF("KEY", "ts", "day", "score")
    df.write.format("graft-sqs")
      .option("queue_url", "q://types")
      .option("transport", s"recording:${rec.id}")
      .mode("append").save()
    val body = rec.sent.head._2
    assert(body.contains("\"ts\": \"2024-01-01 00:00:00"), body)
    assert(body.contains("\"day\": \"2024-01-01\""), body)
    assert(body.contains("\"score\": \"2.5\""), body)
    assert(!body.contains("1704067200000000"), body) // raw micros
    // byte-identical to the imperative chunked path on the same frame
    val rec2 = new SqsPublisher.Recording
    SqsPublisher.publishChunked(df, df.limit(0), rec2, "q://types")
    assert(rec2.sent.head._2 == body)
  }

  test("chunked mode: every row delivered, every message under the cap") {
    val nodes = (1 to 500).map(i => (s"key$i", "Label", "v" * 50))
      .toDF("KEY", "LABEL", "name")
    val rels = (1 to 100).map(i => (s"s$i", "A", s"e$i", "B", "T", "T_OF"))
      .toDF("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE", "REVERSE_TYPE")
    val t = new SqsPublisher.Recording
    SqsPublisher.publishChunked(nodes, rels, t, "q://x", maxBytes = 2048)
    val bodies = t.sent.map(_._2)
    assert(bodies.forall(_.getBytes("UTF-8").length <= 2048))
    val keyCount = bodies.map(b => "\"KEY\"".r.findAllIn(b).size).sum
    val relCount = bodies.map(b => "\"START_KEY\"".r.findAllIn(b).size).sum
    assert(keyCount == 500 && relCount == 100)
  }

  // Hostile rows for the golden bodies: quote, backslash, control chars,
  // CJK, emoji, a lone surrogate (Spark stores strings as UTF-8, so it
  // reaches the publisher as '?'), null and "", sized so that 200-byte
  // envelopes hold one to three rows each.
  private def hostileNodes = Seq(
    ("q\"uote", "back\\slash", "Table"),
    ("ctl", "\u0001bell\u001f", "Table"),
    ("nl", "line\nbreak\r\ttab", "Column"),
    ("cjk", "\u8BD5\u9A8C\u6570\u636E\u8868", "Column"),
    ("emoji", "\uD83D\uDE00\uD83C\uDF89", "Column"),
    ("lone", "x\uD800y", "Column"),
    ("null", null, "Column"),
    ("empty", "", "Column"),
    ("long", "\u00E9" * 30, "Description")).toDF("KEY", "name", "LABEL").coalesce(1)
  private def hostileRelations = Seq(
    ("q\"uote", "Table", "cjk", "Column", "COLUMN_OF", "COLUMN"),
    ("emoji", "Column", null, "Table", "", "TABLE"),
    ("\u8BD5", "A", "\uD83D\uDE00", "B", "x\\y", "T"))
    .toDF("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "REVERSE_TYPE", "TYPE").coalesce(1)

  // bodies the publisher produced for the hostile rows before the
  // envelope builder was shared, byte for byte
  private val goldenChunked = Seq(
    "{\"nodes\": [{\"KEY\": \"q\\\"uote\", \"name\": \"back\\\\slash\", " +
      "\"LABEL\": \"Table\"}, {\"KEY\": \"ctl\", \"name\": \"\\u0001bell\\u001f\", " +
      "\"LABEL\": \"Table\"}], \"relations\": []}",
    "{\"nodes\": [{\"KEY\": \"nl\", \"name\": \"line\\nbreak\\r\\ttab\", " +
      "\"LABEL\": \"Column\"}, {\"KEY\": \"cjk\", " +
      "\"name\": \"\u8BD5\u9A8C\u6570\u636E\u8868\", \"LABEL\": \"Column\"}], " +
      "\"relations\": []}",
    "{\"nodes\": [{\"KEY\": \"emoji\", \"name\": \"\uD83D\uDE00\uD83C\uDF89\", " +
      "\"LABEL\": \"Column\"}, {\"KEY\": \"lone\", \"name\": \"x?y\", \"LABEL\": \"Column\"}, " +
      "{\"KEY\": \"null\", \"name\": null, \"LABEL\": \"Column\"}], \"relations\": []}",
    "{\"nodes\": [{\"KEY\": \"empty\", \"name\": \"\", \"LABEL\": \"Column\"}, " +
      "{\"KEY\": \"long\", " +
      "\"name\": \"" + "\u00E9" * 30 + "\", " +
      "\"LABEL\": \"Description\"}], \"relations\": []}",
    "{\"nodes\": [], \"relations\": [{\"START_KEY\": \"q\\\"uote\", " +
      "\"START_LABEL\": \"Table\", \"END_KEY\": \"cjk\", \"END_LABEL\": \"Column\", " +
      "\"REVERSE_TYPE\": \"COLUMN_OF\", \"TYPE\": \"COLUMN\"}]}",
    "{\"nodes\": [], \"relations\": [{\"START_KEY\": \"emoji\", \"START_LABEL\": \"Column\", " +
      "\"END_KEY\": null, \"END_LABEL\": \"Table\", \"REVERSE_TYPE\": \"\", " +
      "\"TYPE\": \"TABLE\"}]}",
    "{\"nodes\": [], \"relations\": [{\"START_KEY\": \"\u8BD5\", \"START_LABEL\": \"A\", " +
      "\"END_KEY\": \"\uD83D\uDE00\", \"END_LABEL\": \"B\", \"REVERSE_TYPE\": \"x\\\\y\", " +
      "\"TYPE\": \"T\"}]}")
  private val goldenParity =
    "{\"nodes\": [{\"KEY\": \"q\\\"uote\", \"name\": \"back\\\\slash\", " +
      "\"LABEL\": \"Table\"}, {\"KEY\": \"ctl\", \"name\": \"\\u0001bell\\u001f\", " +
      "\"LABEL\": \"Table\"}, {\"KEY\": \"nl\", \"name\": \"line\\nbreak\\r\\ttab\", " +
      "\"LABEL\": \"Column\"}, {\"KEY\": \"cjk\", " +
      "\"name\": \"\u8BD5\u9A8C\u6570\u636E\u8868\", \"LABEL\": \"Column\"}, " +
      "{\"KEY\": \"emoji\", \"name\": \"\uD83D\uDE00\uD83C\uDF89\", \"LABEL\": \"Column\"}, " +
      "{\"KEY\": \"lone\", \"name\": \"x?y\", \"LABEL\": \"Column\"}, {\"KEY\": \"null\", " +
      "\"name\": null, \"LABEL\": \"Column\"}, {\"KEY\": \"empty\", \"name\": \"\", " +
      "\"LABEL\": \"Column\"}, {\"KEY\": \"long\", " +
      "\"name\": \"" + "\u00E9" * 30 + "\", " +
      "\"LABEL\": \"Description\"}], \"relations\": [{\"START_KEY\": \"q\\\"uote\", " +
      "\"START_LABEL\": \"Table\", \"END_KEY\": \"cjk\", \"END_LABEL\": \"Column\", " +
      "\"REVERSE_TYPE\": \"COLUMN_OF\", \"TYPE\": \"COLUMN\"}, {\"START_KEY\": \"emoji\", " +
      "\"START_LABEL\": \"Column\", \"END_KEY\": null, \"END_LABEL\": \"Table\", " +
      "\"REVERSE_TYPE\": \"\", \"TYPE\": \"TABLE\"}, {\"START_KEY\": \"\u8BD5\", " +
      "\"START_LABEL\": \"A\", \"END_KEY\": \"\uD83D\uDE00\", \"END_LABEL\": \"B\", " +
      "\"REVERSE_TYPE\": \"x\\\\y\", \"TYPE\": \"T\"}]}"

  test("golden bodies: chunked, graft-sqs and parity publish the hostile rows byte for byte") {
    val chunked = new SqsPublisher.Recording
    SqsPublisher.publishChunked(hostileNodes, hostileRelations, chunked, "q://g", maxBytes = 200)
    assert(chunked.sent.map(_._2) == goldenChunked)
    val v2 = new SqsPublisher.Recording
    for ((df, kind) <- Seq((hostileNodes, "nodes"), (hostileRelations, "relations")))
      df.write.format("graft-sqs").option("queue_url", "q://g")
        .option("transport", s"recording:${v2.id}").option("kind", kind)
        .option("max_bytes", "200").mode("append").save()
    assert(v2.sent.map(_._2) == goldenChunked)
    val parity = new SqsPublisher.Recording
    assert(SqsPublisher.publishParity(hostileNodes, hostileRelations, parity, "q://g") == goldenParity)
    assert(parity.sent.map(_._2) == Seq(goldenParity))
    // a lone surrogate that bypasses Spark's UTF-8 strings stays raw
    assert(SqsPublisher.rowJson(Seq("k\"ey", "v", "n", "e"),
      Seq("x\uD800\u0002\uDC00y\"\\", null, 1.5, "")) ==
      "{\"k\\\"ey\": \"x\uD800\\u0002\uDC00y\\\"\\\\\", \"v\": null, \"n\": \"1.5\", \"e\": \"\"}")
  }
}
