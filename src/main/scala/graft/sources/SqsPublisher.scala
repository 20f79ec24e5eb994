package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** SQS JSON publisher (SURVEY §2.A rows S6/A2/Z2) — the reference's
  * one novel component (/root/reference/publisher/
  * aws_sqs_csv_puiblisher.py:99-143): assemble all node rows then all
  * relation rows into one `{"nodes":[…],"relations":[…]}` JSON body
  * and send it as a single message with MessageGroupId "metadata"
  * (:53, :137), bounded by SQS's 250 KB limit (:63).
  *
  * Two modes:
  *  - **parity**: byte-compatible single envelope, assembled on the
  *    driver after a bounded collect — correct for metadata-sized
  *    results, guarded by the 250 KB check exactly like the reference.
  *  - **chunked** (the 100 TB path): executors build ≤maxBytes
  *    envelopes per partition and publish directly — no driver
  *    materialization (the reference's A2 anti-pattern), arbitrarily
  *    large graphs, one SQS client per partition.
  *
  * Both modes, and the `graft-sqs` sink ([[SqsSink]]), render rows with
  * one encoder, and UTF-8 sizes are counted without encoding
  * ([[utf8Length]]). The chunked paths share one per-task accumulator,
  * [[Envelopes]], which appends each row's JSON straight into the open
  * envelope. Nodes are published before relations in
  * both modes: in one body (parity), or as two `foreachPartition` jobs
  * run in sequence (chunked), which a FIFO queue delivers in that order
  * within the message group ("metadata").
  *
  * Transport is a trait so tests (and this zero-egress environment)
  * use an in-memory recorder; a production impl would wrap the AWS
  * SDK v2 SqsClient with the same three-argument send.
  */
object SqsPublisher {

  /** SQS hard cap per message (reference docstring :63). */
  val MaxMessageBytes: Int = 250 * 1024

  val DefaultGroupId = "metadata"

  trait Transport extends Serializable {
    def send(queueUrl: String, messageBody: String, messageGroupId: String): Unit

    /** FIFO send with an explicit `MessageDeduplicationId` (the SQS
      * server drops a second message with the same id inside the 5-min
      * dedup window — the exactly-once half of the streaming sink).
      * Default forwards to the 3-arg send so non-FIFO transports stay
      * one-method implementations; an AWS-SDK FIFO transport overrides
      * this to set the attribute on the request. */
    def send(queueUrl: String, messageBody: String, messageGroupId: String,
             dedupId: Option[String]): Unit =
      send(queueUrl, messageBody, messageGroupId)
  }

  /** In-memory transport for tests / dry runs. Messages land in a
    * JVM-global registry keyed by instance id: task closures are
    * serialized (copies!) even in local mode, so an instance field
    * would silently miss executor-side sends from publishChunked.
    * The id is public so string-option-configured writers (the DSv2
    * sink) can address the same buffer: `new Recording(sameId)`. */
  final class Recording(val id: String = java.util.UUID.randomUUID().toString) extends Transport {
    Recording.registry.putIfAbsent(id, new ArrayBuffer[(String, String, String, Option[String])])
    override def send(q: String, body: String, gid: String): Unit =
      send(q, body, gid, None)
    override def send(q: String, body: String, gid: String, dedupId: Option[String]): Unit = {
      val buf = Recording.registry.computeIfAbsent(id, _ => new ArrayBuffer)
      buf.synchronized { buf += ((q, body, gid, dedupId)) }
    }
    def sent: Seq[(String, String, String)] =
      sentDedup.map { case (q, b, g, _) => (q, b, g) }
    def sentDedup: Seq[(String, String, String, Option[String])] = {
      val buf = Recording.registry.computeIfAbsent(id, _ => new ArrayBuffer)
      buf.synchronized { buf.toSeq }
    }
    /** What a FIFO queue would actually DELIVER: first send wins per
      * (queue, dedupId); id-less sends always deliver. Test-side
      * emulation of the server's dedup window. */
    def delivered: Seq[(String, String, String)] = {
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      sentDedup.flatMap {
        case (q, b, g, Some(d)) =>
          if (seen.add((q, d))) Some((q, b, g)) else None
        case (q, b, g, None) => Some((q, b, g))
      }
    }
  }
  object Recording {
    private val registry = new java.util.concurrent.ConcurrentHashMap[
      String, ArrayBuffer[(String, String, String, Option[String])]]
  }

  final case class MessageTooLarge(bytes: Int) extends RuntimeException(
    s"single-envelope parity mode: body is $bytes bytes > $MaxMessageBytes " +
      "(use publishChunked for large graphs)")

  final case class RowTooLarge(bytes: Int, maxBytes: Int) extends RuntimeException(
    s"a single row serializes to $bytes bytes — cannot fit any envelope ≤ $maxBytes; " +
      "oversized rows must be split or dropped upstream")

  // the envelope skeleton `{"nodes": [<nodes>], "relations": [<relations>]}`
  private val NodesOpen = "{\"nodes\": ["
  private val RelationsOpen = "], \"relations\": ["
  private val Close = "]}"
  /** Bytes of an empty envelope (30, all ASCII): the budget's base. */
  private val Skeleton = NodesOpen.length + RelationsOpen.length + Close.length

  /** UTF-8 length of `cs[from, to)` as `String.getBytes(UTF_8)` counts
    * it, without encoding: a surrogate pair is 4 bytes and an unpaired
    * surrogate 1 (the encoder writes it as `?`). */
  def utf8Length(cs: CharSequence, from: Int, to: Int): Int = {
    var n = 0
    var i = from
    while (i < to) {
      val c = cs.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < to && Character.isLowSurrogate(cs.charAt(i + 1))) {
        n += 4; i += 1
      } else if (Character.isSurrogate(c)) n += 1
      else n += 3
      i += 1
    }
    n
  }

  def utf8Length(cs: CharSequence): Int = utf8Length(cs, 0, cs.length)

  private val Hex = "0123456789abcdef"

  private def appendEscaped(b: java.lang.StringBuilder, s: String): Unit = {
    var run = 0 // start of the pending run of chars that need no escape
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') {
        b.append(s, run, i)
        c match {
          case '"' => b.append("\\\"")
          case '\\' => b.append("\\\\")
          case '\n' => b.append("\\n")
          case '\r' => b.append("\\r")
          case '\t' => b.append("\\t")
          case _ => b.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
        }
        run = i + 1
      }
      i += 1
    }
    if (run == 0) b.append(s) else b.append(s, run, s.length)
  }

  /** Row → JSON object, appended in place. Keys keep the column order
    * (the reference serializes csv-header order dicts); null → JSON
    * null, empty string stays "". Values render through `toString`. */
  private final class RowEncoder(columns: Seq[String]) {
    private val keys: Array[String] = columns.map { c =>
      val b = new java.lang.StringBuilder("\"")
      appendEscaped(b, c)
      b.append("\": ").toString
    }.toArray

    /** Encodes the first min(columns, row.length) fields, as a zip would. */
    def append(b: java.lang.StringBuilder, row: Row): Unit = {
      val n = math.min(keys.length, row.length)
      b.append('{')
      var i = 0
      while (i < n) {
        if (i > 0) b.append(", ")
        b.append(keys(i))
        if (row.isNullAt(i)) b.append("null")
        else { b.append('"'); appendEscaped(b, row.get(i).toString); b.append('"') }
        i += 1
      }
      b.append('}')
    }

    def json(row: Row): String = {
      val b = new java.lang.StringBuilder
      append(b, row)
      b.toString
    }
  }

  /** One row → JSON object, preserving the given column order. */
  def rowJson(columns: Seq[String], values: Seq[Any]): String =
    new RowEncoder(columns).json(Row.fromSeq(values))

  def envelope(nodeJsons: Seq[String], relationJsons: Seq[String]): String =
    nodeJsons.mkString(NodesOpen, ", ", "") + relationJsons.mkString(RelationsOpen, ", ", Close)

  /** Per-task envelope accumulator, the one chunking loop behind
    * [[publishChunked]] and the `graft-sqs` sink. Each row's JSON is
    * appended straight into the open envelope and its UTF-8 bytes are
    * counted in place; SQS caps bytes, and CJK/emoji payloads are 3-4
    * bytes per char. The budget is the skeleton's 30 bytes plus each
    * row's bytes + 2 (its `, ` separator, counted for every row). A row
    * that can never fit fails with [[RowTooLarge]] instead of sending an
    * envelope the queue would reject; a row that overflows the open
    * envelope sends it and opens the next. `send` gets each full body. */
  final class Envelopes(columns: Seq[String], isNodes: Boolean, maxBytes: Int)(send: String => Unit) {
    private val encoder = new RowEncoder(columns)
    private val body = new java.lang.StringBuilder
    private var rows = 0
    private var size = Skeleton
    open()

    private def open(): Unit = {
      body.setLength(0)
      body.append(NodesOpen)
      if (!isNodes) body.append(RelationsOpen)
      rows = 0
      size = Skeleton
    }

    def add(row: Row): Unit = {
      val mark = body.length
      if (rows > 0) body.append(", ")
      val start = body.length
      encoder.append(body, row)
      val bytes = utf8Length(body, start, body.length)
      if (Skeleton + bytes > maxBytes) throw RowTooLarge(bytes, maxBytes)
      if (size + bytes + 2 > maxBytes) {
        val json = body.substring(start)
        body.setLength(mark)
        flush()
        body.append(json)
      }
      rows += 1
      size += bytes + 2
    }

    /** Send the open envelope, if it holds a row. */
    def flush(): Unit = if (rows > 0) {
      if (isNodes) body.append(RelationsOpen)
      body.append(Close)
      send(body.toString)
      open()
    }

    /** Drop the open envelope's rows unsent. */
    def discard(): Unit = open()
  }

  /** Parity mode: single envelope, nodes first then relations
    * (reference :108-125 accumulation order), ≤250 KB enforced. */
  def publishParity(nodes: DataFrame, relations: DataFrame,
                    transport: Transport, queueUrl: String,
                    groupId: String = DefaultGroupId): String = {
    val nj = collectJson(nodes)
    val rj = collectJson(relations)
    val body = envelope(nj, rj)
    val bytes = utf8Length(body)
    if (bytes > MaxMessageBytes) throw MessageTooLarge(bytes)
    transport.send(queueUrl, body, groupId)
    body
  }

  private def collectJson(df: DataFrame): Seq[String] = {
    val encoder = new RowEncoder(df.columns.toSeq)
    df.collect().toSeq.map(encoder.json)
  }

  /** Scale mode: per-partition chunked publish, no driver
    * materialization. Each task fills [[Envelopes]] of at most
    * `maxBytes` and sends them as they fill. All node messages go out
    * before any relation message: the two `foreachPartition` jobs run
    * in sequence, and a FIFO queue keeps that order within the message
    * group, so a consumer never sees a relation before its endpoints'
    * nodes have been sent. */
  def publishChunked(nodes: DataFrame, relations: DataFrame,
                     transport: Transport, queueUrl: String,
                     groupId: String = DefaultGroupId,
                     maxBytes: Int = MaxMessageBytes): Unit = {
    publishPartitioned(nodes, isNodes = true)
    publishPartitioned(relations, isNodes = false)

    def publishPartitioned(df: DataFrame, isNodes: Boolean): Unit = {
      val cols = df.columns.toSeq
      df.foreachPartition { (rows: Iterator[Row]) =>
        val out = new Envelopes(cols, isNodes, maxBytes)(transport.send(queueUrl, _, groupId))
        rows.foreach(out.add)
        out.flush()
      }
    }
  }
}
