package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 write path for the SQS JSON publisher (SURVEY §4
  * optional item): the declarative form of
  * [[SqsPublisher.publishChunked]] —
  *
  * {{{
  *   nodes.write.format("graft-sqs")
  *     .option("queue_url", "https://sqs.../metadata.fifo")
  *     .option("transport", "recording:<id>")  // REQUIRED, see below
  *     .option("kind", "nodes")                // or "relations"
  *     .option("message_group_id", "metadata")
  *     .mode("append").save()
  * }}}
  *
  * Each task accumulates rows into `{"nodes":[…],"relations":[…]}`
  * envelopes of at most `max_bytes` UTF-8 bytes (SQS's 250 KB cap,
  * reference aws_sqs_csv_puiblisher.py:63) and sends them as they
  * fill — executor-side, no driver materialization, one transport per
  * task. Delivery is at-least-once: messages are sent as envelopes
  * fill, so a retried task may resend its rows (standard queue-sink
  * semantics; consumers dedup on KEY as the reference's graph loader
  * does anyway). commit/abort are bookkeeping no-ops for the same
  * reason.
  *
  * `transport` option: `recording:<id>` appends to the JVM-global
  * [[SqsPublisher.Recording]] buffer with that id (tests, dry runs). A
  * production deployment registers its AWS-SDK transport under a new
  * spec here — the one seam left open in a zero-egress environment.
  */
class SqsSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sqs"
  // write-only source: accept whatever schema the query provides
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("graft-sqs is write-only")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SqsSink.SqsTable(schema)
}

object SqsSink {

  def resolveTransport(spec: String): SqsPublisher.Transport =
    if (spec.startsWith("recording:"))
      new SqsPublisher.Recording(spec.stripPrefix("recording:"))
    else throw new IllegalArgumentException(
      s"unknown transport '$spec' — this environment ships 'recording:<id>'; " +
        "production wraps the AWS SDK SqsClient under its own spec")

  private final class SqsTable(writeSchema: StructType) extends Table with SupportsWrite {
    override def name(): String = "graft-sqs"
    override def schema(): StructType = writeSchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE).asJava

    // SupportsTruncate: a queue cannot be rewound, so "truncate" is a
    // no-op — accepting it makes mode("overwrite") and streaming
    // outputMode("complete") plan cleanly with the same at-least-once
    // semantics as append (without it, the advertised TRUNCATE
    // capability would fail at runtime in V2Writes).
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
        with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        private def cfg = (
          require(info, "queue_url"),
          info.options.getOrDefault("message_group_id", SqsPublisher.DefaultGroupId),
          require(info, "transport"),
          info.options.getOrDefault("kind", "nodes") match {
            case "nodes" => true
            case "relations" => false
            case other => throw new IllegalArgumentException(s"kind must be nodes|relations, got $other")
          },
          info.options.getInt("max_bytes", SqsPublisher.MaxMessageBytes),
          info.options.getBoolean("fifo_dedup", false))
        override def toBatch: BatchWrite = {
          val (q, g, t, n, m, _) = cfg
          new SqsBatchWrite(info.schema(), q, g, t, n, m)
        }
        // micro-batch streaming: per-task chunking as in batch. Default
        // is at-least-once (epoch commit is bookkeeping; a retried
        // epoch may resend, consumers dedup on KEY). With
        // option("fifo_dedup", "true") each envelope carries a
        // content-derived MessageDeduplicationId (sha-256 of
        // epoch + body), so a FIFO queue drops a replayed micro-batch's
        // resends server-side inside the 5-minute dedup window —
        // exactly-once delivery for deterministic epochs.
        override def toStreaming: StreamingWrite = {
          val (q, g, t, n, m, d) = cfg
          new SqsStreamingWrite(info.schema(), q, g, t, n, m, d)
        }
      }
    }

    private def require(info: LogicalWriteInfo, key: String): String = {
      val v = info.options.get(key)
      if (v == null) throw new IllegalArgumentException(s"graft-sqs needs option '$key'") else v
    }
  }

  private final class SqsBatchWrite(schema: StructType, queueUrl: String, groupId: String,
                                    transportSpec: String, isNodes: Boolean, maxBytes: Int)
      extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new SqsWriterFactory(schema, queueUrl, groupId, transportSpec, isNodes, maxBytes)
    // at-least-once: envelopes were already sent as they filled
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class SqsWriterFactory(schema: StructType, queueUrl: String, groupId: String,
                                       transportSpec: String, isNodes: Boolean, maxBytes: Int,
                                       fifoDedup: Boolean = false)
      extends DataWriterFactory with StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new SqsDataWriter(schema, resolveTransport(transportSpec),
        queueUrl, groupId, isNodes, maxBytes, dedupEpoch = None)
    // streaming variant: same chunking; the epoch id keys the optional
    // server-side dedup
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      new SqsDataWriter(schema, resolveTransport(transportSpec),
        queueUrl, groupId, isNodes, maxBytes,
        dedupEpoch = if (fifoDedup) Some(epochId) else None)
  }

  private final class SqsStreamingWrite(schema: StructType, queueUrl: String, groupId: String,
                                        transportSpec: String, isNodes: Boolean, maxBytes: Int,
                                        fifoDedup: Boolean)
      extends StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new SqsWriterFactory(schema, queueUrl, groupId, transportSpec, isNodes, maxBytes, fifoDedup)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }

  private object Committed extends WriterCommitMessage

  /** Per-task writer over [[SqsPublisher.Envelopes]], the accumulator
    * publishChunked uses (UTF-8 byte budget, skeleton overhead, fail
    * loudly on rows that can never fit).
    *
    * Values are converted Catalyst-internal → external Scala through
    * the standard converter before JSON rendering, so a timestamp
    * serializes as "2024-01-01 00:00:00.0" and not its raw micros —
    * byte-identical to what the same frame produces through
    * SqsPublisher.publishChunked (which receives external Rows). */
  private final class SqsDataWriter(schema: StructType, transport: SqsPublisher.Transport,
                                    queueUrl: String, groupId: String,
                                    isNodes: Boolean, maxBytes: Int,
                                    dedupEpoch: Option[Long])
      extends DataWriter[InternalRow] {
    private val toExternal =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(schema)
    private val envelopes =
      new SqsPublisher.Envelopes(schema.fieldNames.toSeq, isNodes, maxBytes)(send)

    private def send(body: String): Unit = {
      // CONTENT-derived dedup id (sha-256 of epoch + body, 64 hex chars,
      // inside SQS's 128-char attribute bound): a replayed epoch that
      // re-produces the same envelopes maps to the same ids regardless
      // of task ids or partition placement, so the FIFO server drops
      // the resends. The epoch prefix keeps legitimately identical
      // payloads in DIFFERENT epochs deliverable. Two byte-identical
      // envelopes within one epoch would collapse to one delivery —
      // acceptable for keyed metadata (consumers upsert on KEY).
      val dedupId = dedupEpoch.map { ep =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(java.nio.ByteBuffer.allocate(8).putLong(ep).array())
        md.digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      transport.send(queueUrl, body, groupId, dedupId)
    }

    override def write(r: InternalRow): Unit =
      envelopes.add(toExternal(r).asInstanceOf[org.apache.spark.sql.Row])

    override def commit(): WriterCommitMessage = { envelopes.flush(); Committed }
    override def abort(): Unit = envelopes.discard()
    override def close(): Unit = ()
  }
}
