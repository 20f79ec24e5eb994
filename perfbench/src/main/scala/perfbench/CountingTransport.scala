package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.hashing.MurmurHash3

import graft.sources.SqsPublisher

/** SQS transport that keeps counters and an order-independent digest of
  * the published rows, and retains no message body, so the publish
  * step's heap footprint is the engine's own.
  *
  * Task closures carry serialized copies of the transport, so the
  * counters live in a JVM-wide registry keyed by the instance id, and
  * `close()` drops the entry.
  */
final class CountingTransport(val id: String = java.util.UUID.randomUUID().toString)
    extends SqsPublisher.Transport {
  import CountingTransport._
  registry.putIfAbsent(id, new Counters)

  override def send(queueUrl: String, body: String, groupId: String): Unit = {
    val c = registry.get(id)
    val bytes = body.getBytes(UTF_8).length
    c.messages.incrementAndGet()
    c.bytes.addAndGet(bytes)
    c.maxBytes.accumulateAndGet(bytes, (a, b) => math.max(a, b))
    if (bytes > SqsPublisher.MaxMessageBytes) c.oversize.incrementAndGet()
    val (rows, counter) =
      if (body.startsWith(RelsPrefix)) (inner(body, RelsPrefix, RelsSuffix), c.relationRows)
      else (inner(body, NodesPrefix, NodesSuffix), c.nodeRows)
    // rows are JSON objects whose string values escape '"', so `}, {"`
    // occurs only between rows
    rows.split("""\}, \{(?=")""").foreach { r =>
      val row = r.stripPrefix("{").stripSuffix("}")
      counter.incrementAndGet()
      c.digest.addAndGet((MurmurHash3.stringHash(row, 1).toLong << 32) ^
        (MurmurHash3.stringHash(row, 2) & 0xffffffffL))
    }
  }

  def counters: Counters = registry.get(id)
  def close(): Unit = registry.remove(id)
}

object CountingTransport {
  private val NodesPrefix = """{"nodes": ["""
  private val NodesSuffix = """], "relations": []}"""
  private val RelsPrefix = """{"nodes": [], "relations": ["""
  private val RelsSuffix = "]}"

  private def inner(body: String, prefix: String, suffix: String): String = {
    require(body.startsWith(prefix) && body.endsWith(suffix),
      s"unexpected envelope: ${body.take(60)}")
    body.substring(prefix.length, body.length - suffix.length)
  }

  final class Counters {
    val messages, bytes, maxBytes, oversize, nodeRows, relationRows, digest = new AtomicLong
  }

  private val registry = new ConcurrentHashMap[String, Counters]
}
