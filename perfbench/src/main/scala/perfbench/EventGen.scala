package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.util.hashing.MurmurHash3

/** The seeded SSE event stream both stream workloads consume.
  *
  * Mix: eight event names with a 1/(k+1) skew, 5% of frames without an
  * `event:` line (the source normalises them to `unknown`), ids on 90% of
  * frames (the others inherit the last id, WHATWG last-event-id), 5%
  * multi-line `data`, 2% comment lines, 100–2,000 B payloads with some
  * multi-byte UTF-8. Every frame's data starts with `<seq> <due_us> `, so
  * the sink can tell which event it holds and when it was due. */
final class EventGen(seed: Long) {
  import EventGen._

  private val r = new SplittableRandom(seed)
  private var lastId: String = null
  private val cumWeights: Array[Double] = {
    val w = Names.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def next(seq: Int, dueUs: Long): Frame = {
    val sb = new java.lang.StringBuilder(2200)
    if (r.nextDouble() < 0.02) sb.append(": keep-alive ").append(seq).append('\n')
    val event = if (r.nextDouble() < 0.05) None else Some(pickName())
    event.foreach(e => sb.append("event: ").append(e).append('\n'))
    if (r.nextDouble() < 0.9) {
      lastId = seq.toString
      sb.append("id: ").append(lastId).append('\n')
    }
    val data = s"$seq $dueUs " + payload()
    data.split("\n", -1).foreach(l => sb.append("data: ").append(l).append('\n'))
    sb.append('\n')
    Frame(seq, sb.toString, event.getOrElse("unknown"), lastId, data)
  }

  private def pickName(): String = {
    val u = r.nextDouble()
    val i = cumWeights.indexWhere(u < _)
    Names(if (i < 0) Names.length - 1 else i)
  }

  private def payload(): String = {
    val target = 100 + r.nextInt(1901)
    val sb = new java.lang.StringBuilder(target)
    var bytes = 0
    while (bytes < target) {
      if (r.nextDouble() < 0.02) {
        val m = Multi(r.nextInt(Multi.length))
        sb.append(m)
        bytes += m.getBytes(UTF_8).length
      } else {
        sb.append(Ascii.charAt(r.nextInt(Ascii.length)))
        bytes += 1
      }
    }
    if (r.nextDouble() < 0.05) {
      // multi-line data: break at 1-3 places that do not split a surrogate pair
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val at = r.nextInt(sb.length)
        if (!Character.isLowSurrogate(sb.charAt(at))) sb.insert(at, '\n')
      }
    }
    sb.toString
  }
}

object EventGen {
  val Names: Array[String] =
    Array("message", "update", "delta", "order", "trade", "alert", "metric", "heartbeat")
  private val Ascii = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 {}:,\"-_."
  private val Multi = Array("é", "ß", "ø", "λ", "Ж", "漢", "字", "🙂")

  /** One frame: its wire text and the row the source must turn it into. */
  final case class Frame(seq: Int, wire: String, event: String, id: String, data: String) {
    def hash: Long = EventGen.hash(event, id, data)
  }

  /** 64-bit hash of one `(event, id, data)` row; `id` may be null. */
  def hash(event: String, id: String, data: String): Long = {
    val s = event + "\u0001" + (if (id == null) "\u0002" else id) + "\u0001" + data
    (MurmurHash3.stringHash(s, 0x2545F491).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x6C8E9CF5).toLong & 0xFFFFFFFFL)
  }

  /** `seq` and `due_us` from the head of a row's data. */
  def seqDue(data: String): (Int, Long) = {
    val a = data.indexOf(' ')
    val b = data.indexOf(' ', a + 1)
    (data.substring(0, a).toInt, data.substring(a + 1, b).toLong)
  }
}

/** Exactly-once check of what a sink received against what was generated:
  * each sequence number must arrive once, with the `(event, id, data)` the
  * generator produced. */
final class Verifier(capacity: Int) {
  private val expected = new AtomicLongArray(capacity)
  private val seen = new java.util.BitSet(capacity)
  private val generated = new AtomicLong
  private var dup = 0L
  private var altered = 0L
  private var rows = 0L

  def expect(f: EventGen.Frame): Unit = {
    expected.set(f.seq, f.hash)
    generated.incrementAndGet()
  }

  /** Records one sink row; returns its (seq, due_us). */
  def accept(event: String, id: String, data: String): (Int, Long) = synchronized {
    rows += 1
    val (seq, due) = EventGen.seqDue(data)
    if (seq < 0 || seq >= capacity || seen.get(seq)) dup += 1
    else {
      seen.set(seq)
      if (expected.get(seq) != EventGen.hash(event, id, data)) altered += 1
    }
    (seq, due)
  }

  def generatedCount: Long = generated.get
  def received: Long = synchronized(seen.cardinality().toLong)
  /** Lost + duplicated + altered events. */
  def failures: Long = synchronized((generated.get - seen.cardinality()) + dup + altered)
  def summary: String = synchronized(
    s"generated=${generated.get} rows=$rows distinct=${seen.cardinality()} dup=$dup altered=$altered")
}
