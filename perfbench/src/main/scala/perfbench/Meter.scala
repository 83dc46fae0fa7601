package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Cumulative Spark work counters, fed by a `SparkListener`. A phase's cost is
  * the difference of two [[Counters]] snapshots taken around it, after the
  * listener bus has been drained. Phases run one after another on the driver
  * thread, so a delta holds exactly the jobs the phase launched. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, peakMemBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, peakMemBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    math.max(peakMemBytes, o.peakMemBytes))
  def cpuS: Double = cpuNs / 1e9
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0)
}

final class Meter(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  // peak execution memory of any single task since the last reset
  private val peakMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counters(jobs.get, tasks.get, cpuNs.get, shuffle.get, spill.get, peakMem.get)
  }

  def resetPeak(): Unit = peakMem.set(0)
}

object Meter {
  def install(sc: SparkContext): Meter = {
    val m = new Meter(sc)
    sc.addSparkListener(m)
    m
  }
}

/** Samples used driver heap through `MemoryMXBean`; in `local[N]` the
  * executors share the driver JVM, so this is the whole engine's heap. */
final class HeapSampler(periodMs: Long = 20L) {
  private val bean = ManagementFactory.getMemoryMXBean
  @volatile private var running = true
  @volatile private var peak = 0L
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
      Thread.sleep(periodMs)
    }
  }, "perfbench-heap")
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  def peakMb: Double = peak / 1048576.0
  def stop(): Unit = { running = false; thread.join() }
}

/** An open-loop ticker: wakes on a fixed schedule and records how late each
  * wake-up was. Host stalls (CPU steal, throttling) show up as lateness. */
final class Heartbeat(periodUs: Long = 10000L) {
  private val late = mutable.ArrayBuffer.empty[Double]
  @volatile private var running = true
  private val thread = new Thread(() => {
    val t0 = System.nanoTime()
    var i = 1L
    while (running) {
      val due = t0 + i * periodUs * 1000L
      val wait = due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val l = (System.nanoTime() - due) / 1e6
      late.synchronized(late += l)
      i += 1
    }
  }, "perfbench-heartbeat")
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  def stop(): Seq[Double] = { running = false; thread.join(); late.synchronized(late.toList) }
}

object Host {
  /** A fixed single-threaded CPU loop, in ms. The same loop on an idle core
    * takes the same time; a larger reading means the host was stalling. */
  def calibMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median((1 to 5).map(_ => once()))
  }

  /** Total GC time of this JVM so far, in seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** Spans of a traced run, kept in memory and written as JSON at the end.
  * Spans that belong together (a query and its phases, a trigger and its
  * stages) share an `id`; `parent` names the enclosing span's id. */
final class Trace(enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[String]
  private val nextId = new AtomicLong

  def newId(): Long = nextId.incrementAndGet()

  def add(id: Long, parent: Long, kind: String, name: String, startNs: Long, endNs: Long,
      attrs: (String, Any)*): Unit = if (enabled) {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }.mkString(",")
    val s = s"""{"id":$id,"parent":$parent,"kind":${Json.str(kind)},"name":${Json.str(name)},""" +
      s""""start_ms":${Json.num((startNs - t0) / 1e6)},"dur_ms":${Json.num((endNs - startNs) / 1e6)}""" +
      (if (a.isEmpty) "}" else s",$a}")
    spans.synchronized(spans += s)
  }

  def json: String = spans.synchronized(spans.mkString("[\n", ",\n", "\n]"))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
