package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: its arguments, the session, the metrics it
  * reports and the failures it found. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
    val dataDir: String, val outDir: String) {
  /** Every run is `local[4]`. */
  val cores = 4
  var spark: SparkSession = _
  var meter: Meter = _
  val tr = new Trace(trace)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, String)]
  val passLog = mutable.ArrayBuffer.empty[String]
  var setupS: Double = Double.NaN

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(k: String, v: Any): Unit = notes(k) = v
  def fail(msg: String, n: Long = 1): Unit = { failed += n; failures += msg; System.err.println(s"[perfbench] FAIL $msg") }

  /** Seconds since the JVM started. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Marks the first timed operation: set-up runs from JVM start to here. */
  def setupDone(atNanos: Long = System.nanoTime()): Unit =
    setupS = sinceStartS() + (atNanos - System.nanoTime()) / 1e9
}

/** Entry point of one run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR`.
  * Writes `result.json` (and, traced, `trace.json`) into `--out`. The Python
  * wrapper checks the batch fingerprints and prints the final line. */
object Main {
  val Workloads: Seq[String] = Seq("batch_light", "batch_iterative", "stream_replay", "stream_live")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("oracle-sql")) { dumpOracle(a("oracle-sql")); return }
    if (a.contains("train")) { train(a); return }
    val calib0 = Host.calibMs()
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("data"), a("out"))
    require(Workloads.contains(ctx.workload), s"unknown workload ${ctx.workload}")
    Files.createDirectories(Paths.get(ctx.outDir))
    ctx.spark = BatchBench.session(ctx.cores)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.meter = Meter.install(ctx.spark.sparkContext)
    ctx.note("session_ready_s", ctx.sinceStartS())
    val heap = new HeapSampler().start()
    try ctx.workload match {
      case "batch_light" => BatchBench.run(ctx, BatchBench.Light)
      case "batch_iterative" => BatchBench.run(ctx, BatchBench.Iterative)
      case "stream_replay" => StreamBench.runReplay(ctx)
      case "stream_live" => StreamBench.runLive(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"run aborted: $e")
    }
    heap.stop()
    ctx.metric("setup_s", ctx.setupS, "s")
    ctx.metric("heap_peak_mb", heap.peakMb, "MB")
    ctx.metric("host.calib_ms", calib0, "ms")
    if (ctx.trace) {
      ctx.metric("host.calib_end_ms", Host.calibMs(), "ms")
      // the traced run's own headline numbers, against the untraced run's
      // pass_s / events_per_s: the cost of tracing
      for (k <- Seq("pass_s", "events_per_s"); (v, u) <- ctx.metrics.get(k))
        ctx.metric(s"traced.$k", v, u)
    }
    ctx.spark.stop()
    write(ctx)
  }

  private def write(ctx: Ctx): Unit = {
    val m = ctx.metrics.map { case (k, (v, u)) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    val json = Seq(
      s""""workload":${Json.str(ctx.workload)}""",
      s""""seed":${ctx.seed}""",
      s""""attempted":${ctx.attempted}""",
      s""""failed":${ctx.failed}""",
      s""""failures":${Json.value(ctx.failures.take(20))}""",
      s""""metrics":${m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}""",
      s""""checks":${ctx.checks.map { case (n, p) => Json.obj(Seq("query" -> n, "path" -> p)) }.mkString("[", ",", "]")}""",
      s""""passes":${ctx.passLog.mkString("[", ",", "]")}""",
      s""""notes":${Json.obj(ctx.notes)}""").mkString("{", ",\n", "}\n")
    Files.writeString(Paths.get(ctx.outDir, "result.json"), json)
    if (ctx.trace) Files.writeString(Paths.get(ctx.outDir, "trace.json"), ctx.tr.json)
  }

  /** Loads the classes every workload needs, so the JVM can record them in
    * a class-data-sharing archive at exit: each query once, a small replay
    * and a short live stream. */
  private def train(a: Map[String, String]): Unit = {
    val ctx = new Ctx("stream_live", 0L, 1.0, false, a("data"), a("out"))
    ctx.spark = BatchBench.session(ctx.cores)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.meter = Meter.install(ctx.spark.sparkContext)
    (BatchBench.Light ++ BatchBench.Iterative).foreach { n =>
      graft.SparkEntry.queries(n)(ctx.spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
    }
    StreamBench.probeReplay(ctx)
    StreamBench.runLive(ctx)
    ctx.spark.stop()
  }

  /** Writes the DuckDB oracle SQL of both batch query sets as JSON. */
  private def dumpOracle(path: String): Unit = {
    val qs = BatchBench.oracleSql(BatchBench.Light ++ BatchBench.Iterative)
    Files.writeString(Paths.get(path), Json.obj(qs))
  }
}
