package perfbench

import java.io.{File, FileOutputStream}
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.sse.{SseFrameLog, SseParser}

/** The two stream workloads, both through `readStream.format("sse")`:
  *  - `stream_replay`: catch-up over a seeded frame log with
  *    `maxEventsPerTrigger=1000` and `Trigger.AvailableNow` into `noop`;
  *  - `stream_live`: an open-loop generator serves the seeded stream over
  *    one HTTP connection on the loopback interface; the source runs with
  *    `transport=live` and a `foreachBatch` sink.
  *
  * Trigger stages come from progress `durationMs`, collected through a
  * `StreamingQueryListener` (`recentProgress` keeps only the last 100). */
object StreamBench {

  val MaxEventsPerTrigger = 1000
  /** Events in the replay log: one catch-up replay takes a few seconds. */
  val ReplayEvents = 6000
  /** Events in the small replay that probes the stream layers on batch workloads. */
  val ProbeEvents = 3000
  /** Untimed replays after the check replay, for the JIT. */
  val WarmReplays = 3
  val HeadlineRate = 1000
  val Ladder: Seq[Int] = Seq(500, 1000, 2000)
  /** Seconds at the headline rate before the latency window opens. */
  val WarmS = 4.0
  /** `sustained_eps` admits a rung only if its p99 latency stays within this. */
  val LatencyLimitMs = 1000.0

  /** Progress events of every query, in arrival order. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.id == q.id).toSeq
  }

  final case class Trig(startMs: Long, rows: Long, d: Map[String, Long],
      src: Map[String, String]) {
    def endMs: Long = startMs + dur("triggerExecution")
    def dur(k: String): Long = d.getOrElse(k, 0L)
    def backlog: Long =
      src.get("availableBytes").map(_.toLong).getOrElse(0L) -
        src.get("consumedBytes").map(_.toLong).getOrElse(0L)
  }

  def trig(p: StreamingQueryProgress): Trig = Trig(
    java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    p.sources.headOption.map(_.metrics.asScala.toMap).getOrElse(Map.empty))

  private def progress(ctx: Ctx): Progress = {
    val p = new Progress
    ctx.spark.streams.addListener(p)
    p
  }

  // ------------------------------------------------------------ replay

  final case class ReplayLog(dir: String, file: String, events: Int, frameStarts: Array[Long])

  def writeLog(dir: String, seed: Long, events: Int, verifier: Option[Verifier]): ReplayLog = {
    new File(dir).mkdirs()
    val file = s"$dir/log-0000.sselog"
    val out = new java.io.BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    val gen = new EventGen(seed)
    val starts = new Array[Long](events)
    var pos = 0L
    try for (i <- 0 until events) {
      val f = gen.next(i, 0L)
      verifier.foreach(_.expect(f))
      val b = f.wire.getBytes(UTF_8)
      starts(i) = pos
      out.write(b)
      pos += b.length
    } finally out.close()
    ReplayLog(dir, file, events, starts)
  }

  final case class Replay(wallS: Double, startMs: Long, trigs: Seq[Trig], constructS: Double,
      counters: Counters, gcS: Double) {
    def rows: Long = trigs.map(_.rows).sum
  }

  /** One catch-up run over `log`, from an empty checkpoint. */
  def replay(ctx: Ctx, log: ReplayLog, prog: Progress, sink: Option[Verifier]): Replay = {
    val ckpt = s"${ctx.outDir}/ckpt-${ctx.tr.newId()}"
    val c0 = if (ctx.trace) ctx.meter.snapshot() else Counters.Zero
    val gc0 = Host.gcS()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = ctx.spark.readStream.format("sse").option("path", log.dir)
      .option("maxEventsPerTrigger", MaxEventsPerTrigger.toString).load()
    val w = df.writeStream.trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
    val q = sink match {
      case None => w.format("noop").start()
      case Some(v) => w.foreachBatch(verifySink(v, _ => ())).start()
    }
    val t1 = System.nanoTime()
    q.awaitTermination()
    val t2 = System.nanoTime()
    val c = if (ctx.trace) ctx.meter.snapshot() - c0 else Counters.Zero
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    Replay((t2 - t0) / 1e9, startMs, prog.of(q).map(trig), (t1 - t0) / 1e9, c, Host.gcS() - gc0)
  }

  /** A `foreachBatch` sink that collects each batch, then checks every row. */
  def verifySink(v: Verifier, onCommit: Seq[(Int, Long)] => Unit): (DataFrame, Long) => Unit =
    (df: DataFrame, _: Long) => {
      val rows: Array[Row] = df.select("event", "id", "data").collect()
      val ids = rows.map(r => v.accept(r.getString(0), r.getString(1), r.getString(2)))
      onCommit(ids.toSeq)
    }

  def runReplay(ctx: Ctx): Unit = {
    val prog = progress(ctx)
    val verifier = new Verifier(ReplayEvents)
    val log = writeLog(s"${ctx.outDir}/replay", ctx.seed, ReplayEvents, Some(verifier))
    // untimed check replay, also the warm-up: every event exactly once, unaltered
    replay(ctx, log, prog, Some(verifier))
    ctx.attempted += verifier.generatedCount
    if (verifier.failures > 0) ctx.fail(s"check replay: ${verifier.summary}", verifier.failures)
    ctx.note("check_replay", verifier.summary)
    for (_ <- 0 until WarmReplays) replay(ctx, log, prog, None)
    ctx.setupDone()

    val hb = new Heartbeat().start()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val runs = mutable.ArrayBuffer.empty[Replay]
    while (runs.size < 3 || System.nanoTime() < deadline) {
      val r = replay(ctx, log, prog, None)
      ctx.attempted += ReplayEvents
      if (r.rows != ReplayEvents)
        ctx.fail(s"timed replay committed ${r.rows} of $ReplayEvents events",
          math.abs(r.rows - ReplayEvents))
      traceTriggers(ctx, "replay", r.trigs)
      ctx.passLog += Json.obj(Seq("wall_s" -> r.wallS, "cpu_s" -> r.counters.cpuS,
        "triggers" -> r.trigs.size))
      runs += r
    }
    val late = hb.stop()

    val trigs = runs.flatMap(_.trigs)
    // an event's latency in a catch-up run: replay start to the end of the
    // trigger that committed it
    val lat = runs.flatMap(r => r.trigs.flatMap(t =>
      Iterator.fill(t.rows.toInt)((t.endMs - r.startMs).toDouble)))
    ctx.metric("pass_s", Stats.median(runs.map(_.wallS)), "s")
    ctx.metric("query_p50_s", Stats.median(trigs.map(_.dur("triggerExecution") / 1000.0)), "s")
    ctx.metric("events_per_s", Stats.median(runs.map(r => r.rows / r.wallS)), "1/s")
    ctx.metric("latency_p50_ms", Stats.median(lat), "ms")
    ctx.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
    ctx.note("latency_samples", lat.size)

    if (ctx.trace) {
      ctx.metric("gen.late_ms_p99", Stats.quantile(late, 0.99), "ms")
      streamLayers(ctx, runs.toSeq.map(r => (r.wallS, r.trigs, r.constructS, r.counters, r.gcS)))
      transportIdle(ctx)
      BatchBench.tablesProbe(ctx)
      directSourceProbes(ctx, log)
    }
  }

  /** Batch workloads bypass the stream layers; a small replay probes them. */
  def probeReplay(ctx: Ctx): Unit = {
    val prog = progress(ctx)
    val log = writeLog(s"${ctx.outDir}/probe", ctx.seed, ProbeEvents, None)
    replay(ctx, log, prog, None) // warm-up
    val rs = (0 until 2).map(_ => replay(ctx, log, prog, None))
    rs.foreach(r => traceTriggers(ctx, "probe-replay", r.trigs))
    val trigs = rs.flatMap(_.trigs)
    streamTriggerMetrics(ctx, trigs)
    transportIdle(ctx)
    directSourceProbes(ctx, writeLog(s"${ctx.outDir}/replay", ctx.seed, ReplayEvents, None))
  }

  private def traceTriggers(ctx: Ctx, run: String, trigs: Seq[Trig]): Unit = {
    val base = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ns(ms: Long): Long = base + ms * 1000000L
    trigs.foreach { t =>
      val id = ctx.tr.newId()
      ctx.tr.add(id, 0, "trigger", run, ns(t.startMs), ns(t.endMs), "rows" -> t.rows,
        "backlog_bytes" -> t.backlog)
      var at = t.startMs
      // stages in the order the engine runs them
      for (k <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
           if t.d.contains(k)) {
        ctx.tr.add(id, id, k, run, ns(at), ns(at + t.dur(k)))
        at += t.dur(k)
      }
    }
  }

  /** Per-layer metrics of the micro-batch engine and the source, from the
    * triggers of the timed passes. */
  private def streamTriggerMetrics(ctx: Ctx, trigs: Seq[Trig]): Unit = {
    def q(k: String, p: Double): Double = Stats.quantile(trigs.map(_.dur(k).toDouble), p)
    ctx.metric("source.latest_offset_p50_ms", q("latestOffset", 0.5), "ms")
    ctx.metric("source.latest_offset_p99_ms", q("latestOffset", 0.99), "ms")
    ctx.metric("source.backlog_bytes_max", trigs.map(_.backlog).max.toDouble, "bytes")
    ctx.metric("source.backlog_bytes_final", trigs.last.backlog.toDouble, "bytes")
    ctx.metric("stream.batches", trigs.count(_.rows > 0).toDouble, "count")
    ctx.metric("stream.rows_per_batch",
      Stats.median(trigs.filter(_.rows > 0).map(_.rows.toDouble)), "count")
    ctx.metric("stream.trigger_p50_ms", q("triggerExecution", 0.5), "ms")
    ctx.metric("stream.trigger_p99_ms", q("triggerExecution", 0.99), "ms")
    ctx.metric("stream.add_batch_ms", q("addBatch", 0.5), "ms")
    ctx.metric("stream.planning_ms", q("queryPlanning", 0.5), "ms")
    ctx.metric("stream.wal_ms", q("walCommit", 0.5), "ms")
  }

  /** Operators / plan / exec metrics for a stream workload: one pass is a
    * replay (or the live measuring window); construction is building and
    * starting the streaming query, which launches no Spark job, so its jobs,
    * tasks and executor CPU are 0; planning and execution are the triggers'
    * `queryPlanning` and `addBatch`. */
  private def streamLayers(ctx: Ctx,
      passes: Seq[(Double, Seq[Trig], Double, Counters, Double)]): Unit = {
    def perPass(f: ((Double, Seq[Trig], Double, Counters, Double)) => Double): Double =
      Stats.median(passes.map(f))
    def sumDur(ts: Seq[Trig], k: String): Double = ts.map(_.dur(k)).sum / 1000.0
    ctx.metric("operators.construct_s", perPass(_._3), "s")
    ctx.metric("operators.construct_jobs", 0, "count")
    ctx.metric("operators.construct_tasks", 0, "count")
    ctx.metric("operators.construct_cpu_s", 0, "s")
    ctx.metric("operators.construct_share", perPass(p => p._3 / p._1), "ratio")
    ctx.metric("plan.plan_s", perPass(p => sumDur(p._2, "queryPlanning")), "s")
    ctx.metric("plan.jobs", 0, "count")
    ctx.metric("exec.exec_s", perPass(p => sumDur(p._2, "addBatch")), "s")
    ctx.metric("exec.jobs", perPass(_._4.jobs.toDouble), "count")
    ctx.metric("exec.tasks", perPass(_._4.tasks.toDouble), "count")
    ctx.metric("exec.cpu_s", perPass(_._4.cpuS), "s")
    ctx.metric("exec.util", perPass(p => p._4.cpuS / (sumDur(p._2, "addBatch") * ctx.cores)),
      "ratio")
    ctx.metric("exec.shuffle_mb", perPass(_._4.shuffleBytes / 1048576.0), "MB")
    ctx.metric("exec.spill_mb", perPass(_._4.spillBytes / 1048576.0), "MB")
    ctx.metric("exec.gc_s", perPass(_._5), "s")
    ctx.metric("exec.peak_mem_mb", passes.map(_._4.peakMemBytes).max / 1048576.0, "MB")
    streamTriggerMetrics(ctx, passes.flatMap(_._2))
  }

  private def transportIdle(ctx: Ctx): Unit = {
    for (k <- Seq("events_total", "bytes_total", "connection_attempts", "connection_failed",
      "reconnections", "spool_lag_bytes", "spool_bytes_final"))
      ctx.metric(s"transport.$k", 0, if (k.contains("bytes")) "bytes" else "count")
    ctx.metric("stream.sustained_eps", 0, "1/s")
  }

  /** Direct calls into the source outside any query: `SseFrameLog.scan`
    * capped at 1,000 events near the head and near the tail of the replay
    * log, and `SseParser.feed` over the whole log. */
  private def directSourceProbes(ctx: Ctx, log: ReplayLog): Unit = {
    def timeMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def scanMs(from: Long): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      SseFrameLog.scan(log.file, from, MaxEventsPerTrigger)
      val t1 = System.nanoTime()
      ctx.tr.add(ctx.tr.newId(), 0, "SseFrameLog.scan", s"from=$from", t0, t1)
      (t1 - t0) / 1e6
    })
    ctx.metric("source.scan1k_head_ms", scanMs(0L), "ms")
    ctx.metric("source.scan1k_tail_ms", scanMs(log.frameStarts(log.events - 1500)), "ms")
    val text = new String(java.nio.file.Files.readAllBytes(new File(log.file).toPath), UTF_8)
    val mb = new File(log.file).length() / 1048576.0
    val ms = Stats.median((0 until 3).map(_ => timeMs(new SseParser().feed(text))))
    ctx.metric("parser.mb_per_s", mb / (ms / 1000), "MB/s")
  }

  // -------------------------------------------------------------- live

  /** Rate segments of the open-loop generator: (events/s, seconds). */
  final case class Segment(rate: Int, seconds: Double)

  /** One generator thread that serves the seeded stream over one HTTP
    * connection (JDK `HttpServer`, loopback only), writing each event at
    * its due time. Events that fall behind schedule are written as soon as
    * possible; their lateness is recorded. */
  final class LiveServer(seed: Long, segments: Seq[Segment], verifier: Verifier,
      spoolFile: File, clockBase: Long) {
    private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    private val pool = Executors.newSingleThreadExecutor()
    private val release = new CountDownLatch(1)
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    /** (ns since clockBase, generated bytes − spool length). */
    val spoolLag = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var startNs = 0L
    @volatile var done = false
    @volatile var bytes = 0L
    @volatile var error: Option[Throwable] = None

    server.createContext("/events", ex => {
      ex.getResponseHeaders.add("Content-Type", "text/event-stream")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      try serve(out) catch { case e: Throwable => error = Some(e) }
      finally {
        release.await(60, TimeUnit.SECONDS)
        try out.close() catch { case _: Throwable => () }
      }
    })
    server.setExecutor(pool)
    server.start()

    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/events"

    private def serve(out: java.io.OutputStream): Unit = {
      val gen = new EventGen(seed)
      val t0 = System.nanoTime()
      startNs = t0
      var due = t0.toDouble
      var seq = 0
      var lastSample = 0L
      for (seg <- segments) {
        val end = due + seg.seconds * 1e9
        val step = 1e9 / seg.rate
        while (due < end) {
          val wait = due.toLong - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          // write every event that is due by now in one chunk
          val now = System.nanoTime()
          val sb = new java.lang.StringBuilder
          while (due <= now && due < end) {
            val f = gen.next(seq, (due.toLong - clockBase) / 1000)
            verifier.expect(f)
            sb.append(f.wire)
            late.add((now - due) / 1e6)
            seq += 1
            due += step
          }
          if (sb.length > 0) {
            val b = sb.toString.getBytes(UTF_8)
            out.write(b)
            out.flush()
            bytes += b.length
          }
          if (now - lastSample > 50000000L) {
            lastSample = now
            spoolLag.add((now - clockBase, bytes - spoolFile.length()))
          }
        }
      }
      done = true
    }

    /** Ends the response (after the schedule has run out). */
    def finish(): Unit = release.countDown()

    def stop(): Unit = {
      release.countDown()
      server.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  def runLive(ctx: Ctx): Unit = {
    val prog = progress(ctx)
    // untimed, checked replays through the same sink before the live query
    // starts: without them the JIT is still settling in the measuring window,
    // and median trigger time spreads about 30% between runs
    val warmLog = writeLog(s"${ctx.outDir}/warm", ctx.seed, ProbeEvents, None)
    for (_ <- 0 until WarmReplays) {
      val v = new Verifier(ProbeEvents)
      val gen = new EventGen(ctx.seed)
      for (i <- 0 until ProbeEvents) v.expect(gen.next(i, 0L))
      replay(ctx, warmLog, prog, Some(v))
      ctx.attempted += ProbeEvents
      if (v.failures > 0) ctx.fail(s"warm-up replay: ${v.summary}", v.failures)
    }
    val measure = Segment(HeadlineRate, ctx.seconds)
    val rungs = if (ctx.trace) Ladder.filter(_ != HeadlineRate).map(Segment(_, ctx.seconds / 2))
      else Nil
    val segments = Segment(HeadlineRate, WarmS) +: measure +: rungs
    val capacity = segments.map(s => math.ceil(s.rate * s.seconds).toInt + 1).sum
    val verifier = new Verifier(capacity)
    val spoolDir = new File(s"${ctx.outDir}/spool")
    val clockBase = System.nanoTime()
    val server = new LiveServer(ctx.seed, segments, verifier,
      new File(spoolDir, "live-0000.sselog"), clockBase)
    // per event: (due_us, commit_us), in commit order
    val commits = new ConcurrentLinkedQueue[(Long, Long)]()
    val sink = verifySink(verifier, ids => {
      val now = (System.nanoTime() - clockBase) / 1000
      ids.foreach { case (_, due) => commits.add((due, now)) }
    })

    val c0 = if (ctx.trace) ctx.meter.snapshot() else Counters.Zero
    val t0 = System.nanoTime()
    val q = ctx.spark.readStream.format("sse").option("transport", "live")
      .option("sse.uri", server.url).option("path", spoolDir.getPath)
      .load()
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"${ctx.outDir}/ckpt-live").start()
    val constructS = (System.nanoTime() - t0) / 1e9
    try {
      // wait for the generator to start, then for the warm-up window to pass
      val waitUntil = System.nanoTime() + 60L * 1000000000L
      while (server.startNs == 0L && System.nanoTime() < waitUntil && q.isActive)
        Thread.sleep(10)
      if (server.startNs == 0L) throw new IllegalStateException("source never connected")
      val winStartNs = server.startNs + (WarmS * 1e9).toLong
      val winEndNs = winStartNs + (ctx.seconds * 1e9).toLong
      val winStartMs = System.currentTimeMillis() + (winStartNs - System.nanoTime()) / 1000000L
      val winEndMs = winStartMs + (ctx.seconds * 1000).toLong
      ctx.setupDone(winStartNs)
      val gc0 = { sleepUntil(winStartNs); Host.gcS() }
      val cw0 = if (ctx.trace) ctx.meter.snapshot() else Counters.Zero
      val hb = new Heartbeat().start()
      sleepUntil(winEndNs)
      hb.stop()
      val gcS = Host.gcS() - gc0
      val cw = if (ctx.trace) ctx.meter.snapshot() - cw0 else Counters.Zero
      // let the rest of the schedule run, then drain every generated event
      val drainBy = System.nanoTime() + 60L * 1000000000L
      while ((!server.done || verifier.received < verifier.generatedCount) &&
        System.nanoTime() < drainBy && q.isActive) Thread.sleep(20)
      // end the response first: closing the client drains the chunked
      // stream to its end, so an open response would block the stop
      server.finish()
      q.stop()
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      server.error.foreach(e => ctx.fail(s"generator: $e"))
      q.exception.foreach(e => ctx.fail(s"query: ${e.getMessage}"))
      ctx.attempted += verifier.generatedCount
      if (verifier.failures > 0) ctx.fail(s"live: ${verifier.summary}", verifier.failures)
      ctx.note("live_check", verifier.summary)

      val trigs = prog.of(q).map(trig)
      def inWin(t: Trig, a: Long, b: Long) = t.startMs >= a && t.startMs < b
      val winTrigs = trigs.filter(inWin(_, winStartMs, winEndMs))
      val all = commits.asScala.toSeq
      def window(a: Double, b: Double): Seq[(Long, Long)] = {
        val lo = ((winStartNs - clockBase) / 1000 + a * 1e6).toLong
        val hi = ((winStartNs - clockBase) / 1000 + b * 1e6).toLong
        all.filter { case (due, _) => due >= lo && due < hi }
      }
      val win = window(0, ctx.seconds)
      val lat = win.map { case (due, at) => (at - due) / 1000.0 }
      val firstDue = win.map(_._1).min
      val lastCommit = win.map(_._2).max
      ctx.metric("pass_s", (lastCommit - firstDue) / 1e6, "s")
      ctx.metric("query_p50_s",
        Stats.median(winTrigs.map(_.dur("triggerExecution") / 1000.0)), "s")
      ctx.metric("events_per_s", win.size / ((lastCommit - firstDue) / 1e6), "1/s")
      ctx.metric("latency_p50_ms", Stats.median(lat), "ms")
      ctx.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
      ctx.note("latency_samples", lat.size)
      traceTriggers(ctx, "live", trigs)
      ctx.passLog += Json.obj(Seq("wall_s" -> ctx.seconds, "cpu_s" -> cw.cpuS,
        "triggers" -> winTrigs.size))

      if (ctx.trace) {
        val lateMs = server.late.asScala.map(_.doubleValue).toSeq
        ctx.metric("gen.late_ms_p99", Stats.quantile(lateMs, 0.99), "ms")
        streamLayers(ctx, Seq((ctx.seconds, winTrigs, constructS, cw, gcS)))
        val last = trigs.filter(_.src.contains("events.total")).last.src
        def m(k: String): Double = last.get(k).map(_.toDouble).getOrElse(0.0)
        ctx.metric("transport.events_total", m("events.total"), "count")
        ctx.metric("transport.bytes_total", m("events.bytes"), "bytes")
        ctx.metric("transport.connection_attempts", m("connection.attempts"), "count")
        ctx.metric("transport.connection_failed", m("connection.failed"), "count")
        ctx.metric("transport.reconnections", m("connection.reconnections"), "count")
        val lag = server.spoolLag.asScala.toSeq
        ctx.metric("transport.spool_lag_bytes", Stats.quantile(lag.map(_._2.toDouble), 0.99),
          "bytes")
        ctx.metric("transport.spool_bytes_final",
          new File(spoolDir, "live-0000.sselog").length().toDouble, "bytes")
        // the rate ladder: a rung holds if the backlog does not grow and
        // p99 latency stays within the limit
        var offset = ctx.seconds
        val held = (measure +: rungs).map { seg =>
          val (a, b) = if (seg eq measure) (0.0, ctx.seconds) else {
            val r = (offset, offset + seg.seconds); offset += seg.seconds; r
          }
          val l = window(a, b).map { case (due, at) => (at - due) / 1000.0 }
          val ts = trigs.filter(inWin(_, winStartMs + (a * 1000).toLong, winStartMs + (b * 1000).toLong))
          val ok = l.nonEmpty && Stats.quantile(l, 0.99) <= LatencyLimitMs && !backlogGrows(ts, seg)
          ctx.note(s"rung_${seg.rate}", Json.obj(Seq("p99_ms" -> Stats.quantile(l, 0.99), "held" -> ok)))
          seg.rate -> ok
        }.sortBy(_._1)
        ctx.metric("stream.sustained_eps",
          held.takeWhile(_._2).lastOption.map(_._1.toDouble).getOrElse(0.0), "1/s")
        BatchBench.tablesProbe(ctx)
        directSourceProbes(ctx, writeLog(s"${ctx.outDir}/replay", ctx.seed, ReplayEvents, None))
      }
    } finally {
      if (q.isActive) q.stop()
      server.stop()
    }
  }

  /** True if the backlog rose by more than two seconds' worth of input
    * between the first and last triggers of a rung (least-squares slope). */
  private def backlogGrows(ts: Seq[Trig], seg: Segment): Boolean = {
    if (ts.size < 3) return true
    val xs = ts.map(_.startMs / 1000.0)
    val ys = ts.map(_.backlog.toDouble)
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    // bytes/s of growth, against the rung's ingest in bytes/s (~1.1 kB/event)
    slope * seg.seconds > 2 * seg.rate * 1100
  }

  private def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) { Thread.sleep(math.max(1L, d / 1000000L)); d = ns - System.nanoTime() }
  }
}
