package perfbench

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The two batch workloads. Each query runs as construct → plan → `noop`
  * write, timed from outside through the public entry points:
  *  - construct: `SparkEntry.queries(name)(spark, dataDir)` (operators,
  *    `Tables.apply`, eager pins);
  *  - plan: `df.queryExecution.executedPlan` (Catalyst + `GraftExtensions`);
  *  - exec: `df.write.format("noop")`.
  */
object BatchBench {

  /** Short queries bound by the driver and job launches: table loading,
    * planning and job launch dominate; operators build almost nothing
    * eagerly. One query of each family (TPC-H, batch SSE, event analytics). */
  val Light: Seq[String] = Seq(
    "q1_pricing", "q6_forecast", "sse_parse", "ev_type_counts", "ev_dedup_latest")

  /** Queries whose construction dominates: a merge-loop trainer with one job
    * per round, and an ANN sweep that re-derives candidates per probe level. */
  val Iterative: Seq[String] = Seq("text_bpe_train", "ann_ivf_nprobe_curve")

  val WarmPasses = 3

  val Tables_ : Seq[String] = Seq("lineitem", "orders", "customer", "part", "supplier",
    "nation", "region", "events", "documents", "embeddings")

  final case class QueryRun(name: String, constructS: Double, planS: Double, execS: Double,
      construct: Counters, plan: Counters, exec: Counters, execGcS: Double) {
    def wallS: Double = constructS + planS + execS
  }

  final case class Pass(wallS: Double, queries: Seq[QueryRun])

  def run(ctx: Ctx, queries: Seq[String]): Unit = {
    val spark = ctx.spark
    val names = new scala.util.Random(ctx.seed).shuffle(queries)
    ctx.note("queries", names)

    // Untimed check pass: every result is written to parquet for the
    // fingerprint check. It doubles as the warm-up pass (codegen, JIT, page
    // cache): a cold first pass runs about 30% slower than a warm one.
    val checkDir = s"${ctx.outDir}/check"
    names.foreach { n =>
      ctx.attempted += 1
      try SparkEntry.queries(n)(spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$n")
      catch { case e: Throwable => ctx.fail(s"$n: check pass threw ${e.getMessage}") }
      ctx.checks += n -> s"$checkDir/$n"
    }
    ctx.note("check_pass_done_s", ctx.sinceStartS())
    // untimed noop passes: after the check pass alone the first timed pass
    // runs ~40% slow (JIT). With one warm pass the timed passes still got
    // about 20% faster from first to last, so a run's median followed the
    // number of passes that fitted in the window
    for (_ <- 0 until WarmPasses; n <- names)
      SparkEntry.queries(n)(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
    ctx.setupDone()

    val hb = new Heartbeat().start()
    val passes = timedPasses(ctx, names)
    val late = hb.stop()

    val samples = passes.flatMap(_.queries.map(_.wallS))
    val passWalls = passes.map(_.wallS)
    ctx.metric("pass_s", Stats.median(passWalls), "s")
    ctx.metric("query_p50_s", Stats.median(samples), "s")
    ctx.metric("events_per_s", names.size / Stats.median(passWalls), "1/s")
    ctx.metric("latency_p50_ms", Stats.median(samples) * 1000, "ms")
    ctx.metric("latency_p99_ms", Stats.quantile(samples, 0.99) * 1000, "ms")
    ctx.note("latency_samples", samples.size)

    if (ctx.trace) {
      layerMetrics(ctx, passes)
      ctx.metric("gen.late_ms_p99", Stats.quantile(late, 0.99), "ms")
      tablesProbe(ctx)
      // the stream layers are bypassed here; a small fixed replay probes them
      StreamBench.probeReplay(ctx)
    }
  }

  private def timedPasses(ctx: Ctx, names: Seq[String]): Seq[Pass] = {
    val spark = ctx.spark
    val meter = ctx.meter
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    // at least three passes, so one outlying pass cannot move the median
    while (passes.size < 3 || System.nanoTime() < deadline) {
      val passId = ctx.tr.newId()
      val p0 = System.nanoTime()
      val pc0 = if (ctx.trace) meter.snapshot() else Counters.Zero
      val runs = names.map { n =>
        val qid = ctx.tr.newId()
        ctx.attempted += 1
        try {
          val construct = phase(ctx)(SparkEntry.queries(n)(spark, ctx.dataDir))
          val df = construct.value
          val plan = phase(ctx)(df.queryExecution.executedPlan)
          meter.resetPeak()
          val gc0 = Host.gcS()
          val exec = phase(ctx)(df.write.format("noop").mode("overwrite").save())
          val gc = Host.gcS() - gc0
          val r = QueryRun(n, construct.s, plan.s, exec.s, construct.c, plan.c, exec.c, gc)
          val all = construct.c + plan.c + exec.c
          ctx.tr.add(qid, passId, "query", n, construct.t0, exec.t1, "jobs" -> all.jobs,
            "cpu_s" -> all.cpuS)
          ctx.tr.add(qid, qid, "construct", n, construct.t0, construct.t1,
            "jobs" -> r.construct.jobs, "tasks" -> r.construct.tasks, "cpu_s" -> r.construct.cpuS)
          ctx.tr.add(qid, qid, "plan", n, plan.t0, plan.t1, "jobs" -> r.plan.jobs)
          ctx.tr.add(qid, qid, "execute", n, exec.t0, exec.t1, "jobs" -> r.exec.jobs,
            "tasks" -> r.exec.tasks, "cpu_s" -> r.exec.cpuS, "gc_s" -> gc)
          Some(r)
        } catch {
          case e: Throwable => ctx.fail(s"$n: timed pass threw ${e.getMessage}"); None
        }
      }.flatten
      val p1 = System.nanoTime()
      val pc = if (ctx.trace) meter.snapshot() - pc0 else Counters.Zero
      // executor CPU beside wall for every pass: a host stall inflates wall, not CPU
      ctx.tr.add(passId, 0, "pass", s"pass-${passes.size}", p0, p1, "jobs" -> pc.jobs,
        "cpu_s" -> pc.cpuS)
      ctx.passLog += Json.obj(Seq("wall_s" -> (p1 - p0) / 1e9, "cpu_s" -> pc.cpuS))
      passes += Pass((p1 - p0) / 1e9, runs)
    }
    passes.toSeq
  }

  final case class Phase[A](value: A, t0: Long, t1: Long, c: Counters) {
    def s: Double = (t1 - t0) / 1e9
  }

  /** Times `f`; in traced runs also takes the Spark counters it consumed.
    * The listener-bus drains sit outside the timed interval. */
  def phase[A](ctx: Ctx)(f: => A): Phase[A] = {
    val c0 = if (ctx.trace) ctx.meter.snapshot() else Counters.Zero
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    val c = if (ctx.trace) ctx.meter.snapshot() - c0 else Counters.Zero
    Phase(a, t0, t1, c)
  }

  private def layerMetrics(ctx: Ctx, passes: Seq[Pass]): Unit = {
    def perPass(f: Pass => Double): Double = Stats.median(passes.map(f))
    def sum(p: Pass, f: QueryRun => Double): Double = p.queries.map(f).sum
    ctx.metric("operators.construct_s", perPass(sum(_, _.constructS)), "s")
    ctx.metric("operators.construct_jobs", perPass(sum(_, _.construct.jobs.toDouble)), "count")
    ctx.metric("operators.construct_tasks", perPass(sum(_, _.construct.tasks.toDouble)), "count")
    ctx.metric("operators.construct_cpu_s", perPass(sum(_, _.construct.cpuS)), "s")
    ctx.metric("operators.construct_share", perPass(p => sum(p, _.constructS) / p.wallS), "ratio")
    ctx.metric("plan.plan_s", perPass(sum(_, _.planS)), "s")
    ctx.metric("plan.jobs", perPass(sum(_, _.plan.jobs.toDouble)), "count")
    ctx.metric("exec.exec_s", perPass(sum(_, _.execS)), "s")
    ctx.metric("exec.jobs", perPass(sum(_, _.exec.jobs.toDouble)), "count")
    ctx.metric("exec.tasks", perPass(sum(_, _.exec.tasks.toDouble)), "count")
    ctx.metric("exec.cpu_s", perPass(sum(_, _.exec.cpuS)), "s")
    ctx.metric("exec.util", perPass(p => sum(p, _.exec.cpuS) / (sum(p, _.execS) * ctx.cores)),
      "ratio")
    ctx.metric("exec.shuffle_mb", perPass(sum(_, _.exec.shuffleBytes / 1048576.0)), "MB")
    ctx.metric("exec.spill_mb", perPass(sum(_, _.exec.spillBytes / 1048576.0)), "MB")
    ctx.metric("exec.gc_s", perPass(sum(_, _.execGcS)), "s")
    ctx.metric("exec.peak_mem_mb",
      passes.flatMap(_.queries.map(_.exec.peakMemBytes)).max / 1048576.0, "MB")
  }

  /** Direct `Tables.apply` calls, one per table, three rounds; ms and jobs
    * per call. Runs outside the timed region. */
  def tablesProbe(ctx: Ctx): Unit = {
    val ms = scala.collection.mutable.ArrayBuffer.empty[Double]
    var jobs = 0L
    for (round <- 0 until 3; t <- Tables_) {
      val c0 = ctx.meter.snapshot()
      val t0 = System.nanoTime()
      Tables(ctx.spark, ctx.dataDir, t)
      val t1 = System.nanoTime()
      val c = ctx.meter.snapshot() - c0
      ms += (t1 - t0) / 1e6
      jobs += c.jobs
      ctx.tr.add(ctx.tr.newId(), 0, "tables.apply", t, t0, t1, "round" -> round, "jobs" -> c.jobs)
    }
    ctx.metric("tables.apply_ms", Stats.median(ms), "ms")
    ctx.metric("tables.apply_jobs", jobs.toDouble / ms.size, "count")
  }

  /** DuckDB-oracle SQL for the given queries (used to derive references). */
  def oracleSql(names: Seq[String]): Seq[(String, String)] =
    names.map(n => n -> SparkEntry.oracleSql(n))

  def session(cores: Int): SparkSession = graft.GraftSession.builder(cores.toString)
    .appName("perfbench").getOrCreate()
}
