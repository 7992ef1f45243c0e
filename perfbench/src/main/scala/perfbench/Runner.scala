package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** JVM side of the benchmark. One process, one SparkSession at
  * local[cores], one closed-loop client: each query is built, run to a sink
  * and released (`Persisted.releaseAll`, `RollupRewrite.clear`,
  * `clearCache`) before the next starts.
  *
  * Builds the session and registers the tables, prints the ready marker
  * (run.py times setup_s from process start to it), runs the checked pass
  * (results to parquet for the output check), then timed passes in the
  * seeded query order until --seconds have elapsed, and writes result.json
  * (and, with --trace 1, spans.jsonl) to --out. run.py drives it; it is not
  * meant to be started by hand.
  */
object Runner {
  val Ready = "PERFBENCH_READY"

  final case class Sample(pass: Int, query: String, startNs: Long,
      buildS: Double, execS: Double, writeS: Double, rows: Long,
      error: Option[String])

  /** Session build and input registration: (env, build s, register s). */
  private def setup(a: Map[String, String], cores: Int): (Env, Double, Double) = {
    val t0 = System.nanoTime()
    val ctx = graft.Context.local(cores)
    ctx.spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    val env = new Env(ctx, a("data"), a("inputs"), a("work"))
    Workloads.registerInputs(env)
    (env, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    Files.createDirectories(Paths.get(a("work")))
    val (env, sessionS, registerS) = setup(a, cores)
    println(Ready)
    System.out.flush()
    run(a, env, cores, sessionS, registerS)
  }

  private def release(spark: SparkSession): Unit = {
    graft.operators.Persisted.releaseAll(spark)
    graft.plans.RollupRewrite.clear(spark)
    spark.catalog.clearCache()
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Start the timed window from a collected heap and an idle JIT: a full
    * GC, then wait (up to 5 s) until no method has been compiled for half a
    * second. The checked pass leaves compilations queued that would
    * otherwise compete with the first timed pass. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - quietSince < 500000000L) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def run(a: Map[String, String], env: Env, cores: Int,
      sessionS: Double, registerS: Double): Unit = {
    val spark = env.ctx.spark
    val sc = spark.sparkContext
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val items = Workloads(a("workload"))
    Files.createDirectories(Paths.get(out, "results"))

    val calibS = if (traced) Calib.anchor(spark, cores) else 0.0

    // One query through the closed loop. `sink` is the action; the
    // observation counts the rows it saw, outside the timed interval.
    def once(item: Item, pass: Int, tag: String,
        sink: DataFrame => Unit): Sample = {
      val obs = Observation(s"pb_${tag}_${item.name}")
      env.writeS = 0.0
      sc.setJobGroup(s"pb|$pass|${item.name}|build", item.name)
      val tStart = System.nanoTime()
      var tBuilt = tStart
      val res = try {
        val df = item.body(env)
        tBuilt = System.nanoTime()
        sc.setJobGroup(s"pb|$pass|${item.name}|exec", item.name)
        sink(df.observe(obs, count(lit(1)).as("rows")))
        Right(System.nanoTime())
      } catch { case e: Throwable => Left(e) }
      sc.clearJobGroup()
      res match {
        case Right(tEnd) =>
          val rows = obs.get("rows").asInstanceOf[Long]
          Sample(pass, item.name, tStart, (tBuilt - tStart) / 1e9,
            (tEnd - tBuilt) / 1e9, env.writeS, rows, None)
        case Left(e) =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] ${item.name} pass $pass failed: $msg")
          Sample(pass, item.name, tStart, (tBuilt - tStart) / 1e9, 0.0,
            env.writeS, -1L, Some(msg))
      }
    }

    val noop: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()

    // plans are recorded from the first pass on, so that a plan changed by
    // a query that ran earlier in the session (plan.order_dependent) shows
    val tracer = new Tracer
    val streams = new StreamTracer
    if (traced) {
      spark.listenerManager.register(tracer)
      spark.streams.addListener(streams)
    }

    // ---- checked (cold) pass: every result to parquet for the output check
    val tc0 = System.nanoTime()
    val checked = Workloads.order(items, seed, 0).map { item =>
      val s = once(item, 0, "0",
        _.write.mode("overwrite").parquet(s"$out/results/${item.name}"))
      release(spark)
      s
    }
    val coldS = (System.nanoTime() - tc0) / 1e9
    settle()

    // ---- timed window: whole passes, so every query has the same number
    //      of samples, until --seconds have elapsed. The traced run makes
    //      three passes: untraced, traced, untraced; the untraced ones on
    //      both sides are the baseline of trace.overhead_frac. The job,
    //      stage and task listener is attached for the traced pass only;
    //      streaming progress is cut to it by trigger time.
    val tracePrefix = s"${a("workload")}-$seed"
    val spans = mutable.ArrayBuffer.empty[Span]
    val persist = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val cpu0 = cpuSeconds()
    val gc0 = gcSeconds()
    val tw0 = System.nanoTime()
    var pass = 0
    var tracedMs = (0L, 0L)
    def elapsed = (System.nanoTime() - tw0) / 1e9
    while (if (traced) pass < 3 else pass == 0 || elapsed < seconds) {
      pass += 1
      val tracing = traced && pass == 2
      if (tracing) sc.addSparkListener(tracer)
      val tp0 = System.nanoTime()
      val tp0Ms = System.currentTimeMillis()
      Workloads.order(items, seed, pass).foreach { item =>
        val s = once(item, pass, pass.toString, noop)
        val tr0 = System.nanoTime()
        if (tracing) {
          val frames = graft.operators.Persisted.pending(spark)
          val storedMb = sc.getRDDStorageInfo
            .map(r => r.memSize + r.diskSize).sum / 1048576.0
          release(spark)
          val tr1 = System.nanoTime()
          persist += ((frames, storedMb, (tr1 - tr0) / 1e9))
          val trace = s"$tracePrefix-p$pass"
          val root = s"$trace/${item.name}"
          val tb = s.startNs
          val te = tb + (s.buildS * 1e9).toLong
          spans += Span(trace, root, "", item.name, tb, tr1)
          spans += Span(trace, s"$root/build", root, "build", tb, te)
          spans += Span(trace, s"$root/exec", root, "exec", te,
            te + (s.execS * 1e9).toLong)
          spans += Span(trace, s"$root/release", root, "release", tr0, tr1)
        } else release(spark)
        samples += s
      }
      passWall += ((pass, tracing, (System.nanoTime() - tp0) / 1e9))
      if (tracing) {
        tracedMs = (tp0Ms, System.currentTimeMillis())
        tracer.fence(sc)
        sc.removeSparkListener(tracer)
      }
    }
    val windowS = elapsed
    val cpuS = cpuSeconds() - cpu0
    val gcS = gcSeconds() - gc0
    val heapPeakMb = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
    val kernels = if (traced) Kernels.timeAll(seed) else Map.empty[String, Double]

    // stopping the context drains the listener bus into the tracers
    spark.stop()

    val (batches, stateRows, stateBytes, addBatchS, walCommitS) =
      streams.in(tracedMs._1, tracedMs._2)
    val tracedResult: Map[String, Any] = if (!traced) Map.empty else Map(
      "kernels_ns" -> kernels,
      "persist" -> persist.toSeq.map { case (f, mb, r) =>
        Map("frames" -> f, "storage_mb" -> mb, "release_s" -> r) },
      "stream" -> Map("batches" -> batches, "state_rows" -> stateRows,
        "state_mem_bytes" -> stateBytes, "add_batch_s" -> addBatchS,
        "wal_commit_s" -> walCommitS),
      "fingerprints" -> tracer.plans.toSeq.map { case (name, (_, fin, _)) =>
        val Array(_, p, q) = name.split("_", 3)
        Map("pass" -> p.toInt, "query" -> q,
          "fingerprint" -> Shape.queryFingerprint(fin))
      },
      "traced_queries" -> samples.filter(_.pass == 2).toSeq.map { s =>
        val w = tracer.work.getOrElse((s.pass, s.query), new Work)
        val (all, _, planS) = tracer.plans.getOrElse(s"pb_${s.pass}_${s.query}",
          (Nil, null, 0.0))
        val total = all.map(Shape.of).foldLeft(Shape.empty)(_ + _)
        Map("pass" -> s.pass, "query" -> s.query, "plan_s" -> planS,
          "plans" -> all.size, "exchanges" -> total.exchanges,
          "scans" -> total.scans, "sorts" -> total.sorts,
          "broadcasts" -> total.broadcasts,
          "codegen_stages" -> total.codegenStages,
          "exchange_rows" -> total.exchangeRows,
          "jobs" -> w.jobs, "build_jobs" -> w.buildJobs, "stages" -> w.stages,
          "tasks" -> w.tasks, "task_s" -> w.taskS, "exec_task_s" -> w.execTaskS,
          "cpu_s" -> w.cpuS, "gc_s" -> w.gcS, "input_bytes" -> w.inputBytes,
          "input_rows" -> w.inputRows, "output_bytes" -> w.outputBytes,
          "shuffle_read_bytes" -> w.shuffleRead,
          "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
          "peak_mem_mb" -> w.peakMemBytes / 1048576.0)
      })
    val result = Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "session_build_s" -> sessionS, "register_s" -> registerS,
      "cold_pass_s" -> coldS, "window_s" -> windowS, "cpu_s" -> cpuS,
      "driver_gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
      "vmhwm_kb" -> vmHwmKb(), "calib_s" -> calibS,
      "oracle" -> items.flatMap(i => i.oracle.map(i.name -> _)).toMap,
      "reads_parquet" -> items.filter(_.readsParquet).map(_.name),
      "seeded" -> items.filter(_.seeded).map(_.name),
      "checked" -> checked.map(sampleMap),
      "samples" -> samples.toSeq.map(sampleMap),
      "passes" -> passWall.toSeq.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) }) ++ tracedResult
    Files.writeString(Paths.get(out, "result.json"), Json.write(result) + "\n")
    if (traced) writeSpans(out, tracePrefix, spans.toSeq, tracer)
  }

  private def sampleMap(s: Sample): Map[String, Any] =
    Map("pass" -> s.pass, "query" -> s.query, "build_s" -> s.buildS,
      "exec_s" -> s.execS, "write_s" -> s.writeS, "rows" -> s.rows) ++
      s.error.map("error" -> _)

  /** Spans of the traced pass plus the listener's job, stage and planning
    * spans, one JSON object per line; times in epoch nanoseconds (the
    * listener's are whole milliseconds). */
  private def writeSpans(out: String, tracePrefix: String, spans: Seq[Span],
      tracer: Tracer): Unit = {
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def span(trace: String, id: String, parent: String, name: String,
        startNs: Long, endNs: Long): String =
      Json.write(Map("trace" -> trace, "id" -> id, "parent" -> parent,
        "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs))
    val own = spans.map(s => span(s.trace, s.id, s.parent, s.name,
      s.startNs + epochOffsetNs, s.endNs + epochOffsetNs))
    def groupSpans(kind: String, xs: Seq[(String, Int, Long, Long)]) =
      xs.map { case (g, id, st, en) =>
        val Array(_, p, q, phase) = g.split('|')
        val trace = s"$tracePrefix-p$p"
        span(trace, s"$trace/$q/$phase/$kind$id", s"$trace/$q/$phase",
          s"$kind $id", st * 1000000L, en * 1000000L)
      }
    val tracedPasses = spans.map(_.trace).toSet
    val planned = tracer.planSpans.toSeq.flatMap { case (name, st, en) =>
      val Array(_, p, q) = name.split("_", 3)
      val trace = s"$tracePrefix-p$p"
      if (!tracedPasses(trace)) None
      else Some(span(trace, s"$trace/$q/plan", s"$trace/$q/exec", "plan",
        st * 1000000L, en * 1000000L))
    }
    val lines = own ++ groupSpans("job", tracer.jobSpans.toSeq) ++
      groupSpans("stage", tracer.stageSpans.toSeq) ++ planned
    Files.writeString(Paths.get(out, "spans.jsonl"), lines.mkString("", "\n", "\n"))
  }

  private def vmHwmKb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }
}
