package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Benchmark entry point.
  *
  * {{{
  *   Main --workload <tile_join|knn|ingest> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir>
  * }}}
  *
  * Spark runs on `local[n]`, n being the processors the JVM may use; a JVM
  * told it has more than the CPUs the process may run on is refused.
  *
  * With `--trace 0` it measures the workload untraced and reports the
  * end-to-end metrics; with `--trace 1` it measures the workload with every
  * other operation traced, runs the layer probes, and reports the per-layer
  * metrics plus the tracing overhead. The last stdout line is one JSON
  * object: {"correct", "attempted", "failed", "metrics"}. A failed
  * correctness check makes the exit code 1. */
object Main {

  /** Set-up rounds per untraced run; `setup_s` is their median. */
  val SetupRounds = 3

  /** A reported value; `samples` < 0 marks a figure from a short pass. */
  private final case class Metric(value: Double, samples: Int)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, fail(s"missing --$k"))
    val cfg = Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case o => fail(s"--trace must be 0 or 1, got $o")
      },
      cores = Runtime.getRuntime.availableProcessors,
      workDir = need("work"))
    if (!Workload.Names.contains(cfg.workload))
      fail(s"unknown workload '${cfg.workload}' (expected ${Workload.Names.mkString(", ")})")
    val nproc = Harness.allowedCpus().getOrElse(cfg.cores)
    if (cfg.cores > nproc)
      fail(s"the JVM reports ${cfg.cores} processors but this process may run on $nproc CPUs: " +
        "refusing to run more Spark threads than nproc")
    if (cfg.seconds < 1) fail("--seconds must be at least 1")

    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage
    val ctx = new Ctx(cfg)
    val w = Workload(cfg.workload)
    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    val notes = mutable.ArrayBuffer.empty[String]
    var sparkVersion = "?"
    try {
      if (!cfg.trace) untraced(ctx, w, metrics, notes)
      else traced(ctx, w, metrics, notes)
      sparkVersion = ctx.spark.version
    } finally {
      w.cleanup(ctx)
      if (ctx.spark != null) ctx.stopSession()
    }
    val load1 = os.getSystemLoadAverage

    val host = Seq(
      "nproc" -> nproc.toString,
      "cores" -> cfg.cores.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(sparkVersion),
      "load1_start" -> Json.num(load0),
      "load1_end" -> Json.num(load1),
      "seed" -> cfg.seed.toString,
      "seconds" -> cfg.seconds.toString,
      "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
      "source_digest" -> Json.str(sys.props.getOrElse("perfbench.digest", "unknown")))

    val declared = (if (cfg.trace) Metrics.PerLayer else Metrics.EndToEnd).map(_._1)
    require(metrics.keySet == declared.toSet,
      s"reported metrics differ from the declared set: missing " +
        s"${declared.filterNot(metrics.contains)}, undeclared ${metrics.keySet -- declared}")
    val failShare = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    println(s"== ${cfg.workload} (trace=${if (cfg.trace) 1 else 0}) seed=${cfg.seed} " +
      host.map { case (k, v) => s"$k=$v" }.mkString(" "))
    metrics.foreach { case (k, m) =>
      val n = if (m.samples < 0) "a few (short pass)" else m.samples.toString
      println(f"  $k%-44s ${m.value}%16.4f ${Metrics.unit(k)}%-10s n=$n")
    }
    notes.foreach(n => println(s"  $n"))
    println(f"  ops_failed_share ${failShare}%.4f (${ctx.failed} failed of ${ctx.attempted} attempted)")

    val metricsJson = Json.obj(metrics.toSeq.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(Metrics.unit(k))))
    })
    val result = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> metricsJson))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload),
      "trace" -> cfg.trace.toString,
      "host" -> Json.obj(host),
      "ops_failed_share" -> Json.num(failShare),
      "samples" -> Json.obj(metrics.toSeq.map { case (k, m) => k -> m.samples.toString }),
      "result" -> result))
    writeFile(s"${cfg.workDir}/results/${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}.json",
      detail + "\n")
    println(result)
    System.out.flush()
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }

  private def untraced(ctx: Ctx, w: Workload, out: mutable.Map[String, Metric],
                       notes: mutable.Buffer[String]): Unit = {
    val setups = (0 until SetupRounds).map { k =>
      Harness.log(s"set-up round ${k + 1}")
      Harness.timeMs {
        if (k > 0) ctx.stopSession()
        ctx.startSession()
        w.setupRound(ctx)
      }._2 / 1000
    }
    Harness.log("measured loop")
    val m = w.measure(ctx, ctx.cfg.seconds, mini = false)
    val n = m.opMs.size
    require(n > 0, "no operation succeeded")
    val p90 = Stats.percentile(m.opMs, 90)
    out("setup_s") = Metric(Stats.median(setups), setups.size)
    out("op_p50_ms") = Metric(Stats.percentile(m.opMs, 50).value, n)
    out("op_p90_ms") = Metric(p90.value, n)
    out("rows_per_s") = Metric(m.rowsPerS, n)
    out("disk_bytes_per_user_byte") = Metric(m.diskBytesPerUserByte, 1)
    out("heap_live_mb") = Metric(Harness.liveHeapMb(), 1)
    notes += s"op_p90_ms rests on ${p90.beyond} of $n samples beyond it"
  }

  private def traced(ctx: Ctx, w: Workload, out: mutable.Map[String, Metric],
                     notes: mutable.Buffer[String]): Unit = {
    ctx.startSession()
    w.setupRound(ctx)
    ctx.tracingOn()
    Harness.log("loop, every other operation traced")
    val traced = w.measure(ctx, ctx.cfg.seconds, mini = false)
    Harness.log("layer probes")
    SparkProbe.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans
    val traces = Workload.rootTraces(spans, w.mainOp)
    val nOps = traces.size
    def per(v: Double) = v / math.max(1, nOps)

    // the Spark runtime under the workload's repeated operation
    val tot = ctx.probe.get.totalsFor(traces)
    out("spark.executor_run_ms") = Metric(per(tot.runMs), nOps)
    out("spark.executor_cpu_ms") = Metric(per(tot.cpuNs / 1e6), nOps)
    out("spark.gc_ms") = Metric(per(tot.gcMs), nOps)
    out("spark.scheduler_delay_ms") = Metric(per(tot.schedulerDelayMs), nOps)
    out("spark.shuffle_write_bytes") = Metric(per(tot.shuffleWriteBytes), nOps)
    out("spark.tasks") = Metric(per(tot.tasks), nOps)

    // self time per layer over the repeated operation's traces
    val opSpans = spans.filter(s => traces.contains(s.trace))
    val selfUs = Trace.layerSelfUs(opSpans)
    out("self.operators_ms") = Metric(per(selfUs.getOrElse("operators", 0L) / 1000.0), nOps)
    out("self.spark_ms") = Metric(
      per((selfUs.getOrElse("spark", 0L) + selfUs.getOrElse("spark.stage", 0L)) / 1000.0), nOps)

    val (p0, p1) = (Stats.median(ctx.plainMs.toSeq), Stats.median(ctx.tracedMs.toSeq))
    out("trace.overhead_pct") = Metric((p1 - p0) / p0 * 100, ctx.tracedMs.size)
    notes += f"tracing overhead: op p50 ${p1}%.2f ms traced vs ${p0}%.2f ms untraced " +
      f"(n=${ctx.tracedMs.size}/${ctx.plainMs.size}, alternating in one loop)"
    traced.layer.foreach { case (k, v) => out(k) = Metric(v, nOps) }

    // kernel, expressions, plan node and join operator, each timed alone
    val kernels = ctx.tracer.span("probe.s2", "s2")(Layers.kernel(ctx.seed))
    kernels.foreach { k =>
      out(k.name) = Metric(k.median, k.reps)
      notes += f"${k.name}%-28s median ${k.median}%10.2f ${Metrics.unit(k.name)} (p25 ${k.p25}%.2f, p75 ${k.p75}%.2f, " +
        s"n=${k.reps})" + k.reference.fold("")(r => s"  reference: $r")
    }
    Harness.log("functions probe")
    ctx.tracer.span("probe.functions", "functions")(SparkLayers.functions(ctx, 4000000L))
      .foreach { case (k, v) => out(k) = Metric(v, 3) }
    Harness.log("plans / join probe")
    ctx.tracer.span("probe.pip", "plans")(SparkLayers.pip(ctx, 500000L))
      .foreach { case (k, v) => out(k) = Metric(v, 3) }

    // operator figures of the workloads this run is not measuring
    Workload.Names.filter(n => n != w.name && n != "tile_join").foreach { other =>
      val o = Workload(other)
      Harness.log(s"$other operators")
      try {
        o.setupRound(ctx, warm = false)
        o.measure(ctx, 0, mini = true).layer.foreach { case (k, v) => out(k) = Metric(v, -1) }
      } finally o.cleanup(ctx)
    }

    SparkProbe.drain(ctx.spark.sparkContext)
    writeTrace(ctx, ctx.tracer.spans, w.mainOp)
  }

  /** The span file (one JSON object per line) and the per-layer self-time
    * summary, grouped by the root operation of each trace. */
  private def writeTrace(ctx: Ctx, spans: Seq[Span], mainOp: String): Unit = {
    val base = s"${ctx.cfg.workDir}/results/${ctx.cfg.workload}-seed${ctx.cfg.seed}"
    writeFile(s"$base-spans.jsonl", spans.map(Trace.toJson).mkString("", "\n", "\n"))
    val byTrace = spans.groupBy(_.trace)
    val roots = spans.filter(_.parent == 0).groupBy(_.name).toSeq.sortBy(_._1)
    val summary = roots.map { case (name, rs) =>
      val ss = rs.flatMap(r => byTrace(r.trace))
      val self = Trace.layerSelfUs(ss)
      name -> Json.obj(Seq(
        "ops" -> rs.size.toString,
        "main" -> (name == mainOp).toString,
        "self_ms_per_op" -> Json.obj(self.toSeq.sortBy(_._1).map { case (l, us) =>
          l -> Json.num(us / 1000.0 / rs.size)
        })))
    }
    writeFile(s"$base-selftime.json", Json.obj(summary) + "\n")
  }

  private def writeFile(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
