package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.FileStreams

/** Run settings, from the command line that `perfbench/run.py` builds. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean, scale: String,
    root: String, work: String, commit: String, launchMs: Long, plantWrongCount: Boolean, allGates: Boolean,
    cpus: Int) {
  val smoke: Boolean = scale == "smoke"
  val groups = 1024
  /** 2M keys: every family's global blob (2.4-5.8 MB) exceeds a 2 MiB L2. */
  val probeKeys: Int = if (smoke) 100000 else 1 << 21
  val factRows: Long = if (smoke) 400000L else 4L << 20
  val buildKeys: Int = if (smoke) 100 * groups else 256 * groups
  val nonMemberSample: Long = if (smoke) 100000L else 1L << 20
  val dataDir = s"$work/run/data"
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "plant-wrong-count") { kv(k) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"missing value for ${args(i)}"); kv(k) = args(i + 1); i += 2 }
    }
    Config(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.getOrElse("scale", "full"), kv("root"), kv("work"), kv.getOrElse("commit", "none"),
      kv.getOrElse("launch-ms", System.currentTimeMillis().toString).toLong,
      kv.contains("plant-wrong-count"), kv.get("gates").contains("all"), Runtime.getRuntime.availableProcessors())
  }
}

/** Metric names and units: the contract `BENCHMARK.json` lists. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s",
    "op_p90_s" -> "s", "cpu_s" -> "s", "live_heap_peak_mb" -> "MB")

  val layers = Seq("functions", "sources", "SparkEntry", "plans", "spark", "streaming", "jvm", "core")

  val perLayer: Seq[(String, String)] = Seq("error_rate" -> "ratio", "ops" -> "count",
    "probe_rows_per_s" -> "rows/s", "build_keys_per_s" -> "keys/s", "fp_rate" -> "ratio",
    "bytes_per_key" -> "B/key", "core.hash.ns_per_key" -> "ns/key") ++
    Families.names.flatMap(f => Seq(s"core.$f.build_ns_per_key" -> "ns/key",
      s"core.$f.probe_ns_per_key" -> "ns/key", s"core.$f.bits_per_key" -> "bits/key", s"core.$f.fp_rate" -> "ratio")) ++
    Families.names.map(f => s"functions.probe.$f.s" -> "s") ++
    Seq("functions.probe_catalog.s" -> "s", "functions.probe.ns_per_row" -> "ns/row") ++
    Families.names.map(f => s"functions.build.$f.s" -> "s") ++
    Families.names.map(f => s"functions.build_global.$f.s" -> "s") ++
    Seq("functions.build.shuffle_bytes_per_key" -> "B/key", "sources.write.s" -> "s",
      "sources.write.bytes_per_key" -> "B/key", "sources.read.s" -> "s",
      "plans.planning_s" -> "s", "plans.planning_share" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.scheduler_delay_s" -> "s", "spark.driver_s" -> "s", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.peak_exec_mem_mb" -> "MB", "spark.codegen_compiles" -> "count") ++
    GateFamilies.names.flatMap(g => Seq(s"operators.$g.s" -> "s", s"operators.$g.jobs" -> "count")) ++
    Seq("streaming.operator_s" -> "s", "streaming.harness_s" -> "s", "streaming.batches" -> "count",
      "streaming.state_rows" -> "count", "streaming.commit_ms" -> "ms",
      "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB") ++
    layers.map(l => s"self.$l.s" -> "s") ++ Seq("trace.overhead_share" -> "ratio")

  /** Linear interpolation between closest ranks; 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metrics(names: Seq[(String, String)], values: String => Double): String =
    obj(names.map { case (n, u) => n -> obj(Seq("value" -> num(values(n)), "unit" -> str(u))) })
}

final case class PassRec(index: Int, traced: Boolean, spanId: Int, start: Long, end: Long,
    cpuNs: Long, gcMs: Long, jitMs: Long, compiles: Long) {
  def wallS: Double = (end - start) / 1e9
}

final case class OpRec(pass: Int, traced: Boolean, op: Op, spanId: Int, start: Long, end: Long,
    failure: Option[String], streamOperatorMs: Long) {
  def s: Double = (end - start) / 1e9
}

/** Runs one workload: set-up, the warm-up passes, the measured
  * passes, the output checks and, when traced, the core kernel timings;
  * then prints the result.
  */
final class Runner(spark: SparkSession, cfg: Config, w: Workload) {
  private val sc = spark.sparkContext
  private val recorder = new EngineRecorder(spark)
  val passes = ArrayBuffer.empty[PassRec]
  val opRecs = ArrayBuffer.empty[OpRec]
  val traceSpans = ArrayBuffer.empty[Span]
  /** Per traced pass: layer metrics summed over the pass. */
  val tracedPassMetrics = ArrayBuffer.empty[mutable.Map[String, Double]]
  val opDurations = mutable.Map.empty[String, ArrayBuffer[Double]]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def timeS(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }

  /** Seconds of the set-up and of the warm-up passes. */
  def setUp(): (Double, Double) =
    (timeS(w.prepare()), timeS((1 to w.warmupPasses).foreach { _ => w.beforePass(); w.ops.foreach(_.run()) }))

  def measure(): Unit = {
    val t0 = System.nanoTime()
    val minPasses = if (cfg.trace) 4 else 3
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      // traced passes in an untraced-traced-traced-untraced cycle, so a
      // warm-up trend over the passes cancels out of trace.overhead_share
      runPass(p, traced = cfg.trace && (p % 4 == 1 || p % 4 == 2))
      p += 1
    }
  }

  private def runPass(p: Int, traced: Boolean): Unit = {
    w.beforePass()
    if (traced) { recorder.clear(); recorder.attach() }
    Tracer.on = traced
    val passId = Tracer.ids.incrementAndGet()
    val (cpu0, gc0, jit0, cg0) = (Jvm.cpuNs, Jvm.gcMs, Jvm.jitMs, Jvm.codegenCompiles)
    val start = System.nanoTime()
    val recs = w.ops.map { op =>
      val id = Tracer.ids.incrementAndGet()
      Tracer.parent = id
      val stream0 = FileStreams.operatorMsSnapshot
      sc.setJobGroup(s"perfbench-op-$id", op.name)
      val s = System.nanoTime()
      val out = try Right(op.run()) catch {
        case e: Throwable => Left(s"${op.name} failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val e = System.nanoTime()
      sc.clearJobGroup()
      val failure = out.fold(Some(_), op.verify)
      failure.foreach(f => System.err.println(s"perfbench: $f"))
      OpRec(p, traced, op, id, s, e, failure, FileStreams.operatorMsSnapshot - stream0)
    }
    val end = System.nanoTime()
    val (cpu1, gc1, jit1, cg1) = (Jvm.cpuNs, Jvm.gcMs, Jvm.jitMs, Jvm.codegenCompiles)
    Tracer.on = false
    Tracer.parent = -1
    if (traced) recorder.detach()
    val pass = PassRec(p, traced, passId, start, end, cpu1 - cpu0, gc1 - gc0, jit1 - jit0, cg1 - cg0)
    passes += pass
    opRecs ++= recs
    if (traced) analyze(pass, recs)
  }

  /** Attributes the engine events of a traced pass to its operations (by
    * start time, since operations run one at a time) and sums layer metrics.
    */
  private def analyze(pass: PassRec, recs: Seq[OpRec]): Unit = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobs = recorder.jobs
    val phases = recorder.phases.asScala.toSeq
    val batches = recorder.batches.asScala.toSeq
    val gcs = Jvm.gcsBetween(pass.start, pass.end)
    val subSpans = Tracer.spans.synchronized(Tracer.spans.toList)
    val lastStateRows = mutable.Map.empty[String, Long]
    traceSpans += Span(pass.spanId, -1, "bench", s"pass ${pass.index}", pass.start, pass.end)
    recs.foreach { r =>
      def in(t: Long) = t >= r.start && t < r.end
      def clip(s: Span) = s.copy(start = math.max(s.start, r.start), end = math.max(math.max(s.start, r.start), math.min(s.end, r.end)))
      val js = jobs.filter(j => in(j.start))
      val st = js.flatMap(_.stages).distinct.flatMap(id => Option(recorder.stages.get(id))).filter(_.completed)
      val opSpan = Span(r.spanId, pass.spanId, r.op.layer, r.op.name, r.start, r.end)
      val jobSpans = js.map(j => clip(Span(Tracer.ids.incrementAndGet(), -1, "spark", s"job ${j.id}", j.start, j.end)))
      val ph = phases.filter(x => in(x.start))
      val bs = batches.filter(b => in(b.start))
      val evs = jobSpans ++
        ph.map(x => clip(Span(Tracer.ids.incrementAndGet(), -1, "plans", x.name, x.start, x.end))) ++
        bs.map(b => clip(Span(Tracer.ids.incrementAndGet(), -1, "streaming", s"batch ${b.runId}", b.start, b.end))) ++
        gcs.filter(x => in(x.start)).map(x => clip(Span(Tracer.ids.incrementAndGet(), -1, "jvm", "gc", x.start, x.end)))
      val linked = SelfTime.withParents(opSpan +: (subSpans.filter(_.parent == r.spanId) ++ evs))
      traceSpans ++= linked
      SelfTime.byLayer(linked).foreach { case (layer, ns) => m(s"self.$layer.s") += ns / 1e9 }

      val runMs = st.map(_.runMs).sum
      val shuffleWrite = st.map(_.shuffleWrite).sum.toDouble
      m("spark.jobs") += js.size
      m("spark.stages") += st.size
      m("spark.tasks") += st.map(_.tasks).sum
      m("spark.scheduler_delay_s") += st.map(_.schedDelayMs).sum / 1e3
      m("spark.driver_s") += (r.end - r.start - SelfTime.covered(opSpan, jobSpans)) / 1e9
      m("spark.executor_run_s") += runMs / 1e3
      m("spark.executor_cpu_s") += st.map(_.cpuNs).sum / 1e9
      m("spark.shuffle_write_bytes") += shuffleWrite
      m("spark.shuffle_read_bytes") += st.map(_.shuffleRead).sum
      m("spark.spill_bytes") += st.map(_.spill).sum
      m("spark.peak_exec_mem_mb") = math.max(m("spark.peak_exec_mem_mb"), (0L +: st.map(_.peakMem)).max / 1048576.0)
      val planning = ph.map(x => x.end - x.start).sum / 1e9
      m("plans.planning_s") += planning
      m("op_wall_s") += r.s
      if (r.op.kind == "gate") {
        m(s"operators.${r.op.family}.s") += r.s
        m(s"operators.${r.op.family}.jobs") += js.size
      }
      if (r.op.family == "streaming") {
        m("streaming.operator_s") += r.streamOperatorMs / 1e3
        m("streaming.harness_s") += r.s - r.streamOperatorMs / 1e3
      }
      m("streaming.batches") += bs.size
      m("streaming.commit_ms") += bs.map(_.commitMs).sum
      bs.foreach(b => lastStateRows(b.runId) = b.stateRows)

      opDurations.getOrElseUpdate(r.op.name, ArrayBuffer.empty) += r.s
      if (r.op.kind == "probe" && r.op.family != "catalog") {
        counters("probe_run_ms") += runMs; counters("probe_rows") += r.op.units
      }
      if (r.op.kind.startsWith("build")) {
        counters("build_shuffle_bytes") += shuffleWrite; counters("build_keys") += r.op.units
      }
      subSpans.filter(s => s.parent == r.spanId && s.layer == "sources")
        .foreach(s => opDurations.getOrElseUpdate("sources.read", ArrayBuffer.empty) += s.dur / 1e9)
    }
    m("streaming.state_rows") = lastStateRows.values.sum.toDouble
    m("spark.codegen_compiles") = pass.compiles.toDouble
    m("jvm.gc_s") = pass.gcMs / 1e3
    m("jvm.jit_ms") = pass.jitMs.toDouble
    m("jvm.heap_after_gc_mb") = Jvm.peakHeapAfterGc(pass.start, pass.end) / 1048576.0
    m("plans.planning_share") = m("plans.planning_s") / math.max(1e-9, m("op_wall_s"))
    tracedPassMetrics += m
  }

  def runChecks(): Seq[Check] =
    try w.checks() catch {
      case e: Throwable => Seq(Check("checks", Some(s"checks failed: ${e.getClass.getSimpleName}: ${e.getMessage}")))
    }

  /** Per-layer metrics of the traced passes plus the core kernel timings. */
  def layerMetrics(core: Map[String, Double], coreSpanS: Double): Map[String, Double] = {
    def passMedian(name: String) = Metrics.median(tracedPassMetrics.map(_.getOrElse(name, 0.0)).toSeq)
    def opMedian(name: String) = Metrics.median(opDurations.getOrElse(name, ArrayBuffer.empty).toSeq)
    val buildOps = opDurations.collect { case (k, v) if k.startsWith("build") => v }.flatten.toSeq
    val traced = passes.filter(_.traced).map(_.wallS).toSeq
    val untraced = passes.filterNot(_.traced).map(_.wallS).toSeq
    Metrics.perLayer.map(_._1).map { name =>
      name -> (name match {
        case n if core.contains(n) => core(n)
        case "self.core.s" => coreSpanS
        case n if n.startsWith("functions.probe.") && n.endsWith(".s") =>
          opMedian("probe." + n.stripPrefix("functions.probe.").stripSuffix(".s"))
        case "functions.probe_catalog.s" => opMedian("probe_catalog.xor8")
        case "functions.probe.ns_per_row" => counters("probe_run_ms") * 1e6 / math.max(1.0, counters("probe_rows"))
        case n if n.startsWith("functions.build") && n.endsWith(".s") =>
          opMedian(n.stripPrefix("functions.").stripSuffix(".s"))
        case "functions.build.shuffle_bytes_per_key" =>
          counters("build_shuffle_bytes") / math.max(1.0, counters("build_keys"))
        case "sources.write.s" => Metrics.median(buildOps)
        case "sources.write.bytes_per_key" => if (buildOps.isEmpty) 0.0 else w.quality.getOrElse("bytes_per_key", 0.0)
        case "sources.read.s" => opMedian("sources.read")
        case "trace.overhead_share" =>
          if (untraced.isEmpty || traced.isEmpty) 0.0 else Metrics.median(traced) / Metrics.median(untraced) - 1
        case n => passMedian(n)
      })
    }.toMap
  }
}

object Main {
  private def loadAvg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The machine's (steal, total) CPU time in clock ticks, from /proc/stat;
    * steal is time the hypervisor ran other guests on this guest's CPUs. */
  private def cpuTicks: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val t = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val cfg = Config.parse(args)
    if (!Seq("filter_probe", "filter_build", "gate_suite").contains(cfg.workload)) {
      System.err.println(s"perfbench: unknown workload ${cfg.workload}")
      sys.exit(2)
    }
    val loadBefore = loadAvg
    Jvm.install()
    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.local.dir", s"${cfg.work}/run/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/run/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.registerAll(spark)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9

    val w: Workload = cfg.workload match {
      case "filter_probe" => new FilterProbe(spark, cfg)
      case "filter_build" => new FilterBuild(spark, cfg)
      case _ => new GateSuite(spark, cfg)
    }
    val r = new Runner(spark, cfg, w)
    val (prepS, warmS) = r.setUp()
    val setupS = (mainMs - cfg.launchMs) / 1e3 + sessionS + prepS + warmS
    val ticks0 = cpuTicks
    r.measure()
    val ticks1 = cpuTicks
    val checks = r.runChecks()
    checks.flatMap(_.failure).foreach(f => System.err.println(s"perfbench: check failed: $f"))

    var core = Map.empty[String, Double]
    var coreSpanS = 0.0
    if (cfg.trace) {
      val keys = w.coreKeys()
      Tracer.on = true
      val coreId = Tracer.ids.incrementAndGet()
      Tracer.parent = coreId
      val t0 = System.nanoTime()
      core = CoreKernels.run(keys)
      r.traceSpans += Span(coreId, -1, "bench", "core kernels", t0, System.nanoTime())
      Tracer.on = false
      coreSpanS = Tracer.spans.filter(_.parent == coreId).map(_.dur).sum / 1e9
    }

    val untracedOps = r.opRecs.filterNot(_.traced)
    val untracedPasses = r.passes.filterNot(_.traced)
    val failedOps = r.opRecs.count(_.failure.nonEmpty)
    val failedChecks = checks.count(_.failure.nonEmpty)
    val attempted = r.opRecs.size + checks.size
    val failed = failedOps + failedChecks
    def rate(kind: String => Boolean): Double = {
      val os = untracedOps.filter(o => kind(o.op.kind))
      if (os.isEmpty) 0.0 else os.map(_.op.units).sum / os.map(_.s).sum
    }
    val opTimes = untracedOps.map(_.s).toSeq
    // Each operation's median over the passes, so one slow pass of one
    // operation moves neither quantile, and a pooled quantile cannot jump
    // from one operation's cluster of times to another's.
    val opMedians = untracedOps.groupBy(_.op.name).values.map(rs => Metrics.median(rs.map(_.s).toSeq)).toSeq
    // The highest reading of the whole phase also counts the old generation's
    // garbage promoted by earlier passes, and spread by a third between
    // seeds; the median over passes of each pass's highest reading does not.
    val liveHeapPeak = Metrics.median(untracedPasses.map(p => Jvm.peakHeapAfterGc(p.start, p.end) / 1048576.0)
      .filter(_ > 0).toSeq)
    val quality = w.quality
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "wall_s" -> untracedPasses.map(_.wallS).sum / math.max(1, untracedPasses.size),
      "op_p50_s" -> Metrics.quantile(opMedians, 0.5),
      "op_p90_s" -> Metrics.quantile(opMedians, 0.9),
      "cpu_s" -> untracedPasses.map(_.cpuNs / 1e9).sum / math.max(1, untracedPasses.size),
      "live_heap_peak_mb" -> liveHeapPeak,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "ops" -> opTimes.size.toDouble,
      "probe_rows_per_s" -> rate(_ == "probe"),
      "build_keys_per_s" -> rate(_.startsWith("build")),
      "fp_rate" -> quality.getOrElse("fp_rate", 0.0),
      "bytes_per_key" -> quality.getOrElse("bytes_per_key", 0.0))

    val context = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString, "trace" -> (if (cfg.trace) "1" else "0"),
      "scale" -> Json.str(cfg.scale), "seconds" -> Json.num(cfg.seconds), "nproc" -> cfg.cpus.toString,
      "loadavg_1m_before" -> Json.num(loadBefore), "loadavg_1m_after" -> Json.num(loadAvg),
      "measured_steal_share" -> Json.num((ticks1._1 - ticks0._1).toDouble / (ticks1._2 - ticks0._2)),
      "git_commit" -> Json.str(cfg.commit), "java" -> Json.str(System.getProperty("java.vm.version")),
      "spark" -> Json.str(spark.version), "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "inputs" -> Json.str(w.inputs), "passes" -> r.passes.size.toString,
      "traced_passes" -> r.passes.count(_.traced).toString,
      "prepare_s" -> Json.num(prepS), "warmup_s" -> Json.num(warmS),
      "pass_wall_s" -> r.passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "pass_jit_ms" -> r.passes.map(p => p.jitMs.toString).mkString("[", ",", "]"),
      "pass_codegen_compiles" -> r.passes.map(p => p.compiles.toString).mkString("[", ",", "]"),
      "pass_heap_after_gc_mb" -> r.passes.map(p => Json.num(Jvm.peakHeapAfterGc(p.start, p.end) / 1048576.0))
        .mkString("[", ",", "]")))
    println(s"perfbench context $context")
    val summaryNames = Seq("setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s", "ops" -> "count",
      "op_p90_s" -> "s", "probe_rows_per_s" -> "rows/s", "build_keys_per_s" -> "keys/s", "cpu_s" -> "s",
      "error_rate" -> "ratio", "fp_rate" -> "ratio", "bytes_per_key" -> "B/key", "live_heap_peak_mb" -> "MB")
    println(s"perfbench summary ${Json.metrics(summaryNames, e2e)}")
    val perOp = untracedOps.groupBy(_.op.name).toSeq.sortBy(_._1)
      .map { case (n, rs) => n -> Metrics.median(rs.map(_.s).toSeq) }
    System.err.println(s"perfbench op medians (s) ${Json.obj(perOp.map { case (n, t) => n -> Json.num(t) })}")
    if (cfg.workload == "gate_suite") {
      // each family's share of the summed per-gate medians: the pass's mix
      val byFamily = perOp.groupMapReduce { case (n, _) => GateFamilies.of(n) }(_._2)(_ + _).toSeq.sortBy(-_._2)
      System.err.println(s"perfbench family shares ${Json.obj(byFamily.map { case (f, t) =>
        f -> Json.num(t / byFamily.map(_._2).sum) })}")
    }

    val metrics =
      if (!cfg.trace) Json.metrics(Metrics.endToEnd, e2e)
      else {
        val layer = r.layerMetrics(core, coreSpanS) ++ e2e.filter { case (k, _) =>
          Metrics.perLayer.exists(_._1 == k) }
        Json.metrics(Metrics.perLayer, layer)
      }
    if (cfg.trace) writeSpans(cfg, r.traceSpans.toSeq ++ Tracer.spans)
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
  }

  private def writeSpans(cfg: Config, spans: Seq[Span]): Unit = {
    val runId = s"${cfg.workload}-seed${cfg.seed}-${ProcessHandle.current().pid()}"
    val dir = new java.io.File(s"${cfg.work}/spans")
    dir.mkdirs()
    val out = new java.io.PrintWriter(new java.io.File(dir, s"$runId.jsonl"))
    try spans.distinctBy(_.id).sortBy(_.start).foreach { s =>
      out.println(Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString)))
    } finally out.close()
  }
}
