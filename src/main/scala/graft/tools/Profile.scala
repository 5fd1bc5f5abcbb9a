package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.util.control.NonFatal

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Per-gate profiler: wall time plus the Spark job, stage, task and
  * executor view of each named SparkEntry gate.
  *
  * `runMain graft.tools.Profile <sfDir> <passes> <gate...|ALL> [--plans <tag> <suffix>]`
  * (or `tools/run_main.sh graft.tools.Profile ...`; SPARK_GRAFT_CPUS sets
  * the core count, default 4).
  *
  * Bench's discipline: every run writes through the noop sink (count()
  * would let Catalyst prune the expressions under test), shared relations
  * are cleared before each pass (so a shared build lands in its first
  * consumer, once per pass), the cache is cleared after each gate, and one
  * warm pass runs first with its times discarded (JIT, codegen, parquet
  * footers). Then `passes` measured passes; per gate it prints the
  * outcome, the min and all wall times, and the listener totals of its
  * fastest pass: jobs, stages, tasks, executor CPU, memory/disk spill,
  * shuffle write, peak execution memory and GC. Run under a small `-Xmx`
  * it shows whether the widest shuffles complete by spilling instead of
  * running out of memory (SCALE.md, constrained-memory runs).
  *
  * `--plans <tag> <suffix>` also writes each gate's formatted plan, taken
  * in the warm pass before it executes, to `plans/<tag>/<gate>_<suffix>.txt`
  * — before/after plan diffs reviewable without running Spark.
  */
object Profile {
  private final case class Totals(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      memSpill: Long, diskSpill: Long, shuffleWrite: Long, gcMs: Long, peakExecMem: Long)

  private final class GateListener extends SparkListener {
    private val jobs, stages, tasks, cpuNs, memSpill, diskSpill, shuffleWrite, gcMs =
      new LongAdder
    private val peakExecMem = new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        memSpill.add(m.memoryBytesSpilled)
        diskSpill.add(m.diskBytesSpilled)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        gcMs.add(m.jvmGCTime)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
    /** Totals since the last call; the caller drains the bus first. */
    def takeTotals(): Totals =
      Totals(jobs.sumThenReset(), stages.sumThenReset(), tasks.sumThenReset(),
        cpuNs.sumThenReset(), memSpill.sumThenReset(), diskSpill.sumThenReset(),
        shuffleWrite.sumThenReset(), gcMs.sumThenReset(), peakExecMem.getAndSet(0L))
  }

  private final case class Run(seconds: Double, totals: Totals)

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> <passes> <gate...|ALL> [--plans <tag> <suffix>]"
    val plansAt = args.indexOf("--plans")
    val (positional, plans) =
      if (plansAt < 0) (args.toSeq, None)
      else {
        require(args.length == plansAt + 3, usage)
        (args.take(plansAt).toSeq, Some((args(plansAt + 1), args(plansAt + 2))))
      }
    require(positional.length >= 3, usage)
    val sfDir = positional(0)
    val passes = positional(1).toInt
    require(passes >= 1, s"passes must be >= 1: $usage")
    val gates =
      if (positional.drop(2) == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else positional.drop(2)
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    val listener = new GateListener
    spark.sparkContext.addSparkListener(listener)
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"[profile] heap=${heapMb}MB cores=$cpus sfDir=$sfDir passes=$passes")
    plans.foreach { case (tag, _) => Files.createDirectories(Paths.get(s"plans/$tag")) }

    /** One gate run: Right(wall seconds and listener totals) or Left(failure). */
    def runGate(name: String, writePlan: Boolean): Either[String, Run] = {
      BusDrain.drain(spark.sparkContext)
      listener.takeTotals()
      val t0 = System.nanoTime()
      val outcome =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (writePlan) plans.foreach { case (tag, suffix) =>
            val out = Paths.get(s"plans/$tag/${name}_$suffix.txt")
            Files.writeString(out, df.queryExecution.explainString(FormattedMode))
            println(s"[profile] wrote $out")
          }
          df.write.format("noop").mode("overwrite").save()
          None
        } catch {
          // NonFatal only: after an OutOfMemoryError every later timing
          // would run in a corrupted JVM — let those abort the run
          case NonFatal(e) =>
            Some(s"FAIL ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      val seconds = (System.nanoTime() - t0) / 1e9
      // gates are self-contained: one gate's persisted frames must not
      // pressure the next
      spark.catalog.clearCache()
      BusDrain.drain(spark.sparkContext)
      val totals = listener.takeTotals()
      outcome.toLeft(Run(seconds, totals))
    }

    def pass(warm: Boolean): Seq[(String, Either[String, Run])] = {
      SparkEntry.clearSharedRelations()
      gates.map(g => g -> runGate(g, writePlan = warm))
    }

    pass(warm = true).foreach { case (g, r) =>
      r.left.foreach(f => System.err.println(s"[profile] warm $g: $f"))
    }
    val measured = (1 to passes).map(_ => pass(warm = false).toMap)

    gates.foreach { g =>
      val runs = measured.map(_(g))
      val failure = runs.collectFirst { case Left(f) => f }
      val ok = runs.collect { case Right(r) => r }
      if (ok.isEmpty) println(f"[profile] $g%-24s ${failure.get}")
      else {
        val best = ok.minBy(_.seconds)
        val t = best.totals
        val all = ok.map(r => f"${r.seconds}%.3f").mkString(",")
        println(f"[profile] $g%-24s ${failure.getOrElse("ok")} min=${best.seconds}%.3fs all=$all " +
          f"jobs=${t.jobs} stages=${t.stages} tasks=${t.tasks} cpu=${t.cpuNs / 1e9}%.2fs " +
          f"spill_mem=${t.memSpill / 1e6}%.1fMB spill_disk=${t.diskSpill / 1e6}%.1fMB " +
          f"shuffle_write=${t.shuffleWrite / 1e6}%.1fMB " +
          f"peak_exec_mem=${t.peakExecMem / 1e6}%.1fMB gc=${t.gcMs / 1e3}%.2fs")
      }
    }
    spark.stop()
  }
}
