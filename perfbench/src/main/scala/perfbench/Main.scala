package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one process, closed loop.
  *
  * `--trace 0`: set up once cold (process start -> ready), then again
  * `WarmSetups` times in the warm JVM (median set-up time), the workload's
  * warm-up cycles, then cycles of the workload's user jobs until `--seconds` have
  * passed (at least the workload's minimum); every end-to-end value is the
  * median over those cycles.
  * `--trace 1`: the same set-up and warm-up, one untraced cycle, one traced cycle
  * (spans, engine listeners, byte-counting relays) and the per-layer
  * probes. Values go to `--result` as JSON; `run.py` formats them. */
object Main {
  /** Set-ups after the cold one, each from a fresh session to ready. */
  val WarmSetups = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val code =
      try { run(opt); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark and the loopback servers leave non-daemon threads behind
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def session(work: File): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .master(s"local[${graft.GraftSession.cpus}]")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val ctx = new Ctx(seed, new File(opt("root")), work,
      new Tracer(s"$workload-seed$seed"))
    val wl = Workloads(workload, ctx)
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = ArrayBuffer.empty[Cycle]
    var complete = false

    def writeResult(): Unit = {
      val m = Json.mapper
      val o = m.createObjectNode()
      o.put("workload", workload)
      o.put("complete", complete)
      o.put("attempted", ctx.attempted)
      o.put("failed", ctx.failed)
      o.put("samples", samples.length)
      val v = o.putObject("values")
      values.foreach { case (k, x) => v.put(k, x) }
      val e = o.putArray("errors")
      ctx.errors.foreach(e.add)
      m.writeValue(new File(opt("result")), o)
    }

    // set-up: once cold from process start, then warm from session start,
    // each time to workload ready
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Map[String, Double]]
    try {
      for (k <- 0 to WarmSetups) {
        val t0 = System.nanoTime() -
          (if (k == 0) (System.currentTimeMillis() - jvmStart) * 1000000L else 0L)
        ctx.spark = session(work)
        val sessionS = (System.nanoTime() - t0) / 1e9
        ctx.probe = EngineProbe.install(ctx.spark)
        val phases = wl.setup()
        setups += phases ++ Map("session_s" -> sessionS,
          "total_s" -> (System.nanoTime() - t0) / 1e9)
        System.err.println(s"[perfbench] setup $k: ${setups.last}")
        if (k < WarmSetups) { wl.teardown(); stopSession(ctx.spark) }
      }
    } catch {
      case NonFatal(e) =>
        ctx.attempted += 1; ctx.failed += 1
        ctx.errors += s"setup: ${e.getClass.getSimpleName}: ${e.getMessage}"
        writeResult()
        throw e
    }
    // medians over the warm set-ups; the cold one also pays JVM start,
    // class loading and JIT warm-up and is reported alone (setup.cold_s)
    def setupMedian(k: String) = median(setups.drop(1).map(_(k)).toSeq)

    def attempt(): Option[Cycle] =
      try {
        val c = wl.cycle()
        System.err.println(f"[perfbench] cycle ${c.total}%.3f s: " +
          c.jobs.map { case (j, s) => f"$j $s%.3f" }.mkString(", "))
        Some(c)
      } catch { case NonFatal(e) => e.printStackTrace(); None }

    try {
      // warm-up: class loading, JIT, codegen caches, connection pools
      (1 to wl.warmupCycles).foreach(_ => attempt())
      if (!traced) {
        val deadline = System.nanoTime() + seconds * 1000000000L
        var cycles = 0
        while (cycles < wl.minTimedCycles || System.nanoTime() < deadline) {
          attempt().foreach(samples += _)
          cycles += 1
        }
        if (samples.nonEmpty) {
          values("migrate_rows_per_s") = median(samples.map(c =>
            c.migrateRows / c.migrateSeconds).toSeq)
          values("cycle_s") = median(samples.map(_.total).toSeq)
          values("setup_s") = setupMedian("total_s")
          values("peak_rss_mb") = Rss.peakMb()
          complete = true
        }
      } else {
        val base = attempt()
        val p = ctx.probe
        p.settle()
        val e0 = p.snapshot()
        ctx.tracer.active = true
        val tracedCycle = try attempt() finally ctx.tracer.active = false
        p.settle()
        val e1 = p.snapshot()
        val probeValues = wl.probes()
        (base, tracedCycle) match {
          case (Some(b), Some(tc)) =>
            samples += b
            val d = e1.map { case (k, x) => k -> (x - e0(k)) }
            values ++= Seq(
              "engine.jobs" -> d("jobs"), "engine.stages" -> d("stages"),
              "engine.tasks" -> d("tasks"), "engine.plan_s" -> d("plan_s"),
              "engine.executor_run_s" -> d("run_s"), "engine.executor_cpu_s" -> d("cpu_s"),
              "engine.gc_s" -> d("gc_s"),
              // busy share of the cores over the traced jobs' own wall time
              "engine.core_util" -> d("run_s") / (tc.total * ctx.cpus),
              "engine.shuffle_write_mb" -> d("shuffle_write_mb"),
              "engine.spill_mb" -> d("spill_mb"), "engine.input_mb" -> d("input_mb"))
            import scala.jdk.CollectionConverters._
            values ++= ctx.tracer.counts.asScala
            values ++= probeValues
            b.jobs.foreach { case (j, s) => values(s"job.${j}_s") = s }
            values("trace.overhead_s") = tc.total - b.total
            values ++= Seq("session_s", "generate_s", "backend_boot_s").map(k =>
              s"setup.$k" -> setupMedian(k))
            values("setup.cold_s") = setups.head("total_s")
            complete = true
          case _ =>
        }
        val traceFile = new File(work, s"trace-$workload-seed$seed.json")
        java.nio.file.Files.writeString(traceFile.toPath, ctx.tracer.toJson)
      }
    } finally {
      try wl.teardown() finally stopSession(ctx.spark)
    }
    writeResult()
  }
}
