package perfbench

import java.io.{InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.connectors.vectorstore.{InMemoryStore, VSRecord}

/** Engine counters seen from outside: a SparkListener for jobs, stages,
  * tasks and task metrics, plus a QueryExecutionListener for the planning
  * phases of every action. Counters only grow; callers diff snapshots. */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val planNs = new AtomicLong
  /** (execution id, start ms, end ms) of every SQL execution, by end. */
  val executions = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Wall-clock start (ms) of every job. */
  val jobStarts = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet(); jobStarts.add(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case d: SparkListenerSQLExecutionEnd =>
      executions.add((d.executionId,
        Option(execStart.remove(d.executionId)).getOrElse(d.time), d.time))
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    planNs.addAndGet(p.values.map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  /** Wait until every started job's end event has been delivered, so a
    * snapshot taken next includes all task metrics of finished work. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobsStarted.get().toDouble,
    "stages" -> stages.get().toDouble,
    "tasks" -> tasks.get().toDouble,
    "run_s" -> runNs.get() / 1e9,
    "cpu_s" -> cpuNs.get() / 1e9,
    "gc_s" -> gcMs.get() / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes.get() / 1e6,
    "spill_mb" -> spillBytes.get() / 1e6,
    "input_mb" -> inputBytes.get() / 1e6,
    "plan_s" -> planNs.get() / 1e9)
}

object EngineProbe {
  def install(spark: SparkSession): EngineProbe = {
    val p = new EngineProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** Process memory from /proc: the JVM's peak resident set (VmHWM). */
object Rss {
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** The emulated vector store, with its busy time counted. A subclass, not
  * a wrapper: the loopback wire servers match on [[InMemoryStore]] to
  * serve cursor pages from version-keyed caches, so a wrapper would put
  * them on a different (slower) code path. */
final class CountingStore extends InMemoryStore {
  val upsertNs = new AtomicLong
  val scrollNs = new AtomicLong
  private def timed[A](acc: AtomicLong)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally acc.addAndGet(System.nanoTime() - t0)
  }
  override def upsert(name: String, records: Seq[VSRecord]): Int =
    timed(upsertNs)(super.upsert(name, records))
  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    timed(scrollNs)(super.scroll(name, fromIdx, pageSize))
}

/** One traced call: a span around a call into a layer's public function,
  * made from the benchmark's own code. */
final case class Span(name: String, startNs: Long, endNs: Long, id: Int,
                      parent: Int, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Inactive (the timed runs) it only runs the
  * body; active (the traced run) it records name, start, end and parent
  * of every span, written out as JSON when the run ends. */
final class Tracer(val run: String) {
  @volatile var active = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(name, t0, System.nanoTime(), id, parents.headOption.getOrElse(0), run))
        stack.set(parents)
      }
    }

  def count(name: String, v: Double): Unit = if (active) counts.merge(name, v, _ + _)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Wall time of each span minus the wall time of its direct children. */
  def selfTimes: Map[String, Double] = {
    val s = all
    val childTime = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(x => x.seconds - childTime.getOrElse(x.id, 0.0)).sum
    }
  }

  def toJson: String = {
    val m = Json.mapper
    val root = m.createObjectNode()
    root.put("run", run)
    val arr = root.putArray("spans")
    all.foreach { s =>
      val o = arr.addObject()
      o.put("name", s.name); o.put("id", s.id); o.put("parent", s.parent)
      o.put("start_ns", s.startNs); o.put("end_ns", s.endNs); o.put("run", s.run)
    }
    val self = root.putObject("self_s")
    selfTimes.toSeq.sortBy(_._1).foreach { case (k, v) => self.put(k, v) }
    val cs = root.putObject("counts")
    counts.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => cs.put(k, v) }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}

/** Byte-counting loopback TCP relay: accepts on an ephemeral port and
  * forwards every connection to `targetPort`, counting bytes each way.
  * Used in the traced run only, so the extra hop never reaches an
  * end-to-end number. */
final class ByteRelay(targetPort: Int) {
  val bytesOut = new AtomicLong // client -> server
  val bytesIn = new AtomicLong // server -> client
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  val port: Int = server.getLocalPort
  private val sockets = new ConcurrentLinkedQueue[Socket]()
  @volatile private var open = true

  private def pump(in: InputStream, out: OutputStream, acc: AtomicLong, done: () => Unit): Thread = {
    val t = new Thread(() => {
      val buf = new Array[Byte](1 << 16)
      try {
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n); out.flush(); acc.addAndGet(n)
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException => () }
      finally done()
    })
    t.setDaemon(true); t.start(); t
  }

  private val acceptor = new Thread(() => {
    while (open) {
      try {
        val c = server.accept()
        c.setTcpNoDelay(true)
        val s = new Socket("127.0.0.1", targetPort)
        s.setTcpNoDelay(true)
        sockets.add(c); sockets.add(s)
        pump(c.getInputStream, s.getOutputStream, bytesOut, () => halfClose(s))
        pump(s.getInputStream, c.getOutputStream, bytesIn, () => halfClose(c))
      } catch { case _: java.io.IOException => () }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  /** Pass an end of stream on to the other side. */
  private def halfClose(s: Socket): Unit =
    try s.shutdownOutput() catch { case _: java.io.IOException => () }

  def stop(): Unit = {
    open = false
    server.close()
    sockets.asScala.foreach(s => try s.close() catch { case _: Exception => () })
    acceptor.join(2000)
  }
}

/** PostgreSQL server-side counters: backend CPU from /proc (the
  * postmaster's own and reaped-children times plus its live children) and
  * `pg_stat_database` through the repository's wire client. */
final class PgProbe(port: Int, dataDir: java.io.File) {
  private val ticks = 100.0 // USER_HZ on Linux

  private def statTimes(pid: Int): Option[(Int, Array[Long])] = try {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(s"/proc/$pid/stat")))
    val f = raw.substring(raw.lastIndexOf(')') + 2).split(' ')
    // fields after the command: state ppid ... utime(14) stime cutime cstime
    Some((f(1).toInt, Array(f(11).toLong, f(12).toLong, f(13).toLong, f(14).toLong)))
  } catch { case _: Exception => None }

  private def postmaster: Int = {
    val pidFile = new java.io.File(dataDir, "postmaster.pid")
    val src = scala.io.Source.fromFile(pidFile)
    try src.getLines().next().trim.toInt finally src.close()
  }

  /** Cumulative CPU seconds of the server and all its backends. */
  def cpuSeconds(): Double = {
    val pm = postmaster
    val own = statTimes(pm).map(_._2.sum).getOrElse(0L)
    val procs = Option(new java.io.File("/proc").list()).getOrElse(Array.empty[String])
    val live = procs.iterator.filter(_.forall(_.isDigit)).flatMap(p => statTimes(p.toInt))
      .filter(_._1 == pm).map(t => t._2(0) + t._2(1)).sum
    (own + live) / ticks
  }

  /** (tup_inserted, xact_commit) of the `postgres` database. */
  def dbStats(): (Double, Double) = {
    val c = new graft.connectors.pgwire.PgWireClient("127.0.0.1", port)
    try {
      val r = c.query("SELECT tup_inserted, xact_commit FROM pg_stat_database " +
        "WHERE datname = 'postgres'")
      (r.rows.head(0).toDouble, r.rows.head(1).toDouble)
    } finally c.close()
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
