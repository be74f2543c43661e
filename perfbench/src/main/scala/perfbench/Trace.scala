package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-aligned nanosecond clock: listener events carry epoch
  * milliseconds, so the benchmark's own spans use the same time base. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = base + System.nanoTime()
}

/** One traced interval. `parent` 0 is a root; `req` groups the spans of
  * one benchmark operation. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** One timed benchmark operation (traced or not). */
final case class OpSample(name: String, req: Long, startNs: Long,
    endNs: Long, traced: Boolean, warm: Boolean, ok: Boolean,
    fs: Map[String, Long], bytesRead: Long, bytesWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  /** Listener times are whole milliseconds, so allow one either side. */
  def contains(tNs: Long): Boolean =
    tNs >= startNs - Tracer.slackNs && tNs <= endNs + Tracer.slackNs
}

final case class JobEv(id: Int, startNs: Long, var endNs: Long,
    sqlId: Long, callSite: String)
final case class TaskEv(finishNs: Long, runMs: Long, gcMs: Long,
    inRows: Long, shuffleBytes: Long, spillBytes: Long)
final case class QeEv(tNs: Long, planMs: Double)
final case class ProgressEv(tNs: Long, durations: Map[String, Long],
    stateCommitMs: Long, stateUpdateMs: Long, stateRows: Long,
    queryId: String)

/** Times benchmark operations and, in a traced run, records spans and
  * the events of public Spark, SQL and streaming listeners. Everything
  * stays in memory until the run ends. Only the client thread calls
  * `op` and `span`; listener callbacks arrive on Spark's bus threads. */
final class Tracer(val enabled: Boolean) {
  @volatile private var active = false
  private var installed: Option[SparkSession] = None
  private var nextId = 1L
  private var nextReq = 1L
  private var currentReq = 0L
  private val stack = mutable.ArrayBuffer[Long]()
  private val clientThread = Thread.currentThread()
  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[OpSample]()

  // listener state, guarded by `this`
  val jobs = mutable.LinkedHashMap[Int, JobEv]()
  val sqls = mutable.LinkedHashMap[Long, (Long, Long)]()
  val tasks = mutable.ArrayBuffer[TaskEv]()
  val qes = mutable.ArrayBuffer[QeEv]()
  val progress = mutable.ArrayBuffer[ProgressEv]()
  private var streamsOpen = 0
  @volatile private var lastEventNs = 0L

  def isActive: Boolean = active

  /** Operations timed while this is set are warm-up, kept out of every
    * figure. */
  var warming = false

  /** Time one operation. Exceptions propagate after the sample is kept. */
  def op[T](name: String)(body: => T): T = {
    val req = nextReq
    nextReq += 1
    currentReq = req
    val fs0 = if (active) CountingFs.snapshot() else Map.empty[String, Long]
    val (r0, w0) = FsStats.bytes()
    val s = Clock.nowNs
    var ok = false
    try {
      val r = if (active) span(name, "bench")(body) else body
      ok = true
      r
    } finally {
      val e = Clock.nowNs
      val fs = if (active) CountingFs.delta(fs0) else Map.empty[String, Long]
      val (r1, w1) = FsStats.bytes()
      ops += OpSample(name, req, s, e, active, warming, ok, fs, r1 - r0, w1 - w0)
      currentReq = 0L
    }
  }

  /** Record a span around a call into a layer (traced runs only). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.lastOption.getOrElse(0L)
      stack += id
      val s = Clock.nowNs
      try body
      finally {
        stack.remove(stack.length - 1)
        spans += Span(id, parent, currentReq, name, layer, s, Clock.nowNs)
      }
    }

  /** A filesystem call made by the counting FS: a span when it comes from
    * the client thread inside a traced operation. */
  private[perfbench] def fsCall(name: String, startNs: Long): Unit =
    if (active && (Thread.currentThread() eq clientThread)) {
      val id = nextId
      nextId += 1
      spans += Span(id, stack.lastOption.getOrElse(0L), currentReq,
        name, "fs", startNs, Clock.nowNs)
    }

  private def evNs(ms: Long): Long = ms * 1000000L
  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      touch()
      val p = Option(e.properties)
      val sql = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      // the first stage carries the job's call site, short and long form
      val site = e.stageInfos.headOption.map(s => s.name + "\n" + s.details)
        .getOrElse("")
      jobs(e.jobId) = JobEv(e.jobId, evNs(e.time), -1L, sql, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      touch()
      jobs.get(e.jobId).foreach(_.endNs = evNs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      touch()
      val m = e.taskMetrics
      if (m != null) tasks += TaskEv(evNs(e.taskInfo.finishTime),
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          touch(); sqls(s.executionId) = (evNs(s.time), -1L)
        case x: SparkListenerSQLExecutionEnd =>
          touch()
          sqls.get(x.executionId).foreach { case (st, _) =>
            sqls(x.executionId) = (st, evNs(x.time)) }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      touch()
      val ph = qe.tracker.phases
      val planMs = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
      // the planning phase ends inside the action, so its end time places
      // the action in the operation that ran it
      val t = ph.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      qes += QeEv(evNs(t), planMs)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Tracer.this.synchronized { touch(); streamsOpen += 1 }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { touch(); streamsOpen -= 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        touch()
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val st = p.stateOperators.toSeq
        progress += ProgressEv(
          Instant.parse(p.timestamp).toEpochMilli * 1000000L, d,
          st.map(_.commitTimeMs).sum, st.map(_.allUpdatesTimeMs).sum,
          st.map(_.numRowsTotal).sum, p.id.toString)
      }
  }

  /** Start tracing: install the listeners and the FS counters. */
  def activate(spark: SparkSession): Unit = if (enabled) {
    if (installed.isEmpty) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      installed = Some(spark)
    }
    CountingFs.tracer = this
    CountingFs.active = true
    active = true
  }

  /** Stop tracing once the listener buses have delivered every event of
    * the traced operations (or after 10 s), then remove the listeners. */
  def deactivate(): Unit = installed.foreach { spark =>
    active = false
    CountingFs.active = false
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized {
      jobs.values.forall(_.endNs >= 0) && sqls.values.forall(_._2 >= 0) &&
        streamsOpen <= 0 && System.nanoTime() - lastEventNs > 300000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = None
    // spark spans: SQL executions and jobs, parented by time containment
    val client = spans.toVector
    def owner(s: Long, e: Long): (Long, Long) =
      client.filter(c => c.layer != "fs" && c.startNs - Tracer.slackNs <= s &&
        e <= c.endNs + Tracer.slackNs)
        .sortBy(-_.startNs).headOption.map(c => (c.id, c.req)).getOrElse((0L, 0L))
    val sqlSpan = mutable.Map[Long, (Long, Long)]()
    synchronized {
      sqls.foreach { case (sid, (s, e)) if e >= 0 =>
        val (p, r) = owner(s, e)
        if (r != 0) {
          val id = nextId; nextId += 1
          spans += Span(id, p, r, s"sql.$sid", "spark", s, e)
          sqlSpan(sid) = (id, r)
        }
      case _ => }
      jobs.values.filter(_.endNs >= 0).foreach { j =>
        val (p, r) = sqlSpan.get(j.sqlId).getOrElse(owner(j.startNs, j.endNs))
        if (r != 0) {
          val id = nextId; nextId += 1
          spans += Span(id, p, r, s"job.${j.id}", "spark", j.startNs, j.endNs)
        }
      }
    }
  }

  /** Merged length of intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s > ce) { total += math.max(0L, ce - cs); cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    total + math.max(0L, ce - cs)
  }

  /** Self time per layer in ms: each span's duration minus the part of
    * it that its children cover, summed by layer. */
  def selfTimeMs(): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        s.durNs - covered(ch, s.startNs, s.endNs)
      }.sum / 1e6
    }
  }

  /** Write every span as one JSON line. */
  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.mapper.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Listener event times are epoch milliseconds. */
  val slackNs = 1000000L
}

/** Hadoop's own I/O statistics for the `file:` scheme (kept in every
  * run, traced or not). */
object FsStats {
  def bytes(): (Long, Long) =
    Option(FileSystem.getGlobalStorageStatistics.get("file")) match {
      case Some(st) =>
        (Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L),
          Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L))
      case None => (0L, 0L)
    }
}

/** Share of CPU time the hypervisor gave to other guests (Linux
  * `/proc/stat` steal ticks), to tell a slow host from a slow program
  * when reading a result. None where the file is absent. */
object Steal {
  /** (all ticks, steal ticks) so far. */
  def ticks(): Option[(Long, Long)] = scala.util.Try {
    val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")),
      StandardCharsets.UTF_8).linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }.toOption

  def shareSince(from: Option[(Long, Long)]): Option[Double] = for {
    (t0, s0) <- from
    (t1, s1) <- ticks()
    if t1 > t0
  } yield (s1 - s0).toDouble / (t1 - t0)
}
