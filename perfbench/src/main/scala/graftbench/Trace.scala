package graftbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans opened by the benchmark's own code wrap each
  * call into a layer; Spark jobs become child spans of layer `exec`.
  * Times are `System.nanoTime` values.
  */
final class Span(val id: Long, val parent: Long, val layer: String, val name: String,
    val startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-level work attributed to one span. */
final class ExecStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var slowestTaskMs = 0L
  var worstSkew = 0.0
}

/** Counters of one query execution, read from its executed plan (file
  * counters cover graft table scans only). */
final case class QueryStats(phasesMs: Map[String, Long], filesRead: Long,
    bytesRead: Long, rowsRead: Long)

/** Streaming progress of one micro-batch. */
final case class Progress(runId: String, triggerStartMs: Long, durations: Map[String, Long],
    inputRows: Long)

/** The traced run's recorder. Spans stay in memory and are written out
  * once, at the end. A traced run switches tracing (`on`) per loop step,
  * so traced and untraced steps alternate in one JVM and the difference
  * between them is the tracing overhead.
  */
object Trace {
  val SpanProp = "graftbench.span"

  @volatile var on = false
  var runId = ""
  /** The most recently closed top-level span. */
  @volatile var lastRoot: Span = _

  private var nextId = 1L
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var spark: SparkSession = _

  // wall-clock ms (Spark event times) → nanoTime
  private val nanoAt0 = System.nanoTime()
  private val milliAt0 = System.currentTimeMillis()
  def msToNs(ms: Long): Long = nanoAt0 + (ms - milliAt0) * 1000000L

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val s = synchronized {
        val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer, name,
          System.nanoTime())
        nextId += 1
        spans += s
        stack = s :: stack
        s
      }
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        synchronized { stack = stack.tail; if (stack.isEmpty) lastRoot = s }
        spark.sparkContext.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  // ---- listener state (written on the listener-bus thread) ----
  private val stageToSpan = mutable.Map[Int, Long]()
  private val jobToSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[Int, ArrayBuffer[Long]]()
  val exec = mutable.Map[Long, ExecStats]()
  private val pendingQueries = ArrayBuffer[QueryExecution]()
  private val progress = ArrayBuffer[Progress]()
  private val rddBlocks = mutable.Map[String, (Long, Long)]()
  private var memBytes = 0L
  private var diskBytes = 0L
  var memPeak = 0L
  var diskPeak = 0L

  private def spanOf(props: Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      spanOf(e.properties).foreach { sid =>
        jobToSpan(e.jobId) = sid
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageToSpan(_) = sid)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobToSpan.remove(e.jobId).foreach { sid =>
        val j = new Span(nextId, sid, "exec", s"job-${e.jobId}", msToNs(jobStart(e.jobId)))
        nextId += 1
        j.endNs = msToNs(e.time)
        spans += j
        exec.getOrElseUpdate(sid, new ExecStats).jobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageToSpan.get(e.stageId).foreach { sid =>
        val st = exec.getOrElseUpdate(sid, new ExecStats)
        st.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        val d = e.taskInfo.duration
        st.slowestTaskMs = math.max(st.slowestTaskMs, d)
        stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += d
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val id = e.stageInfo.stageId
      for (sid <- stageToSpan.get(id); ds <- stageTasks.remove(id) if ds.size >= 4) {
        val sorted = ds.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        val st = exec.getOrElseUpdate(sid, new ExecStats)
        st.worstSkew = math.max(st.worstSkew, sorted.last.toDouble / med)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val (m0, d0) = rddBlocks.getOrElse(key, (0L, 0L))
        val (m1, d1) =
          if (info.storageLevel.isValid) (info.memSize, info.diskSize) else (0L, 0L)
        if (m1 == 0L && d1 == 0L) rddBlocks.remove(key) else rddBlocks(key) = (m1, d1)
        memBytes += m1 - m0
        diskBytes += d1 - d0
        memPeak = math.max(memPeak, memBytes)
        diskPeak = math.max(diskPeak, diskBytes)
      }
    }
  }

  private object QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.synchronized { if (on) pendingQueries += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.synchronized {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        progress += Progress(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(s: SparkSession, id: String): Unit = {
    spark = s
    runId = id
    s.sparkContext.addSparkListener(Listener)
    s.listenerManager.register(QueryListener)
    s.streams.addListener(StreamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)

  /** Count a query execution the caller holds (e.g. an eagerly run statement). */
  def noteQuery(qe: QueryExecution): Unit = synchronized { if (on) pendingQueries += qe }

  /** Query executions that finished since the last call (traced ops only). */
  def takeQueries(): Seq[QueryStats] = synchronized {
    val out = pendingQueries.distinct.map(queryStats).toSeq
    pendingQueries.clear()
    out
  }

  /** Progress events of the given stream run ids, removed from the buffer. */
  def takeProgress(runIds: Set[String]): Seq[Progress] = synchronized {
    val (mine, rest) = progress.partition(p => runIds.contains(p.runId))
    progress.clear(); progress ++= rest
    mine.toSeq
  }

  def resetStoragePeak(): Unit = synchronized { memPeak = memBytes; diskPeak = diskBytes }

  def queryStats(qe: QueryExecution): QueryStats = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case _: ReusedExchangeExec    => Nil
      case f: FileSourceScanExec    => Seq(f).filter(_.relation.location.isInstanceOf[GraftFileIndex])
      case other                    => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val ss = try scans(qe.executedPlan) catch { case _: Exception => Nil }
    def metric(f: FileSourceScanExec, k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
    QueryStats(phases, ss.map(metric(_, "numFiles")).sum, ss.map(metric(_, "filesSize")).sum,
      ss.map(metric(_, "numOutputRows")).sum)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Span duration minus the part of it that its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - Layers.covered(ivs, s.startNs, s.endNs)) / 1e6
    }.toMap
  }

  /** The top-level (`op`) span each span belongs to. */
  def rootOf(all: Seq[Span]): Map[Long, Long] = {
    val byId = all.map(s => s.id -> s).toMap
    def root(s: Span): Long =
      if (s.parent == 0L) s.id else byId.get(s.parent).map(root).getOrElse(s.id)
    all.map(s => s.id -> root(s)).toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startNs).map { s =>
      Json(scala.collection.immutable.ListMap("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> (s.startNs - nanoAt0),
        "end_ns" -> (s.endNs - nanoAt0))) + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString.getBytes("UTF-8"))
  }
}
