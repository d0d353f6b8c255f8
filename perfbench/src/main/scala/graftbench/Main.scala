package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The harness calls `setup` once, in a
  * fresh JVM, then `warmUp`, then `step` in a closed loop until the time
  * is up, then `checks`.
  */
trait Workload {
  /** Generate the data and build all tables and indexes under `dir`. */
  def setup(dir: String): Unit
  /** Run every kind of operation once, untimed (JIT and codegen warm-up). */
  def warmUp(): Unit
  /** One closed-loop step; records its timed operations through [[Bench.op]]. */
  def step(i: Int): Unit
  /** End-of-run correctness checks, outside any timed region. */
  def checks(): Unit
  /** Units of work done by the timed operations (rows, docs or vectors). */
  def items: Double
  /** Generator parameters and measured data shares, for the run report. */
  def params: Map[String, Any]
  /** Layer counters only this workload can read (traced run). */
  def layerMetrics(ops: Seq[OpRec]): Map[String, Double]
}

/** One timed operation. `cls` is "read", "write" or "maintenance". */
final case class OpRec(cls: String, name: String, ms: Double, traced: Boolean,
    span: Option[Span], queries: Seq[QueryStats])

/** Records timed operations and checks for the current run. */
object Bench {
  val ops = ArrayBuffer[OpRec]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()

  /** Time `f` as one operation the client waits for. */
  def op[T](cls: String, name: String)(f: => T): T = {
    if (Trace.on) { Trace.drain(); Trace.takeQueries() }
    attempted += 1
    val t0 = System.nanoTime()
    val r = Trace.span("op", name)(f)
    val ms = (System.nanoTime() - t0) / 1e6
    val (span, qs) =
      if (Trace.on) { Trace.drain(); (Some(Trace.lastRoot), Trace.takeQueries()) }
      else (None, Nil)
    ops += OpRec(cls, name, ms, Trace.on, span, qs)
    r
  }

  /** A correctness check; a false condition counts as a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => failures += s"$name: ${e.getMessage}"; false
    }
    if (!passed) {
      failed += 1
      if (!failures.exists(_.startsWith(name + ":"))) failures += s"$name: failed"
    }
  }

  /** Wall time of `f` in milliseconds, with its result. */
  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = new File(o.work).getAbsoluteFile
    deleteRec(work)
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmSessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    mark("session ready")
    Trace.install(spark, s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}")

    val wl: Workload = o.workload match {
      case "lake_dml"     => new LakeDml(spark, o.seed)
      case "corpus_dedup" => new CorpusDedup(spark, o.seed)
      case "ingest_serve" => new IngestServe(spark, o.seed)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = Bench.timeMs(wl.setup(new File(work, "data").toString))._2 / 1000.0
    mark("set-up done")
    val warmS = Bench.timeMs(wl.warmUp())._2 / 1000.0
    mark("warm-up done")
    Bench.ops.clear(); Bench.attempted = 0L

    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    Trace.resetStoragePeak()
    // closed loop, one client: the next step starts when the previous one
    // ends. A traced run takes at least one traced and one untraced step.
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0
    val loop0 = System.nanoTime()
    while ((System.nanoTime() < deadline || (o.trace && i < 2)) && Bench.failed == 0) {
      Trace.on = o.trace && i % 2 == 0
      try wl.step(i) catch {
        case e: Exception =>
          Bench.failed += 1
          Bench.failures += s"step $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      i += 1
    }
    Trace.on = false
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcLoopMs = gcMs() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // live heap: heap in use right after a full collection, once the loop
    // is over (a collection inside the loop would change the timed ops'
    // GC work). The second collection frees what Spark's ContextCleaner
    // released after the first (blocks of plans that just became garbage).
    System.gc()
    Thread.sleep(200)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    mark("loop done")
    if (Bench.failed == 0) wl.checks()
    mark("checks done")

    val ops = Bench.ops.toSeq
    def lat(cls: String) = ops.filter(_.cls == cls).map(_.ms)
    // each kind of op weighs the same, however fast it is and however often it runs
    def kindGm(cls: String) = {
      val meds = ops.filter(_.cls == cls).groupBy(_.name).values.map(v => Stats.median(v.map(_.ms)))
      math.exp(meds.map(math.log).sum / meds.size)
    }
    val opS = ops.map(_.ms).sum / 1000.0
    val e2e = Seq(
      "setup_s" -> (jvmSessionS + setupS + warmS),
      "live_heap_mb" -> liveHeapMb,
      "read_ms_gm" -> kindGm("read"),
      "read_ms_p90" -> Stats.pct(lat("read"), 0.9),
      "write_ms_gm" -> kindGm("write"),
      "write_ms_p90" -> Stats.pct(lat("write"), 0.9),
      "throughput_per_s" -> wl.items / opS)
    val rssPeakMb = peakRssMb()
    val layer = if (o.trace) Layers.metrics(ops, wl, gcLoopMs, heapPeakMb, rssPeakMb) else Nil
    val metrics = if (o.trace) layer else e2e

    val report = ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cpus" -> cpus, "seconds" -> o.seconds, "loop_s" -> loopS,
      "jvm_session_s" -> jvmSessionS, "setup_once_s" -> setupS, "warm_up_s" -> warmS,
      "steps" -> i, "vm_hwm_mb" -> rssPeakMb,
      "samples" -> Map("read" -> lat("read").size, "write" -> lat("write").size),
      "op_ms_p50" -> ops.groupBy(_.name).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "op_count" -> ops.groupBy(_.name).map { case (k, v) => k -> v.size },
      "storage_memory_bytes" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum,
      "params" -> wl.params, "failures" -> Bench.failures.toSeq,
      "end_to_end" -> ListMap(e2e: _*), "per_layer" -> ListMap(layer: _*))
    val outDir = new File(o.out)
    outDir.mkdirs()
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    java.nio.file.Files.write(new File(outDir, s"$tag.json").toPath,
      Json(report).getBytes("UTF-8"))
    if (o.trace) Trace.writeSpans(new File(outDir, s"$tag-spans.jsonl").toPath)

    val result = Json(ListMap(
      "correct" -> (Bench.failed == 0),
      "attempted" -> math.max(1L, Bench.attempted),
      "failed" -> Bench.failed,
      "metrics" -> ListMap(metrics.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> (if (k == "throughput_per_s") "1/s" else Layers.unit(k)))
      }: _*)))
    mark("report written")
    spark.stop()
    mark("session stopped")
    println("GRAFTBENCH_RESULT " + result)
    System.exit(0)
  }

  /** Phase marks on stderr, in seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"graftbench: $what at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2fs")

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** High-water resident set size of this JVM (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Total bytes of regular files under `dir`. */
  def dirBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (dir.isFile) dir.length() else 0L

  /** Regular files under `dir` (relative path → size). */
  def listFiles(dir: File): Map[String, Long] = {
    val base = dir.toPath
    if (!dir.exists()) Map.empty
    else java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
  }
}
