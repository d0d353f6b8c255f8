package graftbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.GraftTable

/** SQL-only mixed reads and writes on one snapshot-managed table,
  * partitioned by a day column derived from `ts` through a column
  * dependency. Every result is checked against a driver-side model of
  * the table, kept per snapshot so time-travel reads are checked too.
  */
final class LakeDml(spark: SparkSession, seed: Long) extends Workload {
  import LakeDml._

  /** One table and the driver-side model of it. */
  private final class Tab(val name: String, val root: String) {
    var nextId = 1L
    var model = Map.empty[Long, Ev]
    /** (snapshot ts millis, model at that snapshot), in commit order. */
    val history = ArrayBuffer[(Long, Map[Long, Ev])]()
  }

  private val rng = new scala.util.Random(seed)
  /** The table ops run on: the warm-up table, then the measured one. */
  private var tab: Tab = _
  private var rowsMoved = 0L
  private var tracedRowsReturned = 0L
  private val mix = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private var filesAtStart = Map.empty[String, Long]
  private val pruneProbes = ArrayBuffer[(Double, Double)]()
  /** Fewest data files the measured table held when a timed op started. */
  private var minFiles = Int.MaxValue
  /** Delete files pending when each step's compaction started. */
  private val deleteFilesBeforeCompact = ArrayBuffer[Double]()

  private def t = new GraftTable(tab.root, spark)

  /** The warm-up runs first, on a table of its own, so its writes and its
    * compaction leave the measured table as set-up built it, and the
    * measured table is built by warmed code.
    */
  def setup(dir: String): Unit = {
    create("ev_warm", new File(dir, "warm"), WarmRows, inserts = 1)
    (Step.distinct :+ "compact").foreach(k => runKind(k, timed = false))
    create("ev", new File(dir, "ev"), InitialRows, InitialInserts)
  }

  /** Create a table and write its initial history: one insert over every
    * day (one file per day partition, so the table starts past the shard
    * threshold), then `inserts` small inserts into the latest days.
    */
  private def create(name: String, dir: File, rows: Int, inserts: Int): Unit = {
    tab = new Tab(name, dir.getAbsolutePath)
    spark.sql(
      s"""CREATE TABLE $name (id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE) USING parquet
         |OPTIONS (addTableManagement 'true', path '${tab.root}',
         |         columnDependencies 'ts=ts_day:day,id=id_b:bucket[8]')
         |PARTITIONED BY (ts_day)""".stripMargin)
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read', " +
      "'write.update.mode' = 'merge-on-read', 'write.merge.mode' = 'merge-on-read')")
    record()
    insert(gen(rows, 0 until Days))
    (0 until inserts).foreach(_ => insert(gen(insertRows(), recentDays())))
  }

  /** Done in [[setup]]; only the counters of the warm-up are reset here. */
  def warmUp(): Unit = {
    mix.clear()
    rowsMoved = 0L
    filesAtStart = Main.listFiles(new File(tab.root))
  }

  /** One step: [[LakeDml.Step]] in its fixed order (the statements'
    * parameters are seeded), then a compaction. The mix is an assumption,
    * not taken from a measured workload: kinds within a class run equally
    * often, so each one the issue names gets the same weight in the
    * per-kind end-to-end metrics; reads repeat because they are cheap and
    * their medians need the samples. The order is fixed so that every run
    * reads the same mix of table states.
    */
  def step(i: Int): Unit = {
    Step.foreach(runKind(_, timed = true))
    deleteFilesBeforeCompact += t.current.deleteFiles.size.toDouble
    runKind("compact", timed = true)
  }

  private def runKind(k: String, timed: Boolean): Unit = {
    mix(k) += 1
    if (timed) minFiles = math.min(minFiles, t.current.files.size)
    k match {
      case "insert"        => insert(gen(insertRows(), recentDays()), timed)
      case "overwrite"     => overwrite(timed)
      case "delete.ids"    => deleteIds(timed)
      case "delete.keyday" => deleteKeyDay(timed)
      case "update"        => update(timed)
      case "merge"         => merge(timed)
      case "compact"       => write("compact", s"OPTIMIZE ${tab.name}", timed)
      case "range"         => rangeRead(timed)
      case "point"         => pointRead(timed)
      case "asof"          => asOfRead(timed)
      case "snapshots"     => snapshotsRead(timed)
    }
  }

  // ---------------- data ----------------

  private def dayStartMs(d: Int): Long = BaseMs + d * DayMs

  private def gen(n: Int, days: Seq[Int]): Seq[Ev] = Seq.fill(n) {
    val id = tab.nextId; tab.nextId += 1
    val d = days(rng.nextInt(days.size))
    Ev(id, dayStartMs(d) + rng.nextInt(DayMs.toInt), s"k${rng.nextInt(Keys)}",
      rng.nextInt(1000000) / 100.0)
  }

  private def insertRows(): Int = 20 + rng.nextInt(180)

  /** New rows land mostly in the latest days, like an event feed. */
  private def recentDays(): Seq[Int] = {
    val d = Days - 1 - math.min(Days - 1, (math.abs(rng.nextGaussian()) * 3).toInt)
    Seq(d, math.max(0, d - 1))
  }

  private def srcView(rows: Seq[Ev]): Unit =
    spark.createDataFrame(rows.map(e => Row(e.id, new Timestamp(e.ts), e.k, e.v)).asJava, Schema)
      .coalesce(1).createOrReplaceTempView("src")

  private def randomLiveIds(n: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var tries = 0
    while (out.size < n && tries < n * 20) {
      val id = 1L + (rng.nextDouble() * (tab.nextId - 1)).toLong
      if (tab.model.contains(id)) out += id
      tries += 1
    }
    out.toSeq
  }

  private def tsLit(ms: Long): String = s"TIMESTAMP '${new Timestamp(ms).toInstant}'"

  // ---------------- writes ----------------

  private def record(): Unit = tab.history += (t.current.tsMillis -> tab.model)

  private def write(kind: String, sqlText: String, timed: Boolean): Unit = {
    if (timed) Bench.op("write", s"commit.$kind")(Trace.span("sql", s"commit.$kind")(sql(sqlText)))
    else sql(sqlText)
    record()
  }

  private def insert(rows: Seq[Ev], timed: Boolean = false): Unit = {
    srcView(rows)
    tab.model ++= rows.map(e => e.id -> e)
    write("append", s"INSERT INTO ${tab.name} SELECT id, ts, k, v FROM src", timed)
    rowsMoved += rows.size
  }

  private def overwrite(timed: Boolean): Unit = {
    val d = rng.nextInt(Days)
    val rows = gen(100 + rng.nextInt(200), Seq(d))
    srcView(rows)
    val dayInt = java.time.Instant.ofEpochMilli(dayStartMs(d)).toString.take(10).replace("-", "")
    tab.model = tab.model.filterNot { case (_, e) => dayOf(e.ts) == d } ++ rows.map(e => e.id -> e)
    write("overwrite",
      s"INSERT OVERWRITE ${tab.name} PARTITION (ts_day = $dayInt) SELECT id, ts, k, v FROM src", timed)
    rowsMoved += rows.size
  }

  private def deleteIds(timed: Boolean): Unit = {
    val ids = randomLiveIds(5 + rng.nextInt(20))
    tab.model --= ids
    write("delete", s"DELETE FROM ${tab.name} WHERE id IN (${ids.mkString(", ")})", timed)
    rowsMoved += ids.size
  }

  private def deleteKeyDay(timed: Boolean): Unit = {
    val d = rng.nextInt(Days)
    val key = s"k${rng.nextInt(Keys)}"
    val gone = tab.model.collect { case (id, e) if dayOf(e.ts) == d && e.k == key => id }
    tab.model --= gone
    write("delete", s"DELETE FROM ${tab.name} WHERE k = '$key' AND ts >= ${tsLit(dayStartMs(d))} " +
      s"AND ts < ${tsLit(dayStartMs(d + 1))}", timed)
    rowsMoved += gone.size
  }

  private def update(timed: Boolean): Unit = {
    val d = rng.nextInt(Days)
    val key = s"k${rng.nextInt(Keys)}"
    val hit = tab.model.collect { case (id, e) if dayOf(e.ts) == d && e.k == key => id -> e.copy(v = e.v + 1.5) }
    tab.model ++= hit
    write("update", s"UPDATE ${tab.name} SET v = v + 1.5 WHERE k = '$key' AND " +
      s"ts >= ${tsLit(dayStartMs(d))} AND ts < ${tsLit(dayStartMs(d + 1))}", timed)
    rowsMoved += hit.size
  }

  private def merge(timed: Boolean): Unit = {
    val upd = randomLiveIds(10 + rng.nextInt(30)).map { id =>
      tab.model(id).copy(k = s"k${rng.nextInt(Keys)}", v = rng.nextInt(1000000) / 100.0)
    }
    val ins = gen(10 + rng.nextInt(30), recentDays())
    srcView(upd ++ ins)
    tab.model ++= (upd ++ ins).map(e => e.id -> e)
    write("merge", s"MERGE INTO ${tab.name} USING src ON ${tab.name}.id = src.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", timed)
    rowsMoved += upd.size + ins.size
  }

  // ---------------- reads ----------------

  /** Run a statement; in a traced op its own planning phases are kept. */
  private def sql(text: String): DataFrame = {
    val df = spark.sql(text)
    Trace.noteQuery(df.queryExecution)
    df
  }

  /** Time a read to its full result (a top-k or key lookup, collected),
    * then check the rows against the model.
    */
  private def read(kind: String, sqlText: String, timed: Boolean, expect: Seq[Ev],
      probe: Option[org.apache.spark.sql.Column] = None): Unit = {
    def run() = sql(sqlText).collect()
    val rows = if (timed) Bench.op("read", s"read.$kind")(Trace.span("sql", s"read.$kind")(run()))
      else run()
    val got = rows.map(r => Ev(r.getLong(0), r.getTimestamp(1).getTime, r.getString(2), r.getDouble(3)))
    if (Trace.on) tracedRowsReturned += got.length
    if (timed) Bench.check(s"read.$kind matches the model")(got.toSeq == expect)
    // traced run: time the file pruning of the same predicate on its own
    for (p <- probe if Trace.on) {
      val (res, ms) = Bench.timeMs(Trace.span("lake", "prune")(t.pruneFiles(p)))
      val total = t.current.files.size
      pruneProbes += (ms -> (if (total == 0) 1.0 else res._1.size.toDouble / total))
    }
  }

  private def window(m: Map[Long, Ev], lo: Long, hi: Long): Seq[Ev] =
    m.values.filter(e => e.ts >= lo && e.ts < hi).toSeq.sortBy(e => (e.ts, e.id)).take(TopK)

  /** The two-day window of the `n`-th range or AS OF read: the windows
    * take turns at fixed ages, from the latest days (small files, pending
    * deletes) to compacted older ones.
    */
  private def windowStart(n: Int): Int = Days - 2 - WindowAges(n % WindowAges.size)
  private var rangeReads = 0
  private var asOfReads = 0

  /** Top-k of a two-day `ts` range, pruned through the day dependency. */
  private def rangeRead(timed: Boolean): Unit = {
    val d0 = windowStart(rangeReads)
    rangeReads += 1
    val (lo, hi) = (dayStartMs(d0), dayStartMs(d0 + 2))
    read("range", s"SELECT id, ts, k, v FROM ${tab.name} WHERE ts >= ${tsLit(lo)} AND ts < ${tsLit(hi)} " +
      s"ORDER BY ts, id LIMIT $TopK", timed, window(tab.model, lo, hi),
      Some(col("ts") >= new Timestamp(lo) && col("ts") < new Timestamp(hi)))
  }

  /** Lookup of a recently inserted id (it may since have been deleted). */
  private def pointRead(timed: Boolean): Unit = {
    val id = tab.nextId - 1 - rng.nextInt(RecentIds)
    read("point", s"SELECT id, ts, k, v FROM ${tab.name} WHERE id = $id", timed, tab.model.get(id).toSeq,
      Some(col("id") === id))
  }

  /** Top-k of a two-day window as of the table `AsOfBack` commits ago. */
  private def asOfRead(timed: Boolean): Unit = {
    val (tsMs, m) = tab.history(math.max(0, tab.history.size - 1 - AsOfBack))
    val d0 = windowStart(asOfReads)
    asOfReads += 1
    val (lo, hi) = (dayStartMs(d0), dayStartMs(d0 + 2))
    read("asof", s"AS OF '$tsMs' SELECT id, ts, k, v FROM ${tab.name} WHERE ts >= ${tsLit(lo)} " +
      s"AND ts < ${tsLit(hi)} ORDER BY ts, id LIMIT $TopK", timed, window(m, lo, hi))
  }

  private def snapshotsRead(timed: Boolean): Unit = {
    def run() = sql(s"SELECT * FROM `${tab.name}$$snapshots`").collect()
    val n = (if (timed) Bench.op("read", "read.snapshots")(Trace.span("sql", "read.snapshots")(run()))
      else run()).length
    if (Trace.on) tracedRowsReturned += n
    if (timed) Bench.check("snapshots view lists every snapshot")(n == t.snapshotIds.size)
  }

  // ---------------- end of run ----------------

  def checks(): Unit = {
    import spark.implicits._
    val expected = tab.model.values.toSeq.map(e => (e.id, new Timestamp(e.ts), e.k, e.v))
      .toDF("id", "ts", "k", "v")
    Bench.check("final table equals the model") {
      graft.Checks.multisetDriftCount(spark.table(tab.name).select("id", "ts", "k", "v"), expected) == 0L
    }
    // the workload exists for the sharded-manifest path: every timed op must see it
    Bench.check(s"every timed op ran on at least ${GraftTable.ShardFilesThreshold} data files " +
      s"(fewest seen: $minFiles)")(minFiles >= GraftTable.ShardFilesThreshold)
  }

  def items: Double = mix.values.sum.toDouble

  def params: Map[String, Any] = {
    val cur = t.current
    Map("days" -> Days, "keys" -> Keys, "initial_rows" -> InitialRows,
      "initial_inserts" -> InitialInserts, "step" -> (Step :+ "compact"), "op_mix" -> mix.toMap,
      "live_rows" -> tab.model.size, "data_files" -> cur.files.size,
      "min_data_files_at_timed_op" -> minFiles, "snapshots" -> tab.history.size,
      "table_bytes" -> Main.dirBytes(new File(tab.root)))
  }

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val cur = t.current
    val rootDir = new File(tab.root)
    val files = Main.listFiles(rootDir)
    val liveData = cur.files.map(_.bytes).sum.toDouble
    val written = files.filterNot { case (p, _) => filesAtStart.contains(p) }.values.sum.toDouble
    val rowBytes = if (cur.totalRows > 0) liveData / cur.totalRows else 1.0
    val scanned = ops.filter(o => o.traced && o.cls == "read").flatMap(_.queries)
      .map(_.rowsRead).sum.toDouble
    Map(
      "lake.prune_ms" -> Layers.mean(pruneProbes.map(_._1).toSeq),
      "lake.files_kept_ratio" -> Layers.mean(pruneProbes.map(_._2).toSeq),
      "lake.snapshots" -> t.snapshotIds.size.toDouble,
      "lake.manifest_bytes" -> files.filter(_._1.startsWith("meta")).values.sum.toDouble,
      "lake.live_delete_files" -> Layers.mean(deleteFilesBeforeCompact.toSeq),
      "lake.write_amp" -> written / math.max(1.0, rowsMoved * rowBytes),
      "lake.space_amp" -> files.values.sum / math.max(1.0, liveData),
      "scan.rows_read_per_row" -> scanned / math.max(1L, tracedRowsReturned))
  }
}

object LakeDml {
  final case class Ev(id: Long, ts: Long, k: String, v: Double)
  val Schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType),
    StructField("k", StringType), StructField("v", DoubleType)))
  /** Day partitions: one compaction leaves one file per day, so the table
    * never drops below `GraftTable.ShardFilesThreshold` (64) data files. */
  val Days = 80
  val Keys = 16
  val InitialRows = 6000
  val WarmRows = 800
  val InitialInserts = 6
  /** Five write kinds (the delete in both its forms) and four read kinds,
    * each read three times, interleaved. */
  val Step = Seq("insert", "range", "point", "delete.ids", "asof", "snapshots",
    "overwrite", "range", "point", "update", "asof", "snapshots",
    "delete.keyday", "range", "point", "merge", "asof", "snapshots")
  val WindowAges = Seq(0, 26, 52)
  val TopK = 200
  val RecentIds = 300
  val AsOfBack = 5
  val DayMs = 86400000L
  val BaseMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  def dayOf(tsMs: Long): Int = ((tsMs - BaseMs) / DayMs).toInt
}
