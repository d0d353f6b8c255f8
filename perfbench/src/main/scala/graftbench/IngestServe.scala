package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Mat
import graft.functions.exprs
import graft.lake.GraftTable
import graft.pipeline.AnnIndex

/** The retrieval serving loop over a lake-managed embedding corpus:
  * append a vector batch and delete the previous batch's planted
  * near-duplicates, drain the corpus change feed into a replica with one
  * AvailableNow stream, sync the persisted ANN index, answer a query
  * batch, and fold the replica's equality deletes.
  */
final class IngestServe(spark: SparkSession, seed: Long) extends Workload {
  import IngestServe._

  private val rng = new scala.util.Random(seed)
  private var base = ""
  private var nextId = 0L
  /** Live vector ids and planted duplicates not yet deleted. */
  private val live = scala.collection.mutable.Set[Long]()
  private val vecs = scala.collection.mutable.Map[Long, Array[Float]]()
  private val pendingDups = ArrayBuffer[Long]()
  private val deleted = scala.collection.mutable.Set[Long]()
  private var cycles = 0
  private var vectorsIn = 0L
  private val lags = ArrayBuffer[Double]()
  private val syncs = ArrayBuffer[(Double, Long)]()
  private val drains = ArrayBuffer[Seq[Progress]]()
  private val starts = ArrayBuffer[Double]()
  private var buildS = 0.0
  private var centers: Array[Array[Double]] = _

  private def corpus = new GraftTable(s"$base/corpus", spark)
  private def replica = new GraftTable(s"$base/replica", spark)
  private def idx = s"$base/index"

  def setup(dir: String): Unit = {
    base = new File(dir).getAbsolutePath
    centers = Array.tabulate(Mixture)(c => unit(new scala.util.Random(mixSeed(seed, -1 - c)), Dim))
    val c = GraftTable.create(spark, s"$base/corpus", vectors(Initial, dups = DupsPerBatch))
    c.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    buildS = Bench.timeMs(AnnIndex.buildFromTable(spark, c, idx))._2 / 1000.0
    val r = GraftTable.createEmpty(spark, s"$base/replica", c.schema, Seq.empty, Seq.empty)
    r.setProperties(Map(GraftTable.MergeModeProp -> "merge-on-read",
      GraftTable.MergeDeleteKindProp -> "equality"))
    drain(timedLag = None)
  }

  def warmUp(): Unit = {
    runCycle(timed = false)
    vectorsIn = 0L
    lags.clear(); syncs.clear(); drains.clear(); starts.clear()
  }

  def step(i: Int): Unit = runCycle(timed = true)

  /** Append a batch and delete the previous batch's planted near-copies;
    * drain the change feed into the replica and sync the index (the
    * write); answer one query batch (the read); fold the replica's
    * equality deletes (maintenance). The query batch holds the deleted
    * near-copies' own vectors: each would be its own top-1 if a delete
    * leaked into the corpus or the index.
    */
  private def runCycle(timed: Boolean): Unit = {
    def op[T](cls: String, name: String)(f: => T): T =
      if (timed) Bench.op(cls, name)(f) else f
    cycles += 1
    val dups = pendingDups.toSeq
    pendingDups.clear()
    val dupVecs = dups.map(vecs)
    op("write", "ingest") {
      val batch = vectors(Batch, dups = DupsPerBatch)
      Trace.span("lake", "commit.append")(corpus.append(batch))
      Trace.span("lake", "commit.delete")(corpus.delete(col("vec_id").isin(dups: _*)))
      live --= dups; vecs --= dups; deleted ++= dups
      val acked = System.nanoTime()
      drain(if (timed) Some(acked) else None)
      val (n, ms) = Bench.timeMs(Trace.span("pipeline", "ann.sync")(AnnIndex.sync(spark, corpus, idx)))
      if (timed && Trace.on) syncs += (ms -> n)
    }
    val qs = queries(QueryBatchSize, dupVecs)
    val got = op("read", "ann.query") {
      Trace.span("pipeline", "ann.query") {
        AnnIndex.query(spark, idx, corpus.read(), qs, QueryBatchSize + dupVecs.size).collect()
      }
    }
    if (timed) Bench.check("deleted vec_ids are never returned") {
      got.forall(r => !deleted.contains(r.getLong(1)))
    }
    // background maintenance: timed, but neither a read nor a write the client waits on
    op("maintenance", "replica.compact")(Trace.span("lake", "commit.compact")(replica.applyDeletes()))
    if (timed) vectorsIn += Batch
  }

  /** One AvailableNow drain of the corpus change feed into the replica. */
  private def drain(timedLag: Option[Long]): Unit = {
    val rep = replica
    val startCall = System.currentTimeMillis()
    val q = Trace.span("streaming", "drain") {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", s"$base/corpus").option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cached = batch.cache()
          try {
            val kinds = cached.groupBy(col("_change_type")).count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            if (kinds.getOrElse("delete", 0L) > 0L)
              Trace.span("lake", "commit.delete")(rep.mergeDelete(
                cached.filter(col("_change_type") === "delete").select(col("vec_id")), Seq("vec_id")))
            if (kinds.getOrElse("insert", 0L) > 0L)
              Trace.span("lake", "commit.merge")(rep.merge(
                cached.filter(col("_change_type") === "insert").drop("_change_type"), Seq("vec_id")))
            ()
          } finally { cached.unpersist(); () }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    timedLag.foreach(t0 => lags += (System.nanoTime() - t0) / 1e6)
    if (Trace.on) {
      Trace.drain()
      val ps = Trace.takeProgress(Set(q.runId.toString))
      drains += ps
      ps.headOption.foreach(p => starts += (p.triggerStartMs - startCall).toDouble)
    }
  }

  // ---------------- data ----------------

  private def unit(r: scala.util.Random, n: Int): Array[Double] = {
    val v = Array.fill(n)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  /** `n` new vectors from the Gaussian mixture; the last `dups` of them
    * are near-copies of live vectors, remembered for the next dedup delete.
    */
  private def vectors(n: Int, dups: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { j =>
      val id = nextId; nextId += 1
      val v =
        if (j >= n - dups) {
          pendingDups += id
          val ids = live.toArray
          val src = vecs(ids(rng.nextInt(ids.length)))
          val r = new scala.util.Random(mixSeed(seed, id))
          src.map(_ + 0.01 * r.nextGaussian())
        } else {
          val c = centers(rng.nextInt(Mixture))
          val r = new scala.util.Random(mixSeed(seed, id))
          c.zip(unit(r, Dim)).map { case (a, b) => a + Spread * b }
        }
      val f = v.map(_.toFloat)
      live += id
      vecs(id) = f
      (id, f)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** `n` queries drawn from the mixture, then one per vector of `extra`. */
  private def queries(n: Int, extra: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    val drawn = (0 until n).map { _ =>
      val c = centers(rng.nextInt(Mixture))
      val r = new scala.util.Random(rng.nextLong())
      c.zip(unit(r, Dim)).map { case (a, b) => (a + Spread * b).toFloat }
    }
    (drawn ++ extra).zipWithIndex.map { case (v, q) => (q.toLong, v) }.toDF("query_id", "embedding")
  }

  // ---------------- end of run ----------------

  def checks(): Unit = {
    val c = corpus.read()
    Bench.check("replica equals the corpus") {
      graft.Checks.multisetDriftCount(c.select("vec_id", "embedding"),
        replica.read().select("vec_id", "embedding")) == 0L
    }
    Bench.check("index code rows equal live corpus rows") {
      new GraftTable(s"$idx/codes", spark).read().count() == c.count()
    }
    Bench.check("corpus holds exactly the live ids") {
      val ids = c.select("vec_id").collect().map(_.getLong(0))
      ids.length == live.size && ids.forall(live.contains)
    }
  }

  def items: Double = vectorsIn.toDouble

  def params: Map[String, Any] = Map(
    "dim" -> Dim, "mixture" -> Mixture, "spread" -> Spread, "initial_vectors" -> Initial,
    "batch" -> Batch, "dups_per_batch" -> DupsPerBatch,
    "query_batch_size" -> QueryBatchSize, "cycles" -> cycles,
    "vectors_added" -> (nextId - Initial), "vectors_deleted" -> deleted.size,
    "live_vectors" -> live.size, "corpus_bytes" -> Main.dirBytes(new File(s"$base/corpus")))

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val ps = drains.flatten.toSeq
    def dur(k: String) = Layers.mean(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    Map(
      "pipeline.ann_sync_rows" -> Layers.mean(syncs.map(_._2.toDouble).toSeq),
      "pipeline.ann_sync_ms" -> Stats.median(syncs.map(_._1).toSeq),
      "pipeline.ann_build_s" -> buildS,
      "pipeline.ann_recall_at_5" -> recall(),
      "streaming.start_ms" -> Layers.mean(starts.toSeq),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.batches_per_drain" -> Layers.mean(drains.map(_.count(_.inputRows > 0).toDouble).toSeq),
      "streaming.cdc_lag_ms" -> Stats.median(lags.toSeq)) ++ kernels()
  }

  /** ANN top-5 against the exact top-5 over the live corpus. */
  private def recall(): Double = {
    val qs = queries(QueryBatchSize, Nil)
    val c = corpus.read()
    val approx = AnnIndex.query(spark, idx, c, qs, QueryBatchSize).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qv = qs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val vs = vecs.toSeq
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = qv.flatMap { case (q, v) =>
      vs.map { case (id, w) => id -> cos(v, w) }.sortBy(-_._2).take(5).map(x => (q, x._1))
    }
    exact.count(approx.contains).toDouble / exact.length
  }

  /** nearestCentroid projected over the corpus, minus a pass without it. */
  private def kernels(): Map[String, Double] = {
    val cents = AnnIndex.load(spark, idx).cents
    Trace.on = true
    val d = Mat.fact(corpus.read().select("embedding"))
    val n = d.count().toDouble
    def noop(df: DataFrame) = df.write.format("noop").mode("overwrite").save()
    def best(f: => Unit): Double = (1 to 3).map(_ => Bench.timeMs(f)._2).min
    val base = best(Trace.span("functions", "kernel.base")(noop(d.select(size(col("embedding"))))))
    val k = best(Trace.span("functions", "kernel.centroid")(
      noop(d.select(exprs.nearestCentroid(col("embedding"), cents)))))
    Trace.on = false
    Mat.beginEntry()
    Map("functions.centroid_ns_per_vec" -> (k - base) * 1e6 / n)
  }
}

object IngestServe {
  val Dim = 64
  val Mixture = 16
  val Spread = 0.35
  val Initial = 2000
  val Batch = 400
  val DupsPerBatch = 8
  val QueryBatchSize = 8

  def mixSeed(seed: Long, id: Long): Long = CorpusDedup.mix(seed, id, 7L)
}
