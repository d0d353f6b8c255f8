package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Mat
import graft.functions.exprs
import graft.pipeline.{Dedup, TextOps}

/** A batch training-data pass: quality filter, exact (md5) dedup,
  * MinHash near-duplicate pairs, near-duplicate clusters, and the
  * canonical documents written to the noop sink. The generated corpus
  * (one crawl shard) carries planted near-duplicate clusters, exact
  * copies, low-quality documents and one hot boilerplate sentence.
  */
final class CorpusDedup(spark: SparkSession, seed: Long) extends Workload {
  import CorpusDedup._

  private var corpusPath = ""
  private var warmPath = ""
  private var docsDone = 0L
  private var passes = 0
  private val stageMs = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
  private val counts = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
  /** Per timed pass: MinHash pairs, and doc -> cluster for merged docs. */
  private val results = ArrayBuffer[(Array[(Long, Long)], Map[Long, Long])]()
  private var measured = Map.empty[String, Any]

  def setup(dir: String): Unit = {
    // the corpus the loop deduplicates, and a small one for the warm-up pass
    corpusPath = new File(dir, "corpus").getAbsolutePath
    warmPath = new File(dir, "warm").getAbsolutePath
    shardFrame(spark, seed, 0, CorpusDocs).write.parquet(corpusPath)
    shardFrame(spark, seed, 1, WarmDocs).write.parquet(warmPath)
    measured = measureShares(spark.read.parquet(corpusPath))
  }

  def warmUp(): Unit = {
    pass(1, timed = false)
    results.clear()
    docsDone = 0L
    passes = 0
    stageMs.clear(); counts.clear()
  }

  private def docs(s: Int): DataFrame = spark.read.parquet(if (s == 0) corpusPath else warmPath)

  def step(i: Int): Unit = pass(0, timed = true)

  private def stage[T](name: String)(f: => T): T = {
    val (r, ms) = Bench.timeMs(Trace.span("pipeline", name)(f))
    if (Trace.on) stageMs.getOrElseUpdate(name, ArrayBuffer()) += ms
    r
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(s: Int, timed: Boolean): Unit = {
    def op[T](cls: String, name: String)(f: => T): T =
      if (timed) Bench.op(cls, name)(f) else f
    Mat.beginEntry()
    val in = docs(s)
    // read side: scan the shard and keep the documents that pass the quality filter
    val kept = op("read", "pass.filter") {
      stage("filter") {
        val flags = TextOps.corpusFilterCore(in).filter(col("keep")).select("doc_id")
        val k = Mat.fact(in.join(flags, Seq("doc_id"), "left_semi"))
        noop(k)
        k
      }
    }
    // write side: dedup and emit the canonical documents
    val (pairs, clusters) = op("write", "pass.dedup") {
      val uniq = stage("exact") {
        val keepers = kept.groupBy(md5(col("text").cast("binary")))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val u = Mat.fact(kept.join(keepers, Seq("doc_id"), "left_semi"))
        noop(u)
        u
      }
      val pairs = stage("minhash") {
        Dedup.minhashOf(uniq).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val clusters = stage("clusters") {
        val c = Mat.fact(Dedup.clustersOf(uniq))
        noop(c)
        c
      }
      stage("emit") {
        noop(uniq.join(clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
          Seq("doc_id"), "left_semi"))
      }
      (pairs, clusters)
    }
    // outside the timed region: the rows the checks need
    val merged = clusters.filter(col("doc_id") =!= col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (timed) results += ((pairs, merged))
    if (Trace.on) {
      counts.getOrElseUpdate("minhash_pairs", ArrayBuffer()) += pairs.length
      counts.getOrElseUpdate("cluster_pairs", ArrayBuffer()) += merged.size
      counts.getOrElseUpdate("docs_kept", ArrayBuffer()) +=
        clusters.filter(col("doc_id") === col("cluster_id")).count()
    }
    if (timed) { docsDone += CorpusDocs; passes += 1 }
  }

  def checks(): Unit = {
    val layout = Layout(seed, 0)
    results.foreach { case (pairs, merged) =>
      def clusterOf(d: Long) = merged.getOrElse(d, d)
      val split = layout.clusters.filter(_.map(clusterOf).distinct.size != 1)
      val fused = layout.clusters.size - layout.clusters.map(m => clusterOf(m.head)).distinct.size
      Bench.check(s"every planted cluster is recovered " +
        s"(${split.size} split, e.g. ${split.take(2).map(_.map(clusterOf))}; $fused fused)") {
        split.isEmpty && fused == 0
      }
      val planted = layout.clusters.flatten.toSet
      val strays = merged.keys.filterNot(planted.contains)
      Bench.check(s"no document outside a planted cluster is merged " +
        s"(${strays.size}, e.g. ${strays.take(3)})")(strays.isEmpty)
      Bench.check("every MinHash pair lies inside one cluster") {
        pairs.forall { case (a, b) => clusterOf(a) == clusterOf(b) }
      }
    }
  }

  def items: Double = docsDone.toDouble

  def params: Map[String, Any] = Map(
    "docs" -> CorpusDocs, "clusters" -> Clusters,
    "exact_copy_pairs" -> ExactCopies, "low_quality_docs" -> LowQuality,
    "boilerplate_share" -> BoilerplatePct / 100.0, "vocab" -> Vocab,
    "passes" -> passes, "docs_processed" -> docsDone) ++ measured

  /** Shares measured on the generated data, not taken from the constants. */
  private def measureShares(df: DataFrame): Map[String, Any] = {
    val n = df.count().toDouble
    val hot = df.filter(col("text").contains(Boilerplate)).count()
    val bytes = df.select(sum(length(col("text")))).head().getLong(0)
    val l = Layout(seed, 0)
    Map("measured_boilerplate_doc_share" -> hot / n,
      "measured_near_dup_doc_share" -> l.clusters.map(_.size).sum / n,
      "measured_exact_copy_share" -> ExactCopies / n,
      "corpus_text_bytes" -> bytes)
  }

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    def m(k: String) = Layers.mean(stageMs.getOrElse(k, ArrayBuffer()).toSeq)
    def c(k: String) = Layers.mean(counts.getOrElse(k, ArrayBuffer()).toSeq)
    Map(
      "pipeline.filter_ms" -> m("filter"), "pipeline.exact_ms" -> m("exact"),
      "pipeline.minhash_ms" -> m("minhash"), "pipeline.clusters_ms" -> m("clusters"),
      "pipeline.docs_kept" -> c("docs_kept"), "pipeline.minhash_pairs" -> c("minhash_pairs"),
      "pipeline.cluster_pairs" -> c("cluster_pairs")) ++ kernels()
  }

  /** Kernel passes (traced run only): each codegen'd kernel projected over
    * one shard into noop, minus a pass that projects the input alone.
    */
  private def kernels(): Map[String, Double] = {
    Trace.on = true
    val d = Mat.fact(docs(0).select("doc_id", "text"))
    noop(d)
    def best(f: => Unit): Double = (1 to 3).map(_ => Bench.timeMs(f)._2).min
    val base = best(Trace.span("functions", "kernel.base")(noop(d.select(length(col("text"))))))
    val sh = best(Trace.span("functions", "kernel.shingle")(
      noop(d.select(exprs.shingleHashes(col("text"), 3)))))
    val mh = best(Trace.span("functions", "kernel.minhash")(
      noop(d.select(exprs.minHashBands(exprs.shingleHashes(col("text"), 3), Dedup.Seed, 128, 32)))))
    Trace.on = false
    Mat.beginEntry()
    Map("functions.shingle_ns_per_doc" -> (sh - base) * 1e6 / CorpusDocs,
      "functions.minhash_ns_per_doc" -> (mh - sh) * 1e6 / CorpusDocs)
  }
}

object CorpusDedup {
  val CorpusDocs = 8000
  val WarmDocs = 1000
  val Clusters = 130
  val ExactCopies = 200
  val LowQuality = 270
  val BoilerplatePct = 30
  val Vocab = 20000
  val Edits = 2
  val Boilerplate = "all rights reserved under the terms of use and privacy policy"
  private val Stop = Array("the", "of", "and", "to", "in", "is", "that", "for", "it", "with")

  /** Where each document of a shard plays its role; a pure function of
    * (seed, shard), so the checks can rebuild it on the driver.
    */
  final case class Layout(seed: Long, shard: Int) {
    private val rng = new scala.util.Random(mix(seed, shard, -1))
    /** Planted clusters as lists of doc ids, sizes 2 to 4. */
    val clusters: Seq[Seq[Long]] = {
      var next = 0
      (0 until Clusters).map { _ =>
        val size = 2 + rng.nextInt(3)
        val ids = (next until next + size).map(docId(shard, _))
        next += size
        ids
      }
    }
    val clusterEnd: Int = clusters.map(_.size).sum
  }

  def docId(shard: Int, i: Int): Long = shard.toLong * 10000000L + i

  def mix(seed: Long, a: Long, b: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + a * 0xC2B2AE3D27D4EB4FL + b
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h
  }

  /** A stop word one time in five, otherwise a uniform vocabulary word. */
  private def word(r: scala.util.Random): String =
    if (r.nextInt(100) < 20) Stop(r.nextInt(Stop.length))
    else "w" + Integer.toString(r.nextInt(Vocab), 36)

  private def body(r: scala.util.Random, n: Int): Array[String] = Array.fill(n)(word(r))

  private def render(words: Array[String]): String =
    words.grouped(14).map(_.mkString(" ") + ".").mkString("\n")

  /** Text of document `i` of a shard, given the shard's layout sizes. */
  def text(seed: Long, shard: Int, i: Int, clusterOf: Int => Int): String = {
    val r = new scala.util.Random(mix(seed, shard, i))
    val c = clusterOf(i)
    val words =
      if (c >= 0) {
        // cluster member: the cluster's base text with two words replaced, so
        // members are near (3-shingle Jaccard >= 0.75) but never exact copies
        val base = new scala.util.Random(mix(seed, shard, 1000000L + c))
        val w = body(base, 90 + base.nextInt(120))
        (1 to Edits).foreach(_ => w(r.nextInt(w.length)) = "x" + Integer.toString(r.nextInt(Vocab), 36))
        w
      } else body(r, 60 + r.nextInt(160))
    val t = render(words)
    if (r.nextInt(100) < BoilerplatePct) t + "\n" + Boilerplate + "." else t
  }

  /** One shard as (doc_id, text), generated on the executors. */
  def shardFrame(spark: SparkSession, seed: Long, shard: Int, docs: Int): DataFrame = {
    import spark.implicits._
    val layout = Layout(seed, shard)
    val owner = new Array[Int](layout.clusterEnd)
    layout.clusters.zipWithIndex.foreach { case (ids, c) =>
      ids.foreach(id => owner((id - docId(shard, 0)).toInt) = c) }
    val ownerB = spark.sparkContext.broadcast(owner)
    val cEnd = layout.clusterEnd
    spark.range(0, docs, 1, 8).as[Long].mapPartitions { it =>
      val own = ownerB.value
      def clusterOf(i: Int) = if (i < cEnd) own(i) else -1
      it.map { li =>
        val i = li.toInt
        val id = docId(shard, i)
        val exactStart = cEnd
        val lowStart = exactStart + 2 * ExactCopies
        val t =
          if (i >= exactStart && i < lowStart) {
            // pairs of identical documents
            text(seed, shard, exactStart + ((i - exactStart) / 2) * 2, clusterOf)
          } else if (i >= lowStart && i < lowStart + LowQuality) {
            val r = new scala.util.Random(mix(seed, shard, i))
            if (i % 2 == 0) "too short " + r.nextInt(100)
            else Array.fill(40)("!?" + word(r) + ";;").mkString(" ")
          } else text(seed, shard, i, clusterOf)
        (id, t)
      }
    }.toDF("doc_id", "text")
  }
}
