package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.IcebergLite
import graft.text.{Dedup, TextHash}

/** ingest_dedup: daily incremental dedup against a persisted index. Set-up
  * writes the index (with its Bloom blobs); one op is one day: admit the
  * day's batch with `Dedup.dedupIncrementalBloomIndexed`, collect the ids,
  * append the admitted docs to the index. Text-layer similarity joins do
  * most of the work; the lake sees small appends, reads and blob puts.
  */
final class IngestDedup(spark: SparkSession, seed: Long, nIndex: Int,
    batchSize: Int, nBatches: Int, work: Path) extends Workload {
  import Workload._

  private val docsPath = work.resolve("documents").toString
  private val root = work.resolve("index").toString
  private val fpp = Some(0.03)
  private val nBuckets = 16
  private var corpus: Corpus = _
  private var inputS = 0.0
  private lazy val docs = spark.read.parquet(docsPath)
  private def batch(d: Int): DataFrame =
    docs.where(col("batch") === d).select("doc_id", "text", "lang")
  private var admittedSoFar = Vector.empty[DataFrame]

  def itemsMetric: (String, String) = ("docs_per_s", "docs/s")
  def inputSeconds: Double = inputS
  def inputs: Seq[(String, Any)] = Seq("seed" -> seed, "index_docs" -> nIndex,
    "batch_docs" -> batchSize, "batches" -> nBatches) ++ corpus.planted.toSeq.sorted

  def setup(): Unit = {
    inputS = seconds {
      corpus = Corpus.generate(seed, nIndex, batchSize, nBatches)
      import spark.implicits._
      corpus.docs.toDF("doc_id", "text", "lang", "batch")
        .repartition(4).write.mode("overwrite").parquet(docsPath)
    }._2
    Dedup.writeIndex(batch(-1), "doc_id", "text", col("lang"), 3, root,
      nBuckets = nBuckets, bloomFpp = fpp)
  }

  override def hasOp(i: Int): Boolean = i < nBatches

  private var admitted = Vector.empty[Double]
  private var indexRows = Vector.empty[Double]

  def op(i: Int, tr: Tracer): OpRun = {
    tr.op = i
    val b = batch(i)
    val size = b.count()
    val (ids, wall) = tr.span("op") {
      if (tr.enabled) {
        tr.span("lake.index_read") { noop(Dedup.readIndex(spark, root)) }
        tr.span("functions.shingle") {
          noop(b.select(TextHash.sortedShingleHashes(col("text"), 3).as("sh")))
        }
      }
      seconds {
        // ids are collected before the append, which rewrites the index
        val ids = tr.span("text.admit") {
          Dedup.withCache {
            Dedup.dedupIncrementalBloomIndexed(b, root, "doc_id", "text",
              col("lang"), 3, 0.7).collect().map(_.getLong(0)).toSet
          }
        }
        tr.span("lake.append") {
          Dedup.appendIndex(b.where(col("doc_id").isin(ids.toSeq: _*)),
            "doc_id", "text", col("lang"), 3, root, nBuckets = nBuckets, bloomFpp = fpp)
        }
        ids
      }
    }
    if (tr.enabled) {
      admitted :+= ids.size.toDouble
      indexRows :+= IcebergLite.readSnapshot(root).map(_.partitions.values.map(_.rows).sum)
        .getOrElse(0L).toDouble
    }
    // untimed check: the same day from scratch against the corpus so far
    val corpusSoFar = admittedSoFar.foldLeft(batch(-1))(_ unionByName _)
    val recomputed = Dedup.withCache {
      Dedup.dedupIncremental(b, corpusSoFar, "doc_id", "text", col("lang"), 3, 0.7)
        .collect().map(_.getLong(0)).toSet
    }
    admittedSoFar :+= b.where(col("doc_id").isin(ids.toSeq: _*))
    val copies = ids.intersect(corpus.exactCopies)
    val bad =
      (if (ids != recomputed)
         Seq(s"day $i admitted ${ids.size} ids, a from-scratch dedup admits ${recomputed.size}")
       else Nil) ++
      (if (copies.nonEmpty) Seq(s"day $i admitted planted exact copies ${copies.take(5)}")
       else Nil)
    OpRun(wall, size, bad.isEmpty, bad.mkString("; "))
  }

  def layerMetrics(tr: Tracer): Seq[Metric] = {
    val admit = tr.named("text.admit")
    val n = admit.size
    val k = admit.map(tr.counters)
    def medK(f: Counters => Double) = Stats.median(k.map(f))
    Seq(
      Metric("lake.index_read_s", medianSeconds(tr.named("lake.index_read")), "s", n),
      Metric("lake.append_s", medianSeconds(tr.named("lake.append")), "s", n),
      Metric("lake.index_rows", Stats.median(indexRows), "rows", n),
      Metric("functions.shingle_s", medianSeconds(tr.named("functions.shingle")), "s", n),
      Metric("text.admit_s", medianSeconds(admit), "s", n),
      Metric("text.jobs", medK(_.jobs.toDouble), "count", n),
      Metric("text.stages", medK(_.stages.toDouble), "count", n),
      Metric("text.tasks", medK(_.tasks.toDouble), "count", n),
      Metric("text.plan_s", medK(_.planMs / 1000), "s", n),
      Metric("text.shuffle_write_bytes", medK(_.shuffleWriteBytes.toDouble), "bytes", n),
      Metric("text.join_rows", medK(_.joinRows.toDouble), "rows", n),
      Metric("text.admitted", Stats.median(admitted), "docs", n))
  }
}

/** A seeded document corpus shaped like the repo's `documents` test table:
  * five `lang` blocks (en most common), 10 to 100 tokens a doc, and fixed
  * planted shares of exact and near copies (one token replaced in a doc of
  * at least 30 tokens, Jaccard of character 3-grams well above 0.7) of
  * index docs and of earlier docs of the same batch. A copy always gets a
  * larger id than its source, so a planted exact copy is never the one a
  * dedup keeps.
  */
final case class Corpus(docs: Seq[(Long, String, String, Int)],
    exactCopies: Set[Long], planted: Map[String, Int])

object Corpus {
  private val langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  def generate(seed: Long, nIndex: Int, batchSize: Int, nBatches: Int): Corpus = {
    val rnd = new Random(seed)
    val vocab = Vector.fill(400)(
      Vector.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    def lang(): String = {
      var u = rnd.nextDouble()
      langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(langs.last)._1
    }
    def fresh(): (Vector[String], String) =
      (Vector.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))), lang())
    def near(src: (Vector[String], String)): (Vector[String], String) = {
      val (toks, l) = src
      (toks.updated(rnd.nextInt(toks.size), vocab(rnd.nextInt(vocab.size))), l)
    }
    var nextId = 0L
    val out = Vector.newBuilder[(Long, String, String, Int)]
    val exact = Set.newBuilder[Long]
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def emit(d: (Vector[String], String), batch: Int): Unit = {
      out += ((nextId, d._1.mkString(" "), d._2, batch)); nextId += 1
    }
    val index = Vector.fill(nIndex)(fresh())
    index.foreach(emit(_, -1))
    val longIndex = index.filter(_._1.size >= 30)
    for (b <- 0 until nBatches) {
      var sofar = Vector.empty[(Vector[String], String)]
      for (_ <- 0 until batchSize) {
        val u = rnd.nextDouble()
        val longSibs = sofar.filter(_._1.size >= 30)
        val (d, kind) =
          if (u < 0.05) (index(rnd.nextInt(index.size)), "planted_exact_index")
          else if (u < 0.10) (near(longIndex(rnd.nextInt(longIndex.size))), "planted_near_index")
          else if (u < 0.13 && sofar.nonEmpty)
            (sofar(rnd.nextInt(sofar.size)), "planted_exact_sibling")
          else if (u < 0.16 && longSibs.nonEmpty)
            (near(longSibs(rnd.nextInt(longSibs.size))), "planted_near_sibling")
          else (fresh(), "fresh")
        counts(kind) += 1
        if (kind.startsWith("planted_exact")) exact += nextId
        sofar :+= d
        emit(d, b)
      }
    }
    Corpus(out.result(), exact.result(), counts.toMap)
  }
}
