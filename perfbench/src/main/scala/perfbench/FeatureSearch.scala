package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{Compiler, Dim, Registry, Scoring}
import graft.featurize.Poly
import graft.search.{Exhaustion, GaSelect, GramCV, SymbolicSearch}

/** feature_search: the featurebox flow over a seeded numeric frame. One op
  * is `Poly.transform` (degree 2) -> `GramCV.fitWithFold` -> `Exhaustion`
  * and `GaSelect` over the Grams -> `Scoring.scoreBatch` on a fixed seeded
  * candidate set -> `SymbolicSearch.fit`. Catalyst planning, code
  * generation and in-process linear algebra dominate; shuffle is near zero.
  */
final class FeatureSearch(spark: SparkSession, seed: Long, rows: Long,
    pop: Int, gens: Int) extends Workload {
  import Workload._

  private val features = (0 until 6).map(i => s"x$i")
  private val reg = Registry(terminals =
    features.map(f => f -> (col(f), Dim.dless)).toMap)
  private var frame: DataFrame = _
  private var bestSingle = 0.0
  private var inputS = 0.0
  private var nPoly = 0
  private val fixedCandidates = {
    val rnd = new Random(seed)
    Vector.fill(24)(SymbolicSearch.grow(rnd, reg, 2))
  }
  /** hall of each op seed, as (render, score) */
  private val halls = scala.collection.mutable.Map.empty[Long, Seq[(String, Double)]]
  private val gpCfg = SymbolicSearch.Config(popSize = pop, nGen = gens,
    maxHeight = 2, plateau = gens + 1, reTree = 2)
  private var logbooks = Vector.empty[Seq[SymbolicSearch.GenStats]]

  def itemsMetric: (String, String) = ("candidates_per_s", "candidates/s")
  // Catalyst and the code generator are still warming up after one op
  override def warmOps: Int = 2
  // op time varies with the op's GP seed by 10 to 20 %: the median of three
  // ops, each with its own GP seed, is steadier than one or two
  override def minOps: Int = 3
  def inputSeconds: Double = inputS
  def inputs: Seq[(String, Any)] = Seq("seed" -> seed, "rows" -> rows,
    "features" -> features.size, "poly_features" -> nPoly, "gp_pop" -> pop,
    "gp_gens" -> gens, "fixed_candidates" -> fixedCandidates.size,
    "best_single_r2" -> bestSingle)

  def setup(): Unit = {
    inputS = seconds {
      // seeded LCG features; the planted target is y = x0^2 + 5 x1 + 0.3 x4
      val rnd = new Random(seed)
      def lcg(): org.apache.spark.sql.Column = {
        val mult = 65537L + 2L * rnd.nextInt(1 << 30)
        val inc = rnd.nextInt(1 << 20).toLong
        pmod(col("id") * mult + inc, lit(1048576L)).cast("double") / 1048576.0
      }
      val base = features.foldLeft(spark.range(0, rows).toDF("id"))((d, f) =>
        d.withColumn(f, lcg()))
      frame = base.withColumn("y",
        col("x0") * col("x0") + lit(5.0) * col("x1") + lit(0.3) * col("x4")).cache()
      frame.count()
    }._2
    bestSingle = FeatureSearch.bestSingleR2(frame, features, "y")
  }

  private def opSeed(i: Int): Long = MurmurHash3.productHash((seed, i)).toLong

  def op(i: Int, tr: Tracer): OpRun = {
    tr.op = i
    val (res, wall) = seconds(tr.span("op") {
      val poly = tr.span("featurize.poly") {
        Poly.transform(frame, features.take(2), Seq(0, 1, 2))
      }
      val polyNames = poly.columns.filterNot(c => c == "id" || c == "y" ||
        features.contains(c)).toSeq
      nPoly = polyNames.size
      val grams = tr.span("search.gram") {
        GramCV.fitWithFold(poly, polyNames, "y", 5, Scoring.foldCol(Seq(col("id")), 5))
      }
      tr.span("search.select") {
        Exhaustion.search(grams, Seq(1, 2, 3))
        GaSelect.search(grams, GaSelect.Config(seed = opSeed(i)))
      }
      val compiled = tr.span("expr.compile") {
        fixedCandidates.zipWithIndex.map { case (e, k) => s"k_$k" -> Compiler.compile(e, reg) }
      }
      tr.span("expr.score_batch") { Scoring.scoreBatch(frame, col("y"), compiled) }
      tr.span("search.gp") {
        SymbolicSearch.fit(frame, reg, col("y"), gpCfg.copy(seed = opSeed(i)))
      }
    })
    if (tr.enabled) logbooks :+= res.logbook
    halls(opSeed(i)) = FeatureSearch.hall(res)
    val items = res.logbook.map(_.candidates.toLong).sum
    val ok = res.best.score >= bestSingle - 1e-9
    OpRun(wall, items, ok,
      if (ok) "" else s"best r2 ${res.best.score} below best single feature $bestSingle")
  }

  /** Replays each traced op's search untraced; the hall must not change. */
  override def finish(tr: Tracer): Seq[String] =
    tr.named("op").map(_.op).flatMap { i =>
      val again = FeatureSearch.hall(
        SymbolicSearch.fit(frame, reg, col("y"), gpCfg.copy(seed = opSeed(i))))
      if (again == halls(opSeed(i))) None
      else Some(s"op $i: hall differs between the traced and the untraced search")
    }

  def layerMetrics(tr: Tracer): Seq[Metric] = {
    val n = tr.named("op").size
    def med(name: String) = medianSeconds(tr.named(name))
    def medK(name: String)(f: Counters => Double) =
      Stats.median(tr.named(name).map(tr.counters).map(f))
    val cands = logbooks.map(_.map(_.candidates).sum.toDouble)
    val novel = logbooks.map(_.map(_.compiledNovel).sum.toDouble)
    Seq(
      Metric("featurize.poly_s", med("featurize.poly"), "s", n),
      Metric("search.gram_s", med("search.gram"), "s", n),
      Metric("search.select_s", med("search.select"), "s", n),
      Metric("search.select_jobs", medK("search.select")(_.jobs.toDouble), "count", n),
      Metric("expr.compile_s", med("expr.compile"), "s", n),
      Metric("expr.score_batch_s", med("expr.score_batch"), "s", n),
      Metric("expr.plan_s", medK("expr.score_batch")(_.planMs / 1000), "s", n),
      Metric("search.gp_s", med("search.gp"), "s", n),
      Metric("search.gen1_s", Stats.median(logbooks.map(_.head.millis / 1000.0)), "s", n),
      Metric("search.gen_rest_s",
        Stats.median(logbooks.flatMap(_.tail.map(_.millis / 1000.0))), "s", n),
      Metric("search.compiled_novel", Stats.median(novel), "count", n),
      Metric("search.memo_hit_ratio", 1.0 - novel.sum / math.max(cands.sum, 1.0), "ratio", n))
  }
}

object FeatureSearch {
  def hall(r: SymbolicSearch.Result): Seq[(String, Double)] =
    r.hall.map(i => (i.expr.render, i.score))

  /** Best r² of an OLS fit of `y` on one feature, computed from the
    * collected frame, independently of the program's scoring.
    */
  def bestSingleR2(df: DataFrame, features: Seq[String], y: String): Double = {
    val rows = df.select((features :+ y).map(col): _*).collect()
    val ys = rows.map(_.getDouble(features.size))
    features.indices.map { j =>
      val xs = rows.map(_.getDouble(j))
      val n = xs.length.toDouble
      val mx = xs.sum / n
      val my = ys.sum / n
      var sxy, sxx, syy = 0.0
      xs.indices.foreach { k =>
        val dx = xs(k) - mx; val dy = ys(k) - my
        sxy += dx * dy; sxx += dx * dx; syy += dy * dy
      }
      sxy * sxy / (sxx * syy)
    }.max
  }
}
