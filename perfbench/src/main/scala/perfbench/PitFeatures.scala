package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Transcripts
import graft.lake.IcebergLite
import graft.run.Flagship
import graft.temporal.AsOf

/** pit_features: the flagship point-in-time pipeline. One op is
  * `Flagship.run` over seeded synthetic transcripts with the default
  * mega-conversations (1 in 1024 has 8192 turns), written as 32 buckets to
  * a fresh directory. Temporal and lake-write do nearly all the work, on
  * one exchange and one sort, under heavy key skew.
  */
final class PitFeatures(spark: SparkSession, seed: Long, nConvs: Long, work: Path)
    extends Workload {
  import Workload._

  private val tPath = work.resolve("transcripts").toString
  private val sPath = work.resolve("snapshots").toString
  private var turns = 0L
  private var inputS = 0.0
  private var expected = Map.empty[(String, Int), Expected]
  private var sampleIds = Seq.empty[String]

  def itemsMetric: (String, String) = ("turns_per_s", "turns/s")
  // the first two ops of a fresh JVM are 1.5 to 2.5 times slower
  override def warmOps: Int = 2
  def inputSeconds: Double = inputS
  def inputs: Seq[(String, Any)] = Seq("seed" -> seed, "convs" -> nConvs,
    "turns" -> turns, "sample_convs" -> sampleIds.size,
    "sample_turns" -> expected.size)

  def setup(): Unit = {
    inputS = seconds {
      Transcripts.synthesize(spark, nConvs, seed).write.mode("overwrite").parquet(tPath)
      Transcripts.snapshots(spark.read.parquet(tPath)).write.mode("overwrite").parquet(sPath)
    }._2
    turns = spark.read.parquet(tPath).count()
    PitFeatures.checkPrefixes(spark.read.parquet(tPath), spark.read.parquet(sPath))
    // a seeded sample that always holds one mega-conversation
    val rnd = new Random(seed)
    val megas = (nConvs + 1023) / 1024
    val convs = (Seq(1024L * rnd.nextInt(megas.toInt)) ++
      Seq.fill(24)((rnd.nextDouble() * nConvs).toLong)).distinct
    sampleIds = convs.map(c => f"c$c%010d")
    expected = PitFeatures.naive(
      spark.read.parquet(tPath).where(col("conv_id").isin(sampleIds: _*)).collect().toSeq,
      spark.read.parquet(sPath).where(col("conv_id").isin(sampleIds: _*)).collect().toSeq)
  }

  def op(i: Int, tr: Tracer): OpRun = {
    val out = work.resolve(s"out-$i")
    try {
      tr.op = i
      val (rows, wall) = tr.span("op") {
        if (tr.enabled) {
          val t = spark.read.parquet(tPath)
          val s = spark.read.parquet(sPath)
          tr.span("core.scan") { noop(PitFeatures.narrow(t)); noop(s) }
          tr.span("temporal.asof") { noop(PitFeatures.asof(t, s)) }
          tr.span("temporal.windows") { noop(Flagship.pipeline(t, s)) }
        }
        seconds(tr.span("flagship.run") {
          Flagship.run(spark, tPath, sPath, out.toString, nBuckets = 32)._1
        })
      }
      if (tr.enabled) {
        val (b, f) = parquetSize(out)
        lakeBytes :+= b.toDouble
        lakeFiles :+= f.toDouble
      }
      val bad = check(rows, out.toString)
      OpRun(wall, rows, bad.isEmpty, bad.mkString("; "))
    } finally deleteTree(out)
  }

  private var lakeBytes, lakeFiles = Vector.empty[Double]

  private def check(rows: Long, out: String): Seq[String] = {
    val miss = if (rows == turns) Nil else Seq(s"committed $rows turns, synthesized $turns")
    val got = IcebergLite.readTable(spark, out)
      .where(col("conv_id").isin(sampleIds: _*))
      .select("conv_id", "turn_idx", "f_vec", "session_idx", "tool_filled", "lag_1")
      .collect()
    val wrong = got.filter { r =>
      val e = expected.get((r.getString(0), r.getInt(1)))
      !e.contains(Expected(
        Option(r.getSeq[Double](2)).map(_.toVector), r.getLong(3),
        Option(r.getString(4)), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }
    miss ++
      (if (got.length != expected.size)
         Seq(s"sample has ${got.length} rows, expected ${expected.size}") else Nil) ++
      (if (wrong.nonEmpty)
         Seq(s"${wrong.length} sample rows differ from the naive as-of, first ${wrong.head}")
       else Nil)
  }

  def layerMetrics(tr: Tracer): Seq[Metric] = {
    val scan = tr.named("core.scan").map(_.seconds)
    val asof = tr.named("temporal.asof").map(_.seconds)
    val wins = tr.named("temporal.windows").map(_.seconds)
    val full = tr.named("flagship.run")
    val n = full.size
    // each prefix's self time is the difference to the previous prefix
    val selfs = (0 until n).map { k =>
      Seq(scan(k), asof(k) - scan(k), wins(k) - asof(k), full(k).seconds - wins(k))
    }
    def med(i: Int) = Stats.median(selfs.map(_(i)))
    // what the clamped self times leave of the full run, and the traced
    // op's time outside its four prefix spans
    val remainder = Stats.median((0 until n).map(k =>
      full(k).seconds - selfs(k).map(math.max(_, 0.0)).sum)) + 0.0
    val ops = tr.named("op")
    val gap = Stats.median((0 until n).map(k =>
      ops(k).seconds - scan(k) - asof(k) - wins(k) - full(k).seconds))
    val k = full.map(tr.counters)
    def medK(f: Counters => Double) = Stats.median(k.map(f))
    Seq(
      Metric("core.scan_s", med(0), "s", n),
      Metric("temporal.asof_s", med(1), "s", n),
      Metric("temporal.windows_s", med(2), "s", n),
      Metric("lake.write_s", med(3), "s", n),
      Metric("pit.prefix_remainder_s", remainder, "s", n),
      Metric("pit.outside_prefixes_s", gap, "s", n),
      Metric("pit.traced_op_s", medianSeconds(ops), "s", n),
      Metric("temporal.shuffle_write_bytes", medK(_.shuffleWriteBytes.toDouble), "bytes", n),
      Metric("temporal.spill_bytes", medK(_.spillBytes.toDouble), "bytes", n),
      Metric("temporal.sort_ms", medK(_.sortMs.toDouble), "ms", n),
      Metric("temporal.exchanges", medK(_.exchanges.toDouble), "count", n),
      Metric("temporal.task_skew", medK(_.taskSkew), "ratio", n),
      Metric("lake.bytes_written", Stats.median(lakeBytes), "bytes", n),
      Metric("lake.files_written", Stats.median(lakeFiles), "count", n))
  }
}

/** Expected feature values of one turn. */
final case class Expected(fVec: Option[Vector[Double]], sessionIdx: Long,
    toolFilled: Option[String], lag1: Option[Double])

object PitFeatures {
  private val rolesArr = array(Transcripts.roles.map(lit): _*)
  private val toolsArr = array(Transcripts.tools.map(lit): _*)

  /** The pipeline's scan-side projection, as `Flagship.pipeline` makes it. */
  def narrow(t: DataFrame): DataFrame =
    t.withColumn("text_len", length(col("text")).cast("double")).drop("text")
      .withColumn("__role", array_position(rolesArr, col("role")).cast("byte"))
      .withColumn("__tool", array_position(toolsArr, col("tool")).cast("byte"))
      .drop("role", "tool")

  /** The pipeline's prefix up to and including the as-of join. */
  def asof(t: DataFrame, s: DataFrame): DataFrame =
    AsOf.asofJoin(narrow(t), s, key = "conv_id", leftTs = "ts",
      rightTs = "snapshot_ts", tiebreak = "snap_turn_idx", payload = Seq("f_vec"),
      leftTie = Some("turn_idx"), keepOrder = true)

  /** Fails unless the traced prefixes [[narrow]] and [[asof]] are sub-plans
    * of `Flagship.pipeline`, so that their timings stay slices of the
    * program's own pipeline if it changes.
    */
  def checkPrefixes(t: DataFrame, s: DataFrame): Unit = {
    val full = Flagship.pipeline(t, s).queryExecution.analyzed
    Seq("scan" -> narrow(t), "as-of" -> asof(t, s)).foreach { case (name, prefix) =>
      val want = prefix.queryExecution.analyzed.canonicalized
      if (full.find(_.canonicalized == want).isEmpty)
        throw new IllegalStateException(
          s"the traced $name prefix is not a sub-plan of Flagship.pipeline")
    }
  }

  /** The reference the pipeline must match, written the naive way: join
    * every turn to every snapshot of its conversation, keep snapshots with
    * `snapshot_ts <= ts`, take the latest; sessions split at gaps over 30
    * minutes; tools filled from the last non-null; lag_1 is the previous
    * turn's text length.
    */
  def naive(turns: Seq[Row], snaps: Seq[Row]): Map[(String, Int), Expected] = {
    val snapsBy = snaps.groupBy(_.getAs[String]("conv_id"))
    turns.groupBy(_.getAs[String]("conv_id")).toSeq.flatMap { case (conv, rows) =>
      val ordered = rows.sortBy(r =>
        (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Int]("turn_idx")))
      val ss = snapsBy.getOrElse(conv, Nil).map(s =>
        (s.getAs[java.sql.Timestamp]("snapshot_ts").getTime, s.getAs[Int]("snap_turn_idx"),
          s.getAs[scala.collection.Seq[Double]]("f_vec").toVector))
      var session = 0L
      var tool: Option[String] = None
      var prev: Option[Row] = None
      ordered.map { r =>
        val ts = r.getAs[java.sql.Timestamp]("ts").getTime
        val latest = ss.filter(_._1 <= ts).maxByOption(s => (s._1, s._2))
        prev.foreach { p =>
          if (ts - p.getAs[java.sql.Timestamp]("ts").getTime > 1800L * 1000) session += 1
        }
        Option(r.getAs[String]("tool")).foreach(t => tool = Some(t))
        val e = Expected(
          latest.map(_._3),
          session, tool, prev.map(_.getAs[String]("text").length.toDouble))
        prev = Some(r)
        (conv, r.getAs[Int]("turn_idx")) -> e
      }
    }.toMap
  }
}
