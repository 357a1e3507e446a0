package perfbench

import java.nio.file.{Files, Path}

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** What one op reports to the loop. `seconds` is the wall time of the work
  * an untraced op does; a traced op reports the spans of that same work, so
  * the two can be compared for the tracing overhead.
  */
final case class OpRun(seconds: Double, items: Long, ok: Boolean, note: String)

/** One benchmark workload: seeded inputs, a set-up, and a closed-loop op. */
trait Workload {
  /** Name and unit of the workload's own throughput, e.g. turns_per_s. */
  def itemsMetric: (String, String)

  /** Seed and input sizes, known once [[setup]] has run. */
  def inputs: Seq[(String, Any)]

  /** Seconds spent generating and writing the inputs. */
  def inputSeconds: Double

  def setup(): Unit

  /** Untimed ops run after set-up, until the JIT has compiled the op's path. */
  def warmOps: Int = 1

  /** Timed untraced ops a run makes even once its window is over. */
  def minOps: Int = 1

  /** Whether the inputs hold an op number `i` (ingest has one batch a day). */
  def hasOp(i: Int): Boolean = true

  /** Runs op `i`, checks its output (untimed) and reports it. */
  def op(i: Int, tr: Tracer): OpRun

  /** Checks that can only run once the timed window is over. Returns one
    * message per op that failed them.
    */
  def finish(tr: Tracer): Seq[String] = Nil

  /** The workload's own per-layer metrics, from the traced ops' spans. */
  def layerMetrics(tr: Tracer): Seq[Metric]
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (bytes, files) of the parquet files under `p`. */
  def parquetSize(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes, files = 0L
      s.filter(f => f.toString.endsWith(".parquet")).forEach { f =>
        bytes += Files.size(f); files += 1
      }
      (bytes, files)
    } finally s.close()
  }

  /** Median of the span durations, one sample per traced op. */
  def medianSeconds(spans: Seq[Span]): Double = Stats.median(spans.map(_.seconds))

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
