package graft.run

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Per-query profiler: time a set of [[graft.SparkEntry]] queries with the
  * `Bench` method (noop sink, one untimed warm pass, min of N timed runs,
  * `Dedup.releaseCache` between runs) and write their times as JSON. Every
  * job carries the query name as its description, so stages and warnings
  * trace to a query. End-to-end and per-layer numbers for the flagship,
  * ingest and search paths come from `perfbench/run.py` instead.
  *
  * Usage: Profile <out.json> <planDir|-> <q1,q2,...|all> [repeats] [k=v,k=v|-]
  *   planDir  writes each query's `explain("formatted")` to `<planDir>/<q>.txt`
  *   k=v      Spark confs set on the session before it starts
  * Env: SPARK_GRAFT_SF_DIR (the generated data directory), SPARK_GRAFT_CPUS.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Profile <out.json> <planDir|-> <q1,q2,...|all> [repeats] [k=v,k=v|-]")
    val Array(outPath, planDir, querySet) = args.take(3)
    val names =
      if (querySet == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else querySet.split(",").toSeq
    val repeats = if (args.length > 3) args(3).toInt else 2
    val confs =
      if (args.length > 4 && args(4) != "-")
        args(4).split(",").toSeq.map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }
      else Nil
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a generated data directory"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = confs.foldLeft(
      graft.core.GraftSession.builder(s"local[$cpus]", 4 * cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.GraftSession.ensureCheckpointDir(spark)

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      force(fn(spark, sfDir))
      graft.text.Dedup.releaseCache()
      val dts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        graft.text.Dedup.releaseCache()
        dt
      }
      if (planDir != "-") {
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        graft.text.Dedup.releaseCache()
        Files.createDirectories(Paths.get(planDir))
        Files.write(Paths.get(planDir, s"$name.txt"), plan.getBytes(UTF_8))
      }
      val all = dts.map(d => f"$d%.3f").mkString("[", ",", "]")
      println(f"[profile] $name min=${dts.min}%.3f all=$all")
      f""""$name":{"min":${dts.min}%.3f,"all":$all}"""
    }
    Files.write(Paths.get(outPath),
      (results.mkString("{", ",", "}") + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
