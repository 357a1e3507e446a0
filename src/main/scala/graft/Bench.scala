package graft

import org.apache.spark.sql.SparkSession

/** Driver benchmark: per-query wall times over SPARK_GRAFT_SF_DIR plus the
  * flagship as-of+window transcript pipeline (turns/sec — the north-rule
  * headline metric). Prints ONE JSON line.
  */
object Bench {

  /** Force full execution: count() can elide projections, so route rows
    * through the noop sink instead.
    */
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // default the synthetic-input/output dir to tmpfs when present: the
    // sandbox's shared virtio disk adds ±30% writeback noise that measures
    // the box, not the engine (protocol: BASELINE.md §4); override with
    // SPARK_GRAFT_BENCH_DIR to bench against real disks
    val tmpfsDefault =
      if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graftbench"
      else "/root/repo/target/bench"
    val benchBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", tmpfsDefault)
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "80000").toLong
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "1").toInt
    // min-of-N timed repeats per query: twice now a single timed pass
    // recorded contention-inflated numbers on this shared box that a warm
    // re-profile contradicted — the per-query MIN of 2 repeats is robust to
    // one-off host noise for ~60s extra total (protocol: BASELINE.md §4)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPEATS", "2").toInt.max(1)
    val spark = graft.core.GraftSession.local(cpus)

    // untimed warm pass per query so the timed numbers measure the engine's
    // steady state, not first-run JIT/codegen compilation (protocol as in
    // BASELINE.md §4; "warmups" is reported in the JSON)
    (1 to warmups).foreach { _ =>
      SparkEntry.queries.foreach { case (_, fn) =>
        try force(fn(spark, sfDir)) catch { case _: Throwable => }
        graft.text.Dedup.releaseCache()
      }
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val dts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, sfDir)); true }
          catch { case t: Throwable =>
            System.err.println(s"[bench] $name: ${t.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        // bound cache growth across the query loop (prep frames are scoped
        // to one query; releasing them is untimed bookkeeping)
        graft.text.Dedup.releaseCache()
        (dt, ok)
      }
      // a failed repeat fails FAST — letting it win the min would record a
      // fantasy time; only successful repeats count (all-failed: keep the
      // wall time so the total still reflects the time spent, stderr has
      // the errors)
      val good = dts.filter(_._2)
      name -> (if (good.nonEmpty) good.map(_._1).min else dts.map(_._1).min)
    }

    // flagship transcript pipeline (input synthesized once, reused);
    // untimed warm pass first, then the measured run
    val (tPath, sPath) = graft.run.Flagship.ensureData(spark, benchBase, nConvs)
    (1 to warmups).foreach { _ =>
      graft.run.Flagship.run(spark, tPath, sPath,
        s"$benchBase/warm_cpus$cpus", nBuckets = 32)
    }
    val (rows, ms, tps) = graft.run.Flagship.run(
      spark, tPath, sPath, s"$benchBase/out_cpus$cpus", nBuckets = 32)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      s"""{"metric":"flagship asof+window turns/sec","value":${tps.toLong},""" +
        s""""unit":"turns/sec","queries":$qs,"sf":"$sfDir",""" +
        s""""flagship_rows":$rows,"flagship_sec":${ms / 1000.0},""" +
        s""""query_total_sec":${f"$total%.2f"},"cpus":$cpus,""" +
        s""""warmups":$warmups,"repeats":$repeats}"""
    println(json)
    // ALSO persist the full map as a file: the round-4 log capture
    // truncated the (long) stdout line, losing q01-q24's times — the file
    // is the machine-readable artifact per-query diffs read.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LATEST.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case t: Throwable =>
      System.err.println(s"[bench] BENCH_LATEST.json write failed: ${t.getMessage}") }
    spark.stop()
  }
}
