package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** The benchmark's JVM side. `perfbench/run.py` builds the program and
  * starts this with:
  *
  * {{{
  *   --workload <pit_features|ingest_dedup|feature_search> --seed <n>
  *   --seconds <s> --trace <0|1> --cpus <n> --size <full|toy>
  *   --spans <file>
  * }}}
  *
  * It generates the workload's inputs from the seed, sets up, runs the
  * workload's untimed warm ops, then runs ops one at a time (closed loop, one client)
  * until `--seconds` have passed, checking every op's output. The last
  * line of stdout is one JSON object: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. A traced run alternates untraced and
  * traced ops so that the tracing overhead is measured in the same run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val window = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val toy = a.getOrElse("size", "full") == "toy"
    val work = Paths.get("data").toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val (spark, sessionS) = Workload.seconds(GraftSession.local(cpus))
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)

    val w: Workload = name match {
      case "pit_features" =>
        new PitFeatures(spark, seed, if (toy) 2048L else 8192L, work)
      case "ingest_dedup" =>
        if (toy) new IngestDedup(spark, seed, 300, 60, 4, work)
        else new IngestDedup(spark, seed, 1000, 120, 10, work)
      case "feature_search" =>
        if (toy) new FeatureSearch(spark, seed, 2000L, 48, 3)
        else new FeatureSearch(spark, seed, 20000L, 48, 5)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, setupOnlyS) = Workload.seconds(w.setup())

    val tracer = new Tracer(spark, listener, enabled = trace)
    val off = new Tracer(spark, listener, enabled = false)
    var attempted, failed = 0
    // the old-generation peak within an op, printed only: it holds garbage
    // G1 promoted but has not yet marked, up to its marking threshold
    var lastPeakMb = 0.0
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen"))
    def run(i: Int, tr: Tracer): Option[OpRun] = {
      attempted += 1
      oldGen.foreach(_.resetPeakUsage())
      val r =
        try Some(w.op(i, tr))
        catch { case e: Exception => println(s"op $i threw $e"); None }
      lastPeakMb = oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0
      r.foreach(x => println(f"op $i ${if (tr.enabled) "traced" else "untraced"} " +
        f"${x.seconds}%.4f s items ${x.items} old-gen peak $lastPeakMb%.1f MiB"))
      r.filterNot(_.ok).foreach(x => println(s"op $i failed its check: ${x.note}"))
      if (!r.exists(_.ok)) failed += 1
      // every op starts from the same collected heap
      System.gc()
      r
    }

    val (_, warmS) = Workload.seconds((0 until w.warmOps).foreach(run(_, off)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    println(f"setup: jvm+session ${setupS - setupOnlyS - warmS}%.2fs (session $sessionS%.2fs) " +
      f"inputs ${w.inputSeconds}%.2fs set-up ${setupOnlyS - w.inputSeconds}%.2fs " +
      f"warm ops ${w.warmOps} $warmS%.2fs")
    val t0 = System.nanoTime()
    val untraced, traced = Vector.newBuilder[OpRun]
    val untracedPeaks = Vector.newBuilder[Double]
    var i = w.warmOps
    var nUntraced, nTraced = 0
    // a run times at least minOps untraced ops, and a traced run at least one
    // traced op, however long they take
    while (w.hasOp(i) && ((System.nanoTime() - t0) / 1e9 < window ||
        nUntraced < w.minOps || trace && nTraced == 0)) {
      val useTrace = trace && (i - w.warmOps) % 2 == 1
      if (useTrace) nTraced += 1 else nUntraced += 1
      run(i, if (useTrace) tracer else off).foreach { r =>
        (if (useTrace) traced else untraced) += r
        if (!useTrace) untracedPeaks += lastPeakMb
      }
      i += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val retainedMb = settledHeapMb()
    val late = w.finish(tracer)
    late.foreach(m => println(s"failed a check after the window: $m"))
    failed += late.size
    tracer.drain()

    val u = untraced.result()
    val t = traced.result()
    println(s"workload $name seed $seed cpus $cpus window ${window}s measured " +
      f"$measured%.2fs ops ${u.size + t.size} (traced ${t.size}) + ${w.warmOps} warm")
    println("inputs " + w.inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(s"error_rate ${failed.toDouble / attempted} ratio ($failed failed of $attempted)")

    val (itemsName, itemsUnit) = w.itemsMetric
    val e2e = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_s", Stats.median(u.map(_.seconds)), "s", u.size),
      Metric("items_per_s", Stats.median(u.map(r => r.items / r.seconds)), "items/s", u.size),
      Metric("retained_heap_mb", retainedMb, "MiB", attempted))
    e2e.foreach(m => show(if (m.name == "items_per_s") m.copy(name = itemsName, unit = itemsUnit) else m))
    // printed only: both read the JVM's heap policy more than the program
    show(Metric("peak_heap_mb", Stats.median(untracedPeaks.result()), "MiB", u.size))
    show(Metric("peak_rss_mb", peakRssMb(), "MiB", 1))
    println(f"op_s_max ${u.map(_.seconds).maxOption.getOrElse(Double.NaN)}%.4f s (n=${u.size})")

    val layers = if (!trace) Nil else {
      val ops = tracer.named("op")
      val k = ops.map(tracer.counters)
      val n = ops.size
      def medK(f: Counters => Double) = Stats.median(k.map(f))
      val wall = ops.map(_.seconds).sum
      val core = Seq(
        Metric("core.session_s", sessionS, "s", 1),
        Metric("core.input_s", w.inputSeconds, "s", 1),
        Metric("core.plan_s", medK(_.planMs / 1000), "s", n),
        Metric("core.jobs", medK(_.jobs.toDouble), "count", n),
        Metric("core.stages", medK(_.stages.toDouble), "count", n),
        Metric("core.tasks", medK(_.tasks.toDouble), "count", n),
        Metric("core.shuffle_write_bytes", medK(_.shuffleWriteBytes.toDouble), "bytes", n),
        Metric("core.cpu_busy_ratio", k.map(_.cpuNs).sum / 1e9 / (wall * cpus), "ratio", n),
        Metric("core.gc_s", ops.map(_.gcMs).sum / 1000.0 / n, "s", n),
        Metric("core.trace_ratio",
          Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)), "ratio", n))
      // printed only: failed tasks are 0 on a healthy run and fetch wait is
      // near 0 outside pit_features, so neither compares runs by ratio
      val printed = Seq(
        Metric("core.failed_tasks", k.map(_.failedTasks).sum.toDouble, "count", n),
        Metric("core.fetch_wait_s", k.map(_.fetchWaitMs).sum / 1000.0 / n, "s", n))
      (core ++ printed).foreach(show)
      w.layerMetrics(tracer).foreach(show)
      tracer.dump(Paths.get(a("spans")),
        s"""{"workload":"$name","seed":$seed,"cpus":$cpus,""" +
          w.inputs.map { case (k2, v) => s""""$k2":"$v"""" }.mkString(",") + "}")
      core
    }
    spark.stop()

    val reported = if (trace) layers else e2e
    reported.filter(m => m.value.isNaN || m.value.isInfinite).foreach { m =>
      println(s"no value for ${m.name}: too few ops in the window")
      sys.exit(3)
    }
    val metrics = reported.map(m => s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }

  private def show(m: Metric): Unit =
    println(f"metric ${m.name}%-30s ${m.value}%16.6f ${m.unit}%-12s n=${m.n}")

  /** Heap in use once full collections stop freeing anything: what the
    * program keeps after its ops. Spark's cleaner frees the state of
    * collected frames only after a collection, so collect until it settles.
    */
  private def settledHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    Thread.sleep(200)
    var cur = collect()
    var rounds = 0
    while (cur < prev - 1 && rounds < 5) {
      prev = cur
      Thread.sleep(200)
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** VmHWM of this JVM. In local mode the executors run inside it. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}
