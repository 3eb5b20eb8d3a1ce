package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * `--trace 0` measures the end-to-end metrics with tracing off.
  * `--trace 1` traces every other request and reports the per-layer
  * metrics plus the tracing overhead: the traced requests' median
  * latency minus the untraced ones'.
  */
object Main {

  /** End-to-end metrics (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "work_per_s" -> "unit/s", "lat_p50_s" -> "s",
    "heap_retained_mb" -> "MB")

  /** Per-layer metrics (name, unit); a layer a workload leaves idle
    * reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.unattributed_jobs" -> "count",
    "runner.run_s" -> "s", "runner.jobs_per_run" -> "count",
    "operators.fn_s" -> "s", "operators.retry_attempts" -> "count",
    "operators.routed_process" -> "count",
    "operators.routed_pass_thru" -> "count",
    "operators.routed_drop" -> "count", "operators.work_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.trigger_p50_s" -> "s", "streaming.plan_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.offsets_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.msg_lat_p50_s" -> "s",
    "streaming.gen_late_p90_s" -> "s",
    "io.manifest.entries_s" -> "s", "io.manifest.commit_attempts" -> "count",
    "io.manifest.cas_lost" -> "count", "io.manifest.create_s" -> "s",
    "io.manifest.bytes_latest" -> "B", "io.manifest.versions_live" -> "count",
    "io.schemamemo.read_s" -> "s", "io.plan.fs_read_ops" -> "count",
    "io.skipstats.prune_s" -> "s", "io.skipstats.dirs_considered" -> "count",
    "io.skipstats.dirs_kept" -> "count", "io.skipstats.precision" -> "ratio",
    "io.dsv2.plan_s" -> "s", "io.dsv2.exec_s" -> "s",
    "io.mor.snapshot_s" -> "s", "io.mor.update_s" -> "s",
    "io.mor.delete_s" -> "s",
    "io.mor.fold_s" -> "s", "io.mor.fold_dirs_rewritten" -> "count",
    "io.mor.live_tombstones" -> "count",
    "fs.bytes_written" -> "B", "fs.bytes_read" -> "B",
    "fs.write_ops" -> "count", "fs.read_ops" -> "count",
    "unaccounted_s" -> "s", "trace_overhead_s" -> "s",
    "error_rate" -> "fraction", "write_amp" -> "B/B", "lat_p90_s" -> "s")

  /** Span names whose self time per op is a per-layer `<name>_s`. */
  val SpanMetrics: Set[String] = PerLayer.map(_._1)
    .filter(n => n.endsWith("_s") && !n.startsWith("spark.") &&
      !n.startsWith("streaming."))
    .map(_.stripSuffix("_s")).toSet

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--root")).toAbsolutePath)
  }

  def session(root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, c: Ctx): Workload = name match {
    case "klio_batch" => new KlioBatch(c)
    case "table_read" => new TableRead(c)
    case "table_write" => new TableWrite(c)
    case "table" => new Table(c)
    case "klio" => new Klio(c)
    case "stream_ingest" => new StreamIngest(c)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.root)
    val spark = session(a.root)
    val tracer = new Tracer(spark.sparkContext)
    val jobs = new JobTracker
    val relay = new RecordingRelay
    val ctx = new Ctx(spark, a.root, a.seed, tracer, jobs, relay,
      new CountingCommitter, a.trace)
    if (a.trace) {
      spark.sparkContext.addSparkListener(jobs)
      graft.operators.Metrics.install(spark)
      graft.operators.Metrics.addRelay(relay)
    }
    val w = workload(a.workload, ctx)
    var metrics = Seq.empty[(String, Double, String)]
    var attempted = 0L
    var failed = 0L
    var errors = Seq.empty[String]
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val (_, fixtureS) = Loop.timed(w.setup())
      val (_, warmupS) = Loop.timed(w.warmup())
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(f"perfbench: set-up $setupS%.1f s: session " +
        f"$sessionS%.1f s, fixture $fixtureS%.1f s, warm-up $warmupS%.1f s")
      if (!a.trace) {
        val p = w.measure(a.seconds)
        attempted = p.attempted; failed = p.failed; errors = p.errors
        val values = Map("setup_s" -> setupS, "work_per_s" -> p.workPerS,
          "lat_p50_s" -> p.latP50, "heap_retained_mb" -> heapRetainedMb())
        metrics = EndToEnd.map { case (k, u) => (k, values(k), u) }
        extras(p, w).foreach { case (k, v, u) =>
          println(s"PERFBENCH_METRIC ${a.workload} $k $v $u")
        }
      } else {
        relay.drain()
        ctx.committer.reset()
        jobs.enabled = true
        val p = w.measure(a.seconds)
        jobs.enabled = false
        Thread.sleep(200) // let the listener bus deliver job ends
        attempted = p.attempted; failed = p.failed; errors = p.errors
        val layer = Layers.compute(ctx, p, w)
        metrics = PerLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      }
    } finally {
      w.close()
      spark.stop()
    }
    Gen.deleteTree(a.root)
    if (Files.exists(a.root)) {
      errors :+= s"fixture root ${a.root} left behind"
      failed += 1
    }
    errors.take(20).foreach(e => System.err.println(s"perfbench: error: $e"))
    metrics.foreach { case (k, v, u) =>
      println(s"PERFBENCH_METRIC ${a.workload} $k $v $u")
    }
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, """ +
      s""""attempted": ${math.max(attempted, 1L)}, "failed": $failed, """ +
      s""""metrics": {$m}}""")
    System.exit(0)
  }

  /** Metrics a user reads beside the JSON ones: the error rate, the write
    * amplification (where the workload stores data), and per traffic
    * shape the sample count, the median and the p90 where the shape has
    * the 100 samples it needs.
    */
  def extras(p: Phase, w: Workload): Seq[(String, Double, String)] = {
    val parts = if (p.parts.isEmpty) Seq(w.name -> p) else p.parts
    Seq(("error_rate", p.failed.toDouble / math.max(p.attempted, 1L), "fraction")) ++
      (if (w.writes) Seq(("write_amp", p.fs.bytesWritten.toDouble /
        math.max(p.userBytes, 1L), "B/B")) else Nil) ++
      parts.flatMap { case (n, q) =>
        Seq((s"$n.samples", q.latencies.size.toDouble, "count"),
          (s"$n.work_per_s", q.workPerS, "unit/s"),
          (s"$n.lat_p50_s", q.latP50, "s")) ++
          (if (q.latencies.size >= 100)
            Seq((s"$n.lat_p90_s", Stats.percentile(q.latencies, 0.9), "s"))
          else Nil)
      }
  }

  /** Used heap after full GCs, the lowest of three readings: Spark's
    * context cleaner frees blocks only after a GC has cleared their
    * references, so a second collection a moment later finds less.
    */
  def heapRetainedMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      mx.gc()
      Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
