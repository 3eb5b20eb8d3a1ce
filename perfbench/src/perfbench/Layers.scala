package perfbench

/** Per-layer metrics of a traced phase, from the spans the benchmark
  * recorded around its calls, the Spark jobs the listener saw, the
  * counting committer and the FS statistics.
  */
object Layers {

  /** Spans that wrap a whole pipeline run and so say nothing about where
    * an op's time goes: `unaccounted_s` does not count them as covered.
    * Until the program traces inside `KlioPipeline.run`, a `klio_batch`
    * op's unaccounted time is the driver time its Spark jobs leave.
    */
  val Opaque: Set[String] = Set("runner.run")

  def compute(c: Ctx, p: Phase, w: Workload): Map[String, Double] = {
    val spans = c.tracer.all
    val ops = spans.filter(_.parent == 0L)
    val nOps = math.max(p.ops, 1L).toDouble
    val windows = scala.jdk.CollectionConverters.MapHasAsScala(
      c.tracer.opWindows).asScala.toMap
    val (byOp, unattributed) = Attribution.attribute(c.jobs.snapshot(), windows)
    // listener times are wall-clock ms; spans are nanoTime
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def nanos(ms: Long) = ms * 1000000L - offset
    val self = SpanMath.selfTimes(spans)
    val spanSelf: Map[String, Double] = spans.filter(_.parent != 0L)
      .groupBy(_.name).collect {
        case (n, ss) if Main.SpanMetrics(n) =>
          (n + "_s") -> ss.map(s => self(s.id)).sum / 1e9 / ss.size
      }
    val kids = spans.groupBy(_.op)
    val perOp = ops.map { o =>
      val js = byOp.getOrElse(o.op, Seq.empty).filter(_.end >= 0)
      val jobIv = js.map(j => (nanos(j.start), nanos(j.end)))
      val layerIv = kids.getOrElse(o.op, Seq.empty)
        .filter(s => s.parent != 0L && !Opaque(s.name))
        .map(s => (s.start, s.end))
      val clip = (iv: Seq[(Long, Long)]) =>
        iv.map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) }
      val busy = SpanMath.covered(clip(jobIv))
      val covered = SpanMath.covered(clip(jobIv ++ layerIv))
      (js, busy / 1e9, (o.dur - busy) / 1e9, (o.dur - covered) / 1e9)
    }
    val nSpanOps = math.max(perOp.size, 1).toDouble
    val allJobs = perOp.flatMap(_._1)
    val runs = spans.count(_.name == "runner.run")
    val runJobs = if (runs == 0) 0.0 else allJobs.size.toDouble / runs
    val fs = p.fs
    val sparkLayer: Map[String, Double] =
      if (perOp.isEmpty) Map.empty
      else Map(
        "spark.jobs_per_op" -> allJobs.size / nSpanOps,
        "spark.tasks_per_op" -> allJobs.map(_.tasks).sum / nSpanOps,
        "spark.job_busy_s" -> perOp.map(_._2).sum / nSpanOps,
        "spark.driver_gap_s" -> perOp.map(_._3).sum / nSpanOps,
        "spark.shuffle_bytes" -> allJobs.map(_.shuffleBytes).sum / nSpanOps,
        "spark.spill_bytes" -> allJobs.map(_.spillBytes).sum / nSpanOps,
        "unaccounted_s" -> perOp.map(_._4).sum / nSpanOps)
    val commits = c.committer
    val common = Map(
      "spark.unattributed_jobs" -> unattributed.toDouble,
      "runner.jobs_per_run" -> runJobs,
      "io.manifest.commit_attempts" -> commits.attempts.sum / nOps,
      "io.manifest.cas_lost" -> commits.lost.sum.toDouble,
      "io.manifest.create_s" -> commits.nanos.sum / 1e9 / nOps,
      "fs.bytes_written" -> fs.bytesWritten / nOps,
      "fs.bytes_read" -> fs.bytesRead / nOps,
      "fs.write_ops" -> fs.writeOps / nOps,
      "fs.read_ops" -> fs.readOps / nOps,
      "trace_overhead_s" -> p.traceOverhead,
      "error_rate" -> p.failed.toDouble / math.max(p.attempted, 1L),
      "write_amp" -> (if (w.writes) fs.bytesWritten.toDouble /
        math.max(p.userBytes, 1L) else 0.0),
      "lat_p90_s" -> p.latP90.getOrElse(0.0))
    common ++ sparkLayer ++ spanSelf ++ p.layer
  }
}
