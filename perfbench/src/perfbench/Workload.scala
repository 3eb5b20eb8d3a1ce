package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload run shares with the harness. */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long,
    val tracer: Tracer, val jobs: JobTracker, val relay: RecordingRelay,
    val committer: CountingCommitter, val traceRun: Boolean) {
  /** In a traced run, every other request is traced, so the traced and
    * untraced latencies share the same warm-up drift.
    */
  def traceRequest(i: Int): Unit = tracer.enabled = traceRun && i % 2 == 1

  def dir(name: String): Path = root.resolve(name)
  /** The benchmark's own Spark work (model checks) runs under this
    * group, so it is never attributed to an op.
    */
  def check[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-check", "model check", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }
}

/** One measured phase. Latencies are seconds per request; `units` are
  * the completed work units `work_per_s` divides by the wall time.
  * `userBytes` is what the workload handed the program to store; `fs`
  * the Hadoop FS traffic of the phase outside the model checks.
  * `layer` carries the per-layer values only the workload can see.
  */
final case class Phase(latencies: Seq[Double], units: Long, wallS: Double,
    attempted: Long, failed: Long, errors: Seq[String], userBytes: Long,
    fs: FsCounters, ops: Long, layer: Map[String, Double] = Map.empty,
    traced: Seq[Boolean] = Seq.empty, parts: Seq[(String, Phase)] = Seq.empty,
    latencyParts: Set[String] = Set.empty) {
  /** Median latency. Combined phases report the geometric mean of the
    * medians of their `latencyParts`, so each moves it by its own share
    * whatever the mix of request counts.
    */
  def latP50: Double = {
    val ps = parts.filter(p => latencyParts(p._1))
    if (ps.isEmpty) Stats.median(latencies)
    else math.exp(ps.map(p => math.log(p._2.latP50)).sum / ps.size)
  }
  /** p90 latency where a phase has the 100 samples it needs; combined
    * phases report the geometric mean over those that do.
    */
  def latP90: Option[Double] = {
    val ps = if (parts.isEmpty) Seq(this) else parts.map(_._2)
    val p90s = ps.filter(_.latencies.size >= 100)
      .map(p => Stats.percentile(p.latencies, 0.9))
    if (p90s.isEmpty) None
    else Some(math.exp(p90s.map(math.log).sum / p90s.size))
  }
  /** Completed units per second. Combined phases report the geometric
    * mean of their rates, for the same reason as [[latP50]].
    */
  def workPerS: Double =
    if (parts.isEmpty) units / wallS
    else math.exp(parts.map(p => math.log(p._2.workPerS)).sum / parts.size)
  /** Traced minus untraced median latency (mean over combined phases). */
  def traceOverhead: Double =
    if (parts.nonEmpty) Stats.mean(parts.map(_._2.traceOverhead))
    else if (tracedLatencies.isEmpty || untracedLatencies.isEmpty) 0.0
    else Stats.median(tracedLatencies) - Stats.median(untracedLatencies)
  def tracedLatencies: Seq[Double] =
    latencies.zip(traced).collect { case (l, true) => l }
  def untracedLatencies: Seq[Double] =
    latencies.zip(traced).collect { case (l, false) => l }
}

object Phase {

  /** Phases that each ran a different request mix, as one. `latency`
    * names the phases whose median enters [[Phase.latP50]].
    */
  def combine(ps: Seq[(String, Phase)], layer: Map[String, Double],
      latency: Set[String]): Phase = {
    val parts = ps.map(_._2)
    Phase(
      parts.flatMap(_.latencies), parts.map(_.units).sum,
      parts.map(_.wallS).sum, parts.map(_.attempted).sum,
      parts.map(_.failed).sum, parts.flatMap(_.errors),
      parts.map(_.userBytes).sum,
      parts.map(_.fs).foldLeft(FsCounters.zero)(_ + _), parts.map(_.ops).sum,
      layer, parts.flatMap(_.traced), parts = ps, latencyParts = latency)
  }
}

trait Workload {
  def name: String
  /** Build the fixture through the program's public write paths. */
  def setup(): Unit
  /** Untimed requests that let caches fill and code paths compile. */
  def warmup(): Unit
  def measure(seconds: Double): Phase
  def close(): Unit
  /** Whether the workload stores user data (write_amp applies). */
  def writes: Boolean = true
}

/** Closed-loop driver: runs `step` until the deadline, then on to a
  * whole number of `cycle`s of requests; each step returns its request
  * latency in seconds. Returns the latencies, whether each request was
  * traced, and the wall time of the loop.
  */
object Loop {
  def until(c: Ctx, seconds: Double, cycle: Int = 1)(step: Int => Double)
      : (Seq[Double], Seq[Boolean], Double) = {
    val lat = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Boolean]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % cycle != 0) {
      c.traceRequest(i)
      traced += c.tracer.enabled
      lat += step(i)
      i += 1
    }
    c.traceRequest(0)
    (lat.result(), traced.result(), (System.nanoTime() - t0) / 1e9)
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
