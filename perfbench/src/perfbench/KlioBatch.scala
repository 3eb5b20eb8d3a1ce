package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.config._
import graft.functions.Dsp
import graft.model.KlioMessage
import graft.runner.KlioPipeline

/** The user transform: an MFCC over a synthetic clip seeded by the
  * element, with failures injected by message id (carried in the
  * payload). A transient failure throws on its first attempt only.
  */
final case class MfccTransform(seed: Long, transient: Set[String],
    permanent: Set[String]) extends (KlioMessage => KlioMessage) {
  def apply(m: KlioMessage): KlioMessage = {
    if (permanent(m.payload))
      throw new IllegalStateException(s"permanent failure ${m.payload}")
    if (transient(m.payload) && FailOnce.first(m.payload))
      throw new IllegalStateException(s"transient failure ${m.payload}")
    val c = Dsp.mfcc(MfccTransform.clip(seed, m.element), 16000.0)
    m.copy(payload = s"${m.payload}|mfcc:${c.length}x${c(0).length}")
  }
}

object MfccTransform {
  val ClipSamples = 4096

  def clip(seed: Long, element: String): Array[Double] = {
    val h = Gen.mix(seed, element.hashCode.toLong)
    val f1 = 80 + (h & 0x3ff).toDouble
    val f2 = 300 + ((h >>> 10) & 0xfff).toDouble
    Array.tabulate(ClipSamples) { i =>
      val t = i / 16000.0
      math.sin(2 * math.Pi * f1 * t) + 0.5 * math.sin(2 * math.Pi * f2 * t)
    }
  }
}

/** Ids whose transient failure already fired (executors share the JVM in
  * local mode).
  */
object FailOnce {
  private val fired = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def first(id: String): Boolean = fired.add(id)
}

/** klio's own job shape: one client in a closed loop, each request one
  * `KlioPipeline.run` over a freshly generated wire-JSON event file,
  * existence-checked against data listings of thousands of files
  * (2,250 inputs, 750 outputs).
  */
final class KlioBatch(c: Ctx, data: KlioModel.Data) extends Workload {
  def this(c: Ctx) = this(c, new KlioModel.Data(c.dir("klio"), new Gen(c.seed, 0), 3000))
  val name = "klio_batch"
  val Msgs = 200
  val Retries = 1
  val Transients = 2
  val Permanents = 1

  private val g = new Gen(c.seed, 1)
  private def listing = data.listing
  private var jobNo = 0

  def setup(): Unit = data.listing

  private def config(evIn: Path, evOut: Path): KlioConfig = KlioConfig(
    version = 2, jobName = KlioModel.Job.jobName,
    gcpProject = KlioModel.Job.gcpProject,
    pipelineOptions = KlioPipelineOptions(streaming = false, Map.empty),
    jobConfig = KlioJobSettings(allowNonKlioMessages = false,
      events = KlioEventsConfig(Seq(KlioIoConfig("wire", evIn.toString)),
        Seq(KlioIoConfig("wire", evOut.toString))),
      data = KlioDataConfig(
        Seq(KlioIoConfig("file", data.dataIn.toString, KlioModel.Suffix)),
        Seq(KlioIoConfig("file", data.dataOut.toString, KlioModel.Suffix)))))

  private final case class JobOut(latency: Double, errors: Seq[String],
      userBytes: Long, summary: KlioPipeline.RunSummary,
      relay: Map[String, Long])

  private def runJob(traced: Boolean): JobOut = {
    val j = jobNo
    jobNo += 1
    val msgs = KlioModel.batch(g, listing, Msgs, f"j$j%05d-", Transients,
      Permanents)
    val evDir = c.dir(f"klio/ev-$j%05d")
    val bytes = Gen.writeLines(evDir.resolve("in/part-00000.json"),
      msgs.map(KlioModel.wire))
    val xf = MfccTransform(c.seed,
      msgs.filter(_.fail == KlioModel.Transient).map(_.id).toSet,
      msgs.filter(_.fail == KlioModel.Permanent).map(_.id).toSet)
    val cfg = config(evDir.resolve("in"), evDir.resolve("out"))
    val (result, lat) = Loop.timed(scala.util.Try(c.tracer.op(f"op-$j%05d") {
      c.tracer.span("runner.run") {
        KlioPipeline.run(c.spark, cfg, xf, retries = Retries)
      }
    }))
    val relay = if (traced) KlioBatch.settle(c.relay, KlioBatch.Relayed)
      else Map.empty[String, Long]
    val (ok, pass, drop) = KlioModel.counts(msgs)
    val summary = result.getOrElse(KlioPipeline.RunSummary(0, 0, 0))
    val errors = result.failed.toOption.map(e => s"job $j threw $e").toSeq ++
      KlioModel.outputErrors(msgs, KlioBatch.readOutput(evDir.resolve("out"))) ++
      (if (result.isFailure || summary == KlioPipeline.RunSummary(ok, pass, drop)) Nil
       else Seq(s"summary $summary, model ($ok, $pass, $drop)")) ++
      (if (traced) KlioModel.retryErrors(relay, msgs, Retries) else Nil)
    Gen.deleteTree(evDir)
    JobOut(lat, errors, bytes, summary, relay)
  }

  def warmup(): Unit = (0 until 2).foreach(_ => runJob(traced = false))

  def measure(seconds: Double): Phase = {
    val fs0 = FsCounters.now()
    val outs = Vector.newBuilder[JobOut]
    // jobs run in fives past the deadline, so a run's sample count does
    // not hinge on whether two or three jobs fit its share of the time
    val (lat, traced, wall) = Loop.until(c, seconds, cycle = 5) { _ =>
      val o = runJob(c.traceRun)
      outs += o
      o.latency
    }
    val res = outs.result()
    val n = res.size.toDouble
    val errs = res.flatMap(_.errors)
    Phase(lat, res.size.toLong * Msgs, wall, res.size.toLong * Msgs,
      res.count(_.errors.nonEmpty).toLong * Msgs, errs,
      res.map(_.userBytes).sum, FsCounters.now() - fs0, res.size.toLong,
      Map(
        "operators.fn_s" -> res.map(_.relay.getOrElse("kmsg-timer-total", 0L))
          .sum / 1e9 / n,
        "operators.retry_attempts" -> res.map(_.relay
          .getOrElse("kmsg-retry-attempt", 0L)).sum / n,
        "operators.routed_process" -> res.map(_.summary.processed).sum / n,
        "operators.routed_pass_thru" -> res.map(_.summary.passedThru).sum / n,
        "operators.routed_drop" -> res.map(_.summary.dropped).sum / n,
        "operators.work_ratio" -> res.map(_.summary.processed).sum /
          (n * Msgs)), traced)
  }

  def close(): Unit = ()
}

object KlioBatch {

  /** Lines of every data file of a Spark text output directory. */
  def readOutput(dir: Path): Seq[(String, String)] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val files = Files.list(dir)
      try files.iterator().asScala.toVector
        .filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
        .filter(_.nonEmpty).map(KlioModel.parseOut)
      finally files.close()
    }

  /** Metrics a traced job reads from the relay. */
  val Relayed: Set[String] = Set("kmsg-timer-total", "kmsg-retry-attempt")

  /** Wait until the relay has reported every metric in `want` and then
    * been quiet for 100 ms (listener events are asynchronous), at most
    * 3 s; then the largest value per metric. A metric still missing is
    * left out, and the checks read it as 0.
    */
  def settle(relay: RecordingRelay, want: Set[String]): Map[String, Long] = {
    val got = Vector.newBuilder[(String, String, Long)]
    val seen = scala.collection.mutable.Set.empty[String]
    val deadline = System.nanoTime() + 3000000000L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (!want.subsetOf(seen) || System.nanoTime() - quietSince < 100000000L)) {
      val d = relay.drain()
      if (d.nonEmpty) {
        got ++= d
        seen ++= d.map(_._2)
        quietSince = System.nanoTime()
      }
      Thread.sleep(10)
    }
    got.result().groupMapReduce(_._2)(_._3)(math.max)
  }
}
