package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.config._
import graft.model.KlioMessage
import graft.operators.{HandleKlio, Metrics}
import graft.streaming.StreamingPipeline

/** `StreamingPipeline.run` over a watched directory, in two phases. In
  * the latency phase one generator thread publishes files open-loop at a
  * fixed rate well under saturation; each message's latency runs from
  * its scheduled send time until its output file is visible. In the
  * drain phase a staged backlog lands at once and `work_per_s` is the
  * rate its micro-batches process it at; its files are large enough that
  * a micro-batch outlasts the 1 s trigger.
  */
final class StreamIngest(c: Ctx, data: KlioModel.Data) extends Workload {
  def this(c: Ctx) = this(c, new KlioModel.Data(c.dir("stream"), new Gen(c.seed, 0), 3000))
  val name = "stream_ingest"
  val FilesPerSecond = 4
  val MsgsPerFile = 15
  val DrainFiles = 24
  val DrainMsgsPerFile = 200
  val MaxWaitNs = 30000000000L

  private val s = c.spark
  private val g = new Gen(c.seed, 3)
  private val input = c.dir("stream/input")
  private val staged = c.dir("stream/staged")
  private val output = c.dir("stream/output")
  private def listing = data.listing
  private var query: StreamingQuery = _
  private var fileNo = 0

  /** Output files already read, and when each message became visible. */
  private val readFiles = ConcurrentHashMap.newKeySet[String]()
  private val visible = new ConcurrentHashMap[String, java.lang.Long]()
  private val outputs = new ConcurrentHashMap[String, (String, String)]()
  private val duplicates = new java.util.concurrent.atomic.AtomicInteger
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()

  /** Read the output files that appeared since the last scan; their
    * messages became visible now. Runs after every progress report.
    */
  private def scanOutput(): Unit = synchronized {
    val now = System.nanoTime()
    val files = Files.list(output)
    val fresh = try files.iterator().asScala.map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") && readFiles.add(n))
      .toVector
    finally files.close()
    fresh.foreach { f =>
      Files.readAllLines(output.resolve(f)).asScala.filter(_.nonEmpty)
        .map(KlioModel.parseOut).foreach { case (e, p) =>
          val id = p match {
            case KlioModel.ProcessedPayload(i) => i
            case i => i
          }
          visible.putIfAbsent(id, now)
          if (outputs.put(id, (e, p)) != null) duplicates.incrementAndGet()
        }
    }
  }

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e)
      scanOutput()
    }
  }

  private def config: KlioConfig = KlioConfig(
    version = 2, jobName = KlioModel.Job.jobName,
    gcpProject = KlioModel.Job.gcpProject,
    pipelineOptions = KlioPipelineOptions(streaming = true, Map.empty),
    jobConfig = KlioJobSettings(allowNonKlioMessages = false,
      events = KlioEventsConfig(Seq.empty, Seq.empty),
      data = KlioDataConfig(
        Seq(KlioIoConfig("file", data.dataIn.toString, KlioModel.Suffix)),
        Seq(KlioIoConfig("file", data.dataOut.toString, KlioModel.Suffix)))))

  def setup(): Unit = {
    data.listing
    Seq(input, staged, output).foreach(Files.createDirectories(_))
    s.streams.addListener(listener)
    val seed = c.seed
    val transform: DataFrame => DataFrame = { df =>
      import df.sparkSession.implicits._
      HandleKlio.ok(Metrics.timed(HandleKlio(df.as[KlioMessage],
        MfccTransform(seed, Set.empty, Set.empty)),
        "perfbench-stream-transform")).toDF()
    }
    query = StreamingPipeline.run(s, config, input.toString,
      output.toString, c.dir("stream/checkpoint").toString, transform).start()
  }

  private final case class Sent(msgs: Seq[KlioModel.Msg], schedNs: Long,
      lateNs: Long)

  /** Write one file of `n` messages into the staging directory. */
  private def stage(n: Int): (Path, IndexedSeq[KlioModel.Msg]) = {
    val f = fileNo
    fileNo += 1
    val msgs = KlioModel.batch(g, listing, n, f"f$f%05d-", 0, 0)
    val p = staged.resolve(f"events-$f%05d.json")
    Gen.writeLines(p, msgs.map(KlioModel.wire))
    (p, msgs)
  }

  /** Publish a staged file: one atomic rename into the watched directory. */
  private def publish(p: Path): Unit =
    Files.move(p, input.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)

  private def batches(): Seq[StreamIngest.Batch] =
    progress.asScala.toSeq.map(_.progress).map(p => StreamIngest.Batch(
      p.batchId, p.numInputRows, Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)))

  private def expectedIds(msgs: Seq[KlioModel.Msg]): Seq[String] =
    msgs.filter(_.kind.route != KlioModel.Drop).map(_.id)

  private def await(ids: Seq[String]): Boolean = {
    val deadline = System.nanoTime() + MaxWaitNs
    while (System.nanoTime() < deadline && !ids.forall(visible.containsKey))
      Thread.sleep(20)
    ids.forall(visible.containsKey)
  }

  /** Wait until the progress reports since the last `progress.clear()`
    * account for `rows` input rows: a batch's output can be visible before
    * its report arrives.
    */
  private def awaitReports(rows: Long): Boolean = {
    val deadline = System.nanoTime() + MaxWaitNs
    def reported = batches().map(_.rows).sum
    while (System.nanoTime() < deadline && reported < rows) Thread.sleep(20)
    reported == rows
  }

  def warmup(): Unit = {
    progress.clear()
    val (p1, m1) = stage(DrainMsgsPerFile)
    val (p2, m2) = stage(MsgsPerFile)
    publish(p1); publish(p2)
    require(await(expectedIds(m1 ++ m2)) && awaitReports(m1.size + m2.size),
      "warm-up batch never became visible")
  }

  def measure(seconds: Double): Phase = {
    val all = mutable.ArrayBuffer.empty[KlioModel.Msg]
    progress.clear()
    val fs0 = FsCounters.now()
    // latency phase (the measured seconds): open loop at a fixed rate;
    // in a traced run the first half is untraced, the second traced
    val latencyS = seconds
    val nFiles = math.max((latencyS * FilesPerSecond).toInt, 1)
    val intervalNs = 1000000000L / FilesPerSecond
    val files = (0 until nFiles).map(_ => stage(MsgsPerFile))
    val sent = mutable.ArrayBuffer.empty[Sent]
    val t0 = System.nanoTime() + 50000000L
    var tracedFromMs = Long.MaxValue
    if (c.traceRun) c.jobs.enabled = false
    files.zipWithIndex.foreach { case ((p, msgs), i) =>
      val sched = t0 + i * intervalNs
      if (c.traceRun && i == nFiles / 2) {
        c.jobs.enabled = true
        tracedFromMs = System.currentTimeMillis()
      }
      while (System.nanoTime() < sched) Thread.sleep(1)
      publish(p)
      sent += Sent(msgs, sched, System.nanoTime() - sched)
    }
    all ++= files.flatMap(_._2)
    await(expectedIds(all.toSeq))
    val reported = awaitReports(all.size)
    val latTraced = sent.toSeq.zipWithIndex.flatMap { case (st, i) =>
      expectedIds(st.msgs).flatMap(id => Option(visible.get(id)))
        .map(v => ((v - st.schedNs) / 1e9, c.traceRun && i >= nFiles / 2))
    }
    val late = sent.toSeq.flatMap(st => Seq.fill(st.msgs.size)(st.lateNs / 1e9))
    // drain phase: a staged backlog lands at once; every batch after the
    // last one reported so far belongs to it, including one whose trigger
    // started just before the backlog landed
    val backlog = (0 until DrainFiles).map(_ => stage(DrainMsgsPerFile))
    val lastBefore = StreamIngest.lastReported(batches())
    backlog.foreach(b => publish(b._1))
    val drainMsgs = backlog.flatMap(_._2)
    all ++= drainMsgs
    val drained = await(expectedIds(drainMsgs)) && awaitReports(all.size)
    val (drainBusyS, drainErrors) =
      StreamIngest.drain(batches(), lastBefore, drainMsgs.size)
    val fs = FsCounters.now() - fs0
    c.jobs.enabled = c.traceRun
    scanOutput()
    val ids = all.map(_.id).toSet
    val errors = KlioModel.outputErrors(all.toSeq, outputs.asScala.toSeq
      .collect { case (id, out) if ids(id) => out }) ++
      (if (reported) Nil else Seq("latency phase reports missing")) ++
      (if (drained) Nil else Seq("drain did not finish")) ++ drainErrors ++
      (if (duplicates.get == 0) Nil
       else Seq(s"${duplicates.get} messages emitted more than once"))
    val userBytes = (files.map(_._2) ++ backlog.map(_._2)).map(_.map(m =>
      KlioModel.wire(m).length + 1L).sum).sum
    Phase(latTraced.map(_._1), drainMsgs.size.toLong, math.max(drainBusyS, 0.001),
      all.size.toLong, errors.size.toLong, errors, userBytes, fs,
      progress.size.toLong, layer(late, tracedFromMs, latTraced.map(_._1)),
      latTraced.map(_._2))
  }

  /** Streaming-layer metrics from the query's progress reports, and the
    * Spark jobs of the batches that started once jobs were traced.
    */
  private def layer(late: Seq[Double], tracedFromMs: Long,
      msgLatencies: Seq[Double]): Map[String, Double] = {
    val ps = progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    if (ps.isEmpty) return Map.empty
    val nTraced = math.max(ps.count(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= tracedFromMs), 1)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val jobs = c.jobs.snapshot().filter(_.group.contains(query.runId.toString))
    val busy = SpanMath.covered(jobs.filter(_.end >= 0).map(j => (j.start, j.end))) / 1000.0
    val trig = ps.map(d(_, "triggerExecution"))
    val n = ps.size.toDouble
    val relay = c.relay.drain().filter(_._2 == "kmsg-timer-total")
    Map(
      "streaming.batches" -> n,
      "streaming.rows_per_batch" -> ps.map(_.numInputRows).sum / n,
      "streaming.trigger_p50_s" -> Stats.median(trig),
      "streaming.plan_s" -> ps.map(d(_, "queryPlanning")).sum / n,
      "streaming.add_batch_s" -> ps.map(d(_, "addBatch")).sum / n,
      "streaming.offsets_s" -> ps.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum / n,
      "streaming.commit_s" -> ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum / n,
      "streaming.msg_lat_p50_s" -> Stats.median(msgLatencies),
      "streaming.gen_late_p90_s" -> (if (late.size >= 100)
        Stats.percentile(late, 0.9) else 0.0),
      "operators.fn_s" -> relay.map(_._3).sum / 1e9 / n,
      "spark.jobs_per_op" -> jobs.size.toDouble / nTraced,
      "spark.tasks_per_op" -> jobs.map(_.tasks).sum.toDouble / nTraced,
      "spark.job_busy_s" -> busy / nTraced,
      "spark.driver_gap_s" -> (trig.takeRight(nTraced).sum - busy) / nTraced,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble / nTraced,
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble / nTraced)
  }

  def close(): Unit = {
    if (query != null) {
      query.stop()
      query.awaitTermination(30000)
    }
    s.streams.removeListener(listener)
  }
}

object StreamIngest {

  /** One micro-batch's progress: id, input rows, trigger duration. */
  final case class Batch(id: Long, rows: Long, triggerMs: Long)

  /** The last batch that read data. A trigger that finds no data reports
    * the id the next batch will take, so it is left out.
    */
  def lastReported(bs: Seq[Batch]): Long =
    bs.filter(_.rows > 0).map(_.id).maxOption.getOrElse(-1L)

  /** The drain's busy seconds: the trigger durations of the batches after
    * `lastBefore`, the last batch reported before the backlog landed. The
    * drain rate counts the time its micro-batches ran, not the trigger
    * clock's idle ticks between them. An error when those batches' input
    * rows do not add up to the backlog's `rows`.
    */
  def drain(bs: Seq[Batch], lastBefore: Long, rows: Long): (Double, Seq[String]) = {
    val after = bs.filter(b => b.id > lastBefore && b.rows > 0)
    val got = after.map(_.rows).sum
    (after.map(_.triggerMs).sum / 1000.0,
      if (got == rows) Nil
      else Seq(s"drain batches read $got rows, backlog holds $rows"))
  }
}
