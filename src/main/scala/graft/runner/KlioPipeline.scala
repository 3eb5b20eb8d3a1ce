package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{KlioConfig, KlioIoConfig}
import graft.io.EventIO
import graft.model.KlioMessage
import graft.operators.{HandleKlio, Metrics, Prelude}

/** Config → running batch pipeline, mirroring the reference's
  * `_setup_pipeline` assembly order (`exec/src/klio_exec/commands/run.py:
  * 511-558`): per event input — read → recipients → audit → ping →
  * output-exists(+force) → input-exists → user transform — then user output
  * and pass-thru branches flow to the event outputs.
  *
  * The reference launches this inside a Docker container via `klioexec`;
  * here the equivalent entrypoint is a `spark-submit` of a main that calls
  * [[KlioPipeline.run]] with a transform. Catalyst replaces Dataflow's
  * fusion; checkpointing replaces per-message acks. The prelude is one
  * routing decision per message ([[Prelude.route]]), and a run is one
  * Spark action: the event-output write, with the routing counts observed
  * on it.
  */
object KlioPipeline {

  /** Counts observed after the run (parity with the reference's kmsg-*
    * counters, metrics client `lib/src/klio/metrics/client.py:44-172`).
    */
  case class RunSummary(processed: Long, passedThru: Long, dropped: Long)

  def readEventInput(spark: SparkSession, cfg: KlioConfig,
      io: KlioIoConfig): DataFrame = io.ioType match {
    case "file" => EventIO.readText(spark, io.location,
      cfg.jobConfig.allowNonKlioMessages)
    case "bq" => EventIO.readBq(spark, io.location, io.columns)
    case "wire" | "avro" => EventIO.readWire(spark, io.location)
    case other => sys.error(s"unsupported event input type: $other")
  }

  def writeEventOutput(df: DataFrame, io: KlioIoConfig): Unit =
    io.ioType match {
      case "file" => EventIO.writeText(df, io.location)
      case "wire" | "avro" => EventIO.writeWire(df, io.location)
      case "bq" =>
        require(io.schemaFields.nonEmpty,
          "bq event output requires a declared schema (schema.fields)")
        EventIO.writeBq(df, io.location, io.bqSchema)
      case other => sys.error(s"unsupported event output type: $other")
    }

  private def listing(spark: SparkSession, io: KlioIoConfig)
      : Option[DataFrame] =
    if (io.skipExistenceCheck || io.location.isEmpty) None
    else Some(Prelude.listingFor(spark, io.location, io.fileSuffix))

  /** The standard prelude as `cfg` configures it ([[Prelude.route]]),
    * with the data listings taken once, now: a stream takes them again per
    * micro-batch. Each call tags `messages` and observes their per-route
    * counts into `counts`, read by the first action over the result.
    */
  private[graft] def prelude(spark: SparkSession, cfg: KlioConfig,
      now: Column = current_timestamp())
      : (DataFrame, Observation) => DataFrame = {
    val data = cfg.jobConfig.data
    val dataIn = data.inputs.headOption.flatMap(listing(spark, _))
    val dataOut = data.outputs.headOption.flatMap(listing(spark, _))
    (messages, counts) => Prelude.observeRoutes(
      Prelude.route(messages, cfg.jobRef, dataIn, dataOut,
        forceDefault = data.outputs.headOption.exists(_.force),
        pingDefault = data.inputs.headOption.exists(_.ping), now),
      counts)
  }

  /** Write `outBound` to every event output. The first write is the one
    * action that completes the run's observations; with no output a `noop`
    * write stands in for it, and with several the later writes read a
    * cache instead of re-running the transform and the observed plan.
    */
  private def writeEventOutputs(outBound: DataFrame,
      outputs: Seq[KlioIoConfig]): Unit = outputs match {
    case Seq() => outBound.write.format("noop").mode("overwrite").save()
    case Seq(io) => writeEventOutput(outBound, io)
    case _ =>
      val cached = outBound.cache()
      try outputs.foreach(writeEventOutput(cached, _))
      finally cached.unpersist()
  }

  private def observed(o: Observation, metric: String): Long =
    o.get(metric).asInstanceOf[Long]

  /** Multi-event-input fan-in (reference `run.py:458-508`): one prelude
    * PER event input, then the user function receives the named map of
    * process branches (the namedtuple-of-PCollections parity) and returns
    * the outbound messages; pass-thru branches from every input union into
    * the event outputs, exactly like the single-input path. Input names
    * are the IO locations (the reference names fields by a sanitized
    * identifier derived the same way). One Spark action per run: the
    * write, which every count rides on. Each input's tagged frame is
    * cached, so the write reads it once for both of its branches.
    */
  def runMulti(spark: SparkSession, cfg: KlioConfig,
      userFn: Map[String, DataFrame] => DataFrame,
      now: Column = current_timestamp()): RunSummary = {
    val locations = cfg.jobConfig.events.inputs.map(_.location)
    require(locations.distinct.length == locations.length,
      s"duplicate event input locations: $locations — inputs are named by " +
        "location, so a duplicate would silently shadow its twin")
    require(locations.nonEmpty, "at least one event input required")
    val route = prelude(spark, cfg, now)
    // one observation name per input: a plan may not hold two different
    // observations under one name
    val perInput = cfg.jobConfig.events.inputs.zipWithIndex.map {
      case (io, i) =>
        val counts = Observation(s"klio_route-$i")
        (io.location, route(readEventInput(spark, cfg, io), counts).cache(),
          counts)
    }
    try {
      val outCount = Observation("klio_user_out")
      val out = userFn(perInput.map { case (loc, tagged, _) =>
        loc -> Prelude.branch(tagged, Prelude.Process) }.toMap)
        .observe(outCount, count(lit(1)).as(Prelude.Process))
      val passThru = perInput
        .map { case (_, tagged, _) => Prelude.branch(tagged, Prelude.PassThru) }
        .reduce(_ unionByName _)
      writeEventOutputs(out.unionByName(passThru),
        cfg.jobConfig.events.outputs)
      def total(route: String) = perInput.map(p => observed(p._3, route)).sum
      RunSummary(observed(outCount, Prelude.Process), total(Prelude.PassThru),
        total(Prelude.Drop))
    } finally perInput.foreach(_._2.unpersist())
  }

  /** Run the configured pipeline with a message-level user transform.
    * Returns routing counts. `now` is injectable for deterministic tests.
    * One pass and one Spark action per run: the write reads the event
    * inputs once, runs the transform once per process message, passes the
    * pass-thru messages through beside them and carries every count.
    */
  def run(spark: SparkSession, cfg: KlioConfig,
      transform: KlioMessage => KlioMessage,
      retries: Int = 0, timeoutMs: Long = 0,
      now: Column = current_timestamp()): RunSummary = {
    val inputs = cfg.jobConfig.events.inputs
      .map(io => readEventInput(spark, cfg, io))
    require(inputs.nonEmpty, "at least one event input required")
    val counts = Observation("klio_route")
    val errors = Observation("klio_transform")
    val isProcess = col(Prelude.RouteCol) === Prelude.Process
    val message = struct(KlioMessage.schema.fieldNames.toSeq.map(col): _*)
    val attempt = HandleKlio.column(transform, retries = retries,
      timeoutMs = timeoutMs)
    val attempted = prelude(spark, cfg, now)(inputs.reduce(_ unionByName _),
      counts)
      .filter(col(Prelude.RouteCol) =!= Prelude.Drop)
      .withColumn("attempt", when(isProcess, attempt(message)))
      .select(col("*"), col("attempt.attempts"), col("attempt.nanos"))
    // Timer/retry metrics observe the attempts in passing (kmsg-timer-*,
    // reference client.py:119-151); errors divert to the drop count. User
    // output ∪ pass-thru feed every configured event output
    // (run.py:545-558).
    val outBound = Metrics.timed(attempted, cfg.jobName + "-transform")
      .observe(errors, count(when(!col("attempt.ok"), 1))
        .as("kmsg-drop-error"))
      .filter(!isProcess || col("attempt.ok"))
      .select(when(isProcess, col("attempt.msg")).otherwise(message)
        .as("out"))
      .select(col("out.*"))
    writeEventOutputs(outBound, cfg.jobConfig.events.outputs)
    val failed = observed(errors, "kmsg-drop-error")
    RunSummary(
      processed = observed(counts, Prelude.Process) - failed,
      passedThru = observed(counts, Prelude.PassThru),
      dropped = observed(counts, Prelude.Drop) + failed)
  }
}
