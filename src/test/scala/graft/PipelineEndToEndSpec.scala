package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{KlioConfig, KlioIoConfig}
import graft.io.EventIO
import graft.model.KlioWire
import graft.operators.Metrics
import graft.runner.KlioPipeline

/** End-to-end mirror of the reference's `integration/batch-modular-default`
  * golden job: ids file → full prelude (existence checks against data dirs)
  * → user transform → text output; one id has no input file and must drop,
  * ids with existing output must pass through untouched.
  */
class PipelineEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  /** The golden job's inputs under a fresh directory: 15 ids, input audio
    * for the 14 real tracks, output already done for 2 of them. Returns
    * the directory, the ids and the job's config.
    */
  def goldenJob(): (String, Seq[String], KlioConfig) = {
    val base = Files.createTempDirectory("graft-e2e").toString
    val ids = (0 until 14).map(i => f"track_$i%02d") :+ "id_does_not_exist"
    write(s"$base/ids.txt", ids.mkString("\n"))
    (0 until 14).foreach(i => write(f"$base/audio_in/track_$i%02d.ogg", "x"))
    Seq(0, 7).foreach(i => write(f"$base/audio_out/track_$i%02d.wav", "y"))

    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: batch-modular-default
         |pipeline_options:
         |  streaming: False
         |  project: test-project
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/ids.txt
         |    outputs:
         |      - type: file
         |        location: $base/ids_out
         |  data:
         |    inputs:
         |      - type: gcs
         |        location: $base/audio_in
         |        file_suffix: .ogg
         |    outputs:
         |      - type: gcs
         |        location: $base/audio_out
         |        file_suffix: .wav
         |""".stripMargin)
    (base, ids, cfg)
  }

  /** 14 with input − 2 already done; the 2 existing outputs skipped; the
    * missing input dropped.
    */
  val goldenSummary = KlioPipeline.RunSummary(12, 2, 1)

  def withEventOutputs(cfg: KlioConfig, outputs: KlioIoConfig*)
      : KlioConfig =
    cfg.copy(jobConfig = cfg.jobConfig.copy(
      events = cfg.jobConfig.events.copy(outputs = outputs)))

  def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).sorted.toSeq

  test("batch-modular-default shape runs end to end") {
    val (base, ids, cfg) = goldenJob()
    val summary = KlioPipeline.run(spark, cfg,
      m => m.copy(payload = s"processed:${m.element}"))
    assert(summary === goldenSummary)
    assert(lines(s"$base/ids_out") ===
      ids.filterNot(_ == "id_does_not_exist").sorted)
  }

  test("batch-modular-default runs in at most 4 Spark jobs and reads " +
      "its event input once") {
    // one routing decision per message and one pass per run: a broadcast
    // per data listing, then the write, which the routing counts ride on
    Metrics.install(spark)
    val (_, _, cfg) = goldenJob()
    val readsBefore = Metrics.collected.keySet.toSet
    TransformCalls.n.set(0)
    val (summary, jobs) = SparkJobs.counted(spark) {
      KlioPipeline.run(spark, cfg, m => {
        TransformCalls.n.incrementAndGet()
        m.copy(payload = "processed")
      })
    }
    assert(summary === goldenSummary)
    assert(jobs.size <= 4, s"${jobs.size} Spark jobs: $jobs")
    assert(TransformCalls.n.get === 12, "one call per processed message")
    val reads = Metrics.collected.collect {
      case (k @ (_, "kmsg-read"), v) if !readsBefore(k) => v
    }
    assert(reads.toSeq === Seq(15L), "kmsg-read of the run's one event input")
  }

  test("two event outputs are written identically; the transform runs " +
      "once per message") {
    val (base, _, golden) = goldenJob()
    val cfg = withEventOutputs(golden, KlioIoConfig("wire", s"$base/w1"),
      KlioIoConfig("wire", s"$base/w2"))
    TransformCalls.n.set(0)
    val summary = KlioPipeline.run(spark, cfg, m => {
      TransformCalls.n.incrementAndGet()
      m.copy(payload = s"processed:${m.element}")
    })
    assert(summary === goldenSummary)
    assert(TransformCalls.n.get === 12, "one call per processed message")
    assert(lines(s"$base/w1").size === 14)
    assert(lines(s"$base/w1") === lines(s"$base/w2"))
  }

  test("no event outputs: the run still returns its routing counts") {
    val (_, _, golden) = goldenJob()
    val summary = KlioPipeline.run(spark, withEventOutputs(golden),
      m => m.copy(payload = "processed"))
    assert(summary === goldenSummary)
  }

  test("an empty event file routes nothing and counts zeros") {
    val (base, _, cfg) = goldenJob()
    write(s"$base/ids.txt", "")
    val summary = KlioPipeline.run(spark, cfg,
      m => m.copy(payload = "processed"))
    assert(summary === KlioPipeline.RunSummary(0, 0, 0))
    assert(lines(s"$base/ids_out").isEmpty)
  }

  test("wire JSON roundtrip preserves the full envelope") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-wire").toString
    val df = Seq("a", "b").toDF("value")
    val messages = KlioWire.decode(df)
      .withColumn("metadata", col("metadata").withField("force", lit(true)))
      .withColumn("payload", lit("state"))
    EventIO.writeWire(messages, s"$base/wire")
    val back = EventIO.readWire(spark, s"$base/wire")
    assert(back.count() === 2)
    assert(back.select("metadata.force").collect().forall(_.getBoolean(0)))
    assert(back.select("payload").as[String].collect().toSet === Set("state"))
  }

  test("bq stand-in: single column becomes element, several become JSON") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-bq").toString
    Seq((1L, "x"), (2L, "y")).toDF("entity_id", "value")
      .write.parquet(s"$base/t")
    val one = EventIO.readBq(spark, s"$base/t", Seq("entity_id"))
    assert(one.select("element").as[String].collect().sorted
      === Array("1", "2"))
    val many = EventIO.readBq(spark, s"$base/t", Seq("entity_id", "value"))
    val els = many.select("element").as[String].collect().sorted
    assert(els.head === """{"entity_id":1,"value":"x"}""")
  }

  test("multi-event-input fan-in runs one prelude per input") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-multi").toString
    write(s"$base/a.txt", Seq("a1", "a2", "a3").mkString("\n"))
    write(s"$base/b.txt", Seq("b1", "b2").mkString("\n"))
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: multi-event-input-batch
         |pipeline_options:
         |  streaming: False
         |  project: test-project
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/a.txt
         |      - type: file
         |        location: $base/b.txt
         |    outputs:
         |      - type: file
         |        location: $base/out
         |""".stripMargin)
    // mirror of the reference's multi-event-input-batch run(): the user fn
    // sees the named process branches and flattens them (run.py:60-64)
    val summary = KlioPipeline.runMulti(spark, cfg, inputs => {
      assert(inputs.keySet === Set(s"$base/a.txt", s"$base/b.txt"))
      inputs.values.map(df => df.withColumn("payload",
        concat(lit("seen:"), col("element")))).reduce(_ unionByName _)
    })
    assert(summary.processed === 5)
    assert(summary.passedThru === 0)
    assert(summary.dropped === 0)
    val out = spark.read.text(s"$base/out")
      .collect().map(_.getString(0)).sorted
    assert(out === Array("a1", "a2", "a3", "b1", "b2"))
  }

  test("bq event output writes declared columns from JSON payloads") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-bqout").toString
    write(s"$base/ids.txt", Seq("7", "8").mkString("\n"))
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: bq-out-job
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/ids.txt
         |    outputs:
         |      - type: bq
         |        location: $base/table
         |        schema:
         |          fields:
         |            - name: id
         |              type: INTEGER
         |            - name: doubled
         |              type: INTEGER
         |""".stripMargin)
    KlioPipeline.run(spark, cfg, m => m.copy(payload =
      s"""{"id":${m.element},"doubled":${m.element.toLong * 2}}"""))
    val rows = spark.read.parquet(s"$base/table")
      .as[(Long, Long)].collect().sorted
    assert(rows.toSeq === Seq((7L, 14L), (8L, 16L)))
  }

  test("runMulti rejects duplicate event-input locations") {
    val base = Files.createTempDirectory("graft-dupin").toString
    write(s"$base/a.txt", "a1")
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: dup-inputs
         |pipeline_options:
         |  project: p
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/a.txt
         |      - type: file
         |        location: $base/a.txt
         |    outputs:
         |      - type: file
         |        location: $base/out
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      KlioPipeline.runMulti(spark, cfg, _.values.head)
    }
    assert(e.getMessage.contains("duplicate event input locations"))
  }
}
