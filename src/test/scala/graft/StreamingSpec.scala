package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.KlioConfig
import graft.streaming.StreamingPipeline

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  test("keyed dedup state rows grow with DISTINCT keys, not deliveries " +
      "(the st26 state-size curve), under the RocksDB provider") {
    // the unbounded-key dedup paths (st22/st26 shape) keep one state row
    // per distinct key forever — the correct no-horizon semantic. This
    // pins the curve: deliveries with 50% overlap leave state == the
    // distinct-key count at each step, measured off the query's own
    // state-operator metrics, with the store on RocksDB (the 100 TB
    // provider; st28 gates the e2e oracle).
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft-statecurve").toString
    val src = s"$root/src"
    def commit(lo: Long, hi: Long, tag: String): Unit = {
      val d = s"$src/data/$tag"
      (lo until hi).map(i => (i, i % 9)).toDF("id", "grp")
        .write.parquet(d)
      Manifest.commit(spark, src, d)
    }
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    spark.conf.set(providerConf, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    def run(): Long = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "1").load(src)
        .dropDuplicates("id")
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.lastProgress.stateOperators(0).numRowsTotal
    }
    try {
      // 450 rows delivered, 300 distinct keys
      commit(0, 200, "c0"); commit(100, 300, "c1"); commit(250, 300, "c2")
      assert(run() === 300L,
        "state rows must equal distinct keys, not rows delivered")
      // +300 distinct on re-delivery-heavy commits: 600 total
      commit(200, 500, "c3"); commit(450, 600, "c4")
      assert(run() === 600L,
        "state must grow by NEW keys only across restarts")
    } finally prev match {
      case Some(v) => spark.conf.set(providerConf, v)
      case None => spark.conf.unset(providerConf)
    }
  }

  test("maxVersionsPerBatch bounds each microbatch's commit span; " +
      "AvailableNow drains to the head pinned at start") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft-admission").toString
    val src = s"$root/src"
    for (i <- 1 to 3) {
      val d = s"$src/data/c$i"
      (i * 100L until i * 100L + 10L).map(x => (x, x)).toDF("id", "v")
        .write.parquet(d)
      Manifest.commit(spark, src, d)
    }
    val q = spark.readStream.format("graft")
      .option("startingVersion", "1")
      .option("maxVersionsPerBatch", "1").load(src)
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$root/out").count() === 30L,
      "the drain must still deliver every commit exactly once")
    assert(q.recentProgress.count(_.numInputRows > 0) === 3,
      "a capped backfill must consume ONE commit per microbatch: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("startingTimestamp replays exactly the commits AFTER the " +
      "instant (manifest-mtime rule, Delta parity)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft-startts").toString
    val src = s"$root/src"
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis() - 600000L
    for (i <- 1 to 3) {
      val d = s"$src/data/c$i"
      (i * 10L until i * 10L + 5L).map(x => (x, x)).toDF("id", "v")
        .write.parquet(d)
      val v = Manifest.commit(spark, src, d)
      // force distinct, known manifest mtimes (the timestamp rule's
      // input) — wall-clock gaps would make the test timing-dependent
      f.setTimes(new org.apache.hadoop.fs.Path(src,
        f"manifest-v$v%06d"), t0 + i * 10000L, -1)
    }
    // an instant between commit 1 and commit 2: replay 2 and 3 only
    spark.readStream.format("graft")
      .option("startingTimestamp", (t0 + 15000L).toString).load(src)
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val ids = spark.read.parquet(s"$root/out")
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === ((20L until 25L) ++ (30L until 35L)).sorted,
      s"must consume exactly the post-instant commits, got $ids")
    // an instant before the FIRST commit replays everything
    spark.readStream.format("graft")
      .option("startingTimestamp", (t0 - 1000L).toString).load(src)
      .writeStream.format("parquet")
      .option("path", s"$root/out2")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.read.parquet(s"$root/out2").count() === 15L)
  }

  test("file-backed stream runs the prelude per micro-batch") {
    val base = Files.createTempDirectory("graft-stream").toString
    // "publish" three messages: two with input data, one without
    write(s"$base/in/batch1.txt", Seq("track_a", "track_ping", "track_lost")
      .mkString("\n"))
    write(s"$base/audio_in/track_a.ogg", "x")
    write(s"$base/audio_in/track_ping.ogg", "x")

    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: stream-job
         |pipeline_options:
         |  streaming: True
         |  project: test-project
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/in
         |    outputs:
         |      - type: file
         |        location: $base/out
         |  data:
         |    inputs:
         |      - type: gcs
         |        location: $base/audio_in
         |        file_suffix: .ogg
         |""".stripMargin)

    val q = StreamingPipeline.run(spark, cfg, s"$base/in", s"$base/out",
      s"$base/ckpt",
      batch => batch.withColumn("payload", concat(lit("done:"),
        col("element")))).start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.text(s"$base/out")
      .collect().map(_.getString(0))
    // processed + nothing for the missing-input message
    assert(out.count(_.contains("track_a")) === 1)
    assert(out.count(_.contains("track_lost")) === 0)
    assert(out.count(_.contains("done:track_a")) === 1)
    assert(out.length === 2) // track_a + track_ping processed, lost dropped
  }

  test("a micro-batch reads its input once, transforms each message " +
      "once and logs its drops") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val base = Files.createTempDirectory("graft-stream-once").toString
    Seq("a1", "a2", "a3", "b1").foreach(e =>
      write(s"$base/audio_in/$e.ogg", "x"))
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: stream-once-job
         |pipeline_options:
         |  streaming: True
         |  project: test-project
         |job_config:
         |  allow_non_klio_messages: True
         |  data:
         |    inputs:
         |      - type: gcs
         |        location: $base/audio_in
         |        file_suffix: .ogg
         |""".stripMargin)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("stream-drops", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("graft.klio.streaming")
      .asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    // nondeterministic: Catalyst may not duplicate the call
    val calls = udf { (e: String) =>
      TransformCalls.n.incrementAndGet(); s"done:$e" }.asNondeterministic()
    TransformCalls.n.set(0)
    // wave 1: 3 processed, 2 dropped (missing input); wave 2: 1 processed,
    // published by an atomic rename so no trigger sees it half written
    write(s"$base/in/wave1.txt",
      Seq("a1", "a2", "a3", "lost1", "lost2").mkString("\n"))
    write(s"$base/staged/wave2.txt", "b1")
    val q = StreamingPipeline.run(spark, cfg, s"$base/in", s"$base/out",
      s"$base/ckpt",
      batch => batch.withColumn("payload", calls(col("element")))).start()
    try {
      q.processAllAvailable()
      Files.move(Paths.get(s"$base/staged/wave2.txt"),
        Paths.get(s"$base/in/wave2.txt"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally {
      q.stop()
      logger.removeAppender(capture)
    }
    val reports = q.recentProgress.filter(_.numInputRows > 0)
    assert(reports.map(_.numInputRows).toSeq === Seq(5L, 1L),
      "each report counts the lines published, read once")
    assert(TransformCalls.n.get === 4, "one transform call per message")
    val out = spark.read.text(s"$base/out").collect().map(_.getString(0))
    assert(out.length === 4)
    assert(warnings.asScala.exists(_.contains("dropped 2 message(s)")),
      s"drop warning missing: ${warnings.asScala.toSeq}")
  }

  test("e2e golden: checkpoint restart resumes mid-stream without replay") {
    // the reference's read-file streaming integration shape: file-append
    // publishes → prelude → transform → wire out, with a mid-stream
    // restart from the checkpoint — wave 1 must NOT be reprocessed
    val base = Files.createTempDirectory("graft-restart").toString
    Seq("s1", "s2", "s3", "s4").foreach(e =>
      write(s"$base/audio_in/$e.ogg", "x"))
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: restart-job
         |pipeline_options:
         |  streaming: True
         |  project: test-project
         |job_config:
         |  allow_non_klio_messages: True
         |  events:
         |    inputs:
         |      - type: file
         |        location: $base/in
         |    outputs:
         |      - type: file
         |        location: $base/out
         |  data:
         |    inputs:
         |      - type: gcs
         |        location: $base/audio_in
         |        file_suffix: .ogg
         |""".stripMargin)
    def runOnce(): Unit = {
      val q = StreamingPipeline.run(spark, cfg, s"$base/in", s"$base/out",
        s"$base/ckpt", batch => batch.withColumn("payload",
          concat(lit("done:"), col("element")))).start()
      try q.processAllAvailable() finally q.stop()
    }
    write(s"$base/in/wave1.txt", Seq("s1", "s2").mkString("\n"))
    runOnce() // first run consumes wave 1, then the query stops
    write(s"$base/in/wave2.txt", Seq("s3", "s4").mkString("\n"))
    runOnce() // restart from checkpoint picks up ONLY wave 2
    val out = spark.read.text(s"$base/out").collect().map(_.getString(0))
    // golden: every element exactly once, transformed — a replayed wave 1
    // would double s1/s2; a lost checkpoint would drop s3/s4
    Seq("s1", "s2", "s3", "s4").foreach { e =>
      assert(out.count(_.contains(s"done:$e")) === 1, s"element $e")
    }
    assert(out.length === 4)
  }

  test("windowed counts with watermark over the events stream") {
    val base = Files.createTempDirectory("graft-window").toString
    // drive the stream from the static events parquet (ts normalized to
    // epoch nanos by the loader, whatever the on-disk flavor)
    val staticDf = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val schema = staticDf.schema
    staticDf.write.mode("overwrite").parquet(s"$base/events")
    val stream = spark.readStream.schema(schema).parquet(s"$base/events")
      .withColumn("ts2", timestamp_micros((col("ts") / 1000).cast("long")))
    val agg = StreamingPipeline.windowedCounts(stream, "ts2", "1 hour",
      "10 minutes", "event_type")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win").start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits only closed windows; check the table exists & sane
    val rows = spark.sql("SELECT count(*) FROM win").collect().head.getLong(0)
    assert(rows >= 0)
    val complete = staticDf
      .withColumn("ts2", timestamp_micros((col("ts") / 1000).cast("long")))
      .groupBy(window(col("ts2"), "1 hour"), col("event_type"))
      .count().count()
    assert(complete > 0)
  }

  test("stream-stream join pairs rows within the event-time bound") {
    val base = Files.createTempDirectory("graft-ssjoin").toString
    write(s"$base/l/b1.txt", Seq("k1", "k2", "k3").mkString("\n"))
    write(s"$base/r/b1.txt", Seq("k1", "k2").mkString("\n"))
    // explicit per-element event times via a when-chain
    val lts = when(col("element") === "k1", 10)
      .when(col("element") === "k2", 20).otherwise(30)
    val l = StreamingPipeline.readEvents(spark, s"$base/l")
      .withColumn("lts", timestamp_seconds(lit(1700000000L) + lts))
    // k1 arrives 5s after its left row (inside the 10s bound);
    // k2 arrives 60s after (outside) — must not pair
    val rts = when(col("element") === "k1", 15).otherwise(80)
    val r = StreamingPipeline.readEvents(spark, s"$base/r")
      .select(col("element"),
        timestamp_seconds(lit(1700000000L) + rts).as("rts"))
    val joined = StreamingPipeline.streamStreamJoin(
      l.select(col("element"), col("lts")), r,
      "element", "lts", "rts", "1 minute", "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try q.processAllAvailable() finally q.stop()
    val els = spark.sql("SELECT element FROM ssj")
      .collect().map(_.getString(0)).sorted
    assert(els === Array("k1"), "only the in-bound pair joins")

    // the common case: BOTH streams call their event time "ts" — the
    // join must disambiguate, not throw AMBIGUOUS_REFERENCE
    val l2 = l.select(col("element"), col("lts").as("ts"))
    val r2 = r.select(col("element"), col("rts").as("ts"))
    val j2 = StreamingPipeline.streamStreamJoin(l2, r2,
      "element", "ts", "ts", "1 minute", "10 seconds")
    val q2 = j2.writeStream.outputMode("append")
      .format("memory").queryName("ssj2").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.sql("SELECT element FROM ssj2")
      .collect().map(_.getString(0)).toSeq === Seq("k1"))
  }

  test("stream-stream join keeps the key for outer-unmatched RIGHT " +
      "rows (key coalesced before the rename is dropped)") {
    // batch-mode shape check (the EventTimeWatermark node is a no-op
    // on batch plans): an unmatched right row's only non-null key
    // lives in the renamed key_r — the output must carry it
    import spark.implicits._
    val t0 = 1700000000L
    val l = Seq(("a", t0 + 5L)).toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
    val r = Seq(("a", t0 + 8L), ("b", t0 + 9L)).toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
    val out = StreamingPipeline.streamStreamJoin(l, r, "k",
      "ts", "ts", "1 minute", "10 seconds", joinType = "right_outer")
    assert(out.columns.count(_ == "k") == 1)
    assert(out.select("k").as[String].collect().toSet == Set("a", "b"))
  }

  test("dedup by element within watermark") {
    val base = Files.createTempDirectory("graft-dedup").toString
    write(s"$base/in/b1.txt", Seq("dup", "dup", "uniq").mkString("\n"))
    val stream = StreamingPipeline.readEvents(spark, s"$base/in")
      .withColumn("etime", to_timestamp(lit("2024-01-01 00:00:00")))
    val deduped = StreamingPipeline.dedupByElement(stream, "etime",
      "1 minute")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    try q.processAllAvailable() finally q.stop()
    val els = spark.sql("SELECT element FROM dedup")
      .collect().map(_.getString(0)).sorted
    assert(els === Array("dup", "uniq"))
  }

  test("dedup catches a redelivery with a re-stamped event time") {
    val base = Files.createTempDirectory("graft-dedup2").toString
    write(s"$base/in/b1.txt", Seq("x", "y").mkString("\n"))
    val stream = StreamingPipeline.readEvents(spark, s"$base/in")
      // same element arrives with DIFFERENT event times (publish-time
      // stamping on redelivery) — id_label parity still dedups on element
      .withColumn("etime", when(col("element") === "x",
        to_timestamp(lit("2024-01-01 00:00:10")))
        .otherwise(to_timestamp(lit("2024-01-01 00:00:20"))))
      .unionByName(StreamingPipeline.readEvents(spark, s"$base/in")
        .withColumn("etime", to_timestamp(lit("2024-01-01 00:00:30"))))
    val deduped = StreamingPipeline.dedupByElement(stream, "etime",
      "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup2").start()
    try q.processAllAvailable() finally q.stop()
    val els = spark.sql("SELECT element FROM dedup2")
      .collect().map(_.getString(0)).sorted
    assert(els === Array("x", "y"))
  }

  test("foreachBatch upsert merges across real microbatches") {
    val base = Files.createTempDirectory("graft-upsert").toString
    val prev = spark.conf.getOption("spark.graft.tmpDir")
    spark.conf.set("spark.graft.tmpDir", base)
    try {
      val dir = "/root/testdata/sf0.001"
      val got = graft.queries.OpsQueries.st6StreamUpsert(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      // batch truth: newest row per user by (ts, event_id)
      val want = Tables.events(spark, dir).filter(col("user_id") < 80)
        .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
          col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("cents")))
          .as("w"))
        .select(col("user_id"), col("w.event_id"), col("w.cents"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got === want)
      // the merge must have run per-microbatch: maxFilesPerTrigger=1 over
      // a 4-file source ⇒ 4 state generations, not one big batch
      val gens = new java.io.File(base).listFiles()
        .filter(_.getName.startsWith("graft_st6_"))
        .flatMap(_.listFiles()).map(_.getName)
        .count(_.startsWith("state_"))
      assert(gens === 4, s"expected 4 merge generations, saw $gens")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.tmpDir", v)
      case None => spark.conf.unset("spark.graft.tmpDir")
    }
  }
}
