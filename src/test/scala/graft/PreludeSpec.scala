package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.operators.Prelude

/** Routing semantics of the standard prelude, mirroring the decision table
  * the reference asserts in its helper unit tests
  * (`lib/tests/unit/transforms/test_helpers.py`) and the
  * batch-modular-default golden job.
  */
class PreludeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val job = KlioJobRef("test-job", "test-project")
  val otherJob = KlioJobRef("other-job", "test-project")

  def msg(element: String, ping: Boolean = false, force: Boolean = false,
      recipients: KlioRecipients = KlioRecipients("anyone"))
      : KlioMessage =
    KlioMessage(element, metadata =
      KlioMetadata(force = force, ping = ping,
        intendedRecipients = recipients))

  test("distributed listing routes identically to the driver listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-listing")
    // many files, mixed suffixes — only .wav entries are data
    (0 until 40).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(s"track-$i.wav"), "x")
    }
    java.nio.file.Files.writeString(dir.resolve("notes.txt"), "x")
    // hidden-file convention: '_'/'.' prefixes are metadata in BOTH
    // listings (Spark's file index filters them; the driver listing must
    // match or the two routings diverge)
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS.wav"), "x")
    java.nio.file.Files.writeString(dir.resolve(".hidden.wav"), "x")
    val driver = Prelude.listingFor(spark, dir.toString, ".wav")
    val dist = Prelude.distributedListingFor(spark, dir.toString, ".wav")
    val driverSet = driver.collect().map(_.getString(0)).toSet
    assert(driverSet === (0 until 40).map(i => s"track-$i").toSet)
    assert(dist.collect().map(_.getString(0)).toSet === driverSet)
    // identical prelude routing through either listing
    val messages = Seq(msg("track-3"), msg("track-39"), msg("gone")).toDS()
      .toDF()
    def route(listing: org.apache.spark.sql.DataFrame) = {
      val (found, missing) = Prelude.splitInputExists(messages, listing)
      (found.collect().map(_.getString(0)).toSet,
        missing.collect().map(_.getString(0)).toSet)
    }
    assert(route(driver) === route(dist))
    assert(route(dist) === ((Set("track-3", "track-39"), Set("gone"))))
    // a missing directory lists as empty, not an error
    assert(Prelude.distributedListingFor(spark,
      dir.resolve("nope").toString, ".wav").count() === 0)
  }

  test("standard prelude routes ping/force/exists/missing correctly") {
    val messages = Seq(
      msg("fresh"), // no output yet, input present → process
      msg("done"), // output exists, not forced → pass_thru
      msg("done_forced", force = true), // output exists but forced → process
      msg("pinger", ping = true), // ping → pass_thru
      msg("lost"), // input missing → drop
      msg("not_ours",
        recipients = KlioRecipients("limited", Seq(otherJob))) // → drop
    ).toDS().toDF()

    val inputsPresent = Seq("fresh", "done", "done_forced", "pinger")
      .toDF("element")
    val outputsPresent = Seq("done", "done_forced").toDF("element")

    val routed = Prelude.standard(messages, job,
      Some(inputsPresent), Some(outputsPresent))

    assert(routed.process.select("element").as[String].collect().sorted
      === Array("done_forced", "fresh"))
    assert(routed.passThru.select("element").as[String].collect().sorted
      === Array("done", "pinger"))
    assert(routed.drop.select("element").as[String].collect().sorted
      === Array("lost", "not_ours"))
  }

  test("route gives the split operators' decision table, one row per " +
      "message") {
    import org.apache.spark.sql.DataFrame
    val now = to_timestamp(lit("2024-01-01 00:00:00"))
    val upstream = KlioJobRef("up-job", "test-project")
    val addressing = Seq(
      "anyone" -> KlioRecipients("anyone"),
      "limitedUs" -> KlioRecipients("limited", Seq(job)),
      "limitedOther" -> KlioRecipients("limited", Seq(otherJob)),
      // bottom-up backfill reaching its origin: flips back to anyone
      "origin" -> KlioRecipients("limited", Seq(upstream, job), Some(job)),
      "notOrigin" -> KlioRecipients("limited", Seq(job), Some(otherJob)))
    val flags = Seq("f", "t", "null")
    // every addressing × ping × force × output exists × input exists
    val grid = for {
      (a, r) <- addressing; p <- flags; f <- flags
      out <- Seq(false, true); in <- Seq(false, true)
    } yield (s"$a-p$p-f$f-o$out-i$in", r, p, f, out, in)
    val base = grid.map { case (e, r, p, f, _, _) =>
      msg(e, ping = p == "t", force = f == "t", recipients = r) } ++
      Seq(msg("nullMetadata-a"), msg("nullMetadata-b"))
    def nulled(flag: String) = grid.collect {
      case (e, _, p, f, _, _) if (if (flag == "ping") p else f) == "null" =>
        e }
    val messages = base.toDS().toDF()
      .withColumn("metadata", when(col("element").startsWith("nullMetadata"),
        lit(null)).otherwise(col("metadata")))
      .withColumn("metadata", when(col("element").isin(nulled("ping"): _*),
        col("metadata").withField("ping", lit(null).cast("boolean")))
        .otherwise(col("metadata")))
      .withColumn("metadata", when(col("element").isin(nulled("force"): _*),
        col("metadata").withField("force", lit(null).cast("boolean")))
        .otherwise(col("metadata")))
    // each listing holds every element twice: still one row per message
    def twice(es: Seq[String]) = (es ++ es).toDF("element")
    val inputs = twice(grid.collect { case (e, _, _, _, _, true) => e } :+
      "nullMetadata-a")
    val outputs = twice(grid.collect { case (e, _, _, _, true, _) => e })

    def bySplits(ins: Option[DataFrame], outs: Option[DataFrame],
        force: Boolean, ping: Boolean): DataFrame = {
      val (addressed, wrongRecipient) = Prelude.checkRecipients(messages, job)
      val audited = Prelude.updateAuditLog(addressed, job, now)
      val (work0, pinged) = Prelude.splitPing(audited, ping)
      val (work1, skipped) = outs.fold((work0, work0.limit(0)))(
        Prelude.splitOutputExists(work0, _, force))
      val (found, notFound) = ins.fold((work1, work1.limit(0)))(
        Prelude.splitInputExists(work1, _))
      Seq(found -> Prelude.Process, pinged -> Prelude.PassThru,
        skipped -> Prelude.PassThru, wrongRecipient -> Prelude.Drop,
        notFound -> Prelude.Drop)
        .map { case (d, r) => d.withColumn(Prelude.RouteCol, lit(r)) }
        .reduce(_ unionByName _)
    }
    def rows(df: DataFrame): Seq[(String, String, String)] =
      df.select(col("element"), col(Prelude.RouteCol),
        to_json(col("metadata"))).as[(String, String, String)]
        .collect().toSeq.sorted

    for {
      (ins, outs) <- Seq((Some(inputs), Some(outputs)), (None, None),
        (Some(inputs), None), (None, Some(outputs)))
      (force, ping) <- Seq((false, false), (true, false), (false, true))
    } {
      val tagged = Prelude.route(messages, job, ins, outs, force, ping, now)
      val got = rows(tagged)
      assert(got === rows(bySplits(ins, outs, force, ping)),
        s"inputs ${ins.isDefined}, outputs ${outs.isDefined}, " +
          s"force $force, ping $ping")
      assert(got.map(_._1) === base.map(_.element).sorted,
        "every message exactly once")
    }
    // the table's corners, spelled out
    val routes = rows(Prelude.route(messages, job, Some(inputs),
      Some(outputs), now = now)).map(r => r._1 -> r._2).toMap
    assert(routes("anyone-pf-ff-ofalse-itrue") === Prelude.Process)
    assert(routes("anyone-pnull-fnull-otrue-itrue") === Prelude.PassThru)
    assert(routes("anyone-pf-fnull-ofalse-ifalse") === Prelude.Drop)
    assert(routes("anyone-pf-ft-otrue-itrue") === Prelude.Process)
    assert(routes("limitedOther-pt-ft-otrue-itrue") === Prelude.Drop)
    assert(routes("nullMetadata-a") === Prelude.Drop)
    val origin = Prelude.route(messages, job, Some(inputs), Some(outputs),
      now = now).filter(col("element") === "origin-pf-ff-ofalse-itrue")
      .select(col("metadata.intendedRecipients.mode"),
        col("metadata.intendedRecipients.triggerChildrenOf"),
        col(Prelude.RouteCol)).collect().head
    assert(origin.getString(0) === "anyone" && origin.isNullAt(1) &&
      origin.getString(2) === Prelude.Process)
  }

  test("config-level global ping routes everything to pass_thru") {
    // helpers.py:107-154 — msg ping ORs with the data-input config's ping;
    // a ping:true job traces the DAG without doing any work.
    val messages = Seq(msg("a"), msg("b", ping = true)).toDS().toDF()
    val (work, pinged) = Prelude.splitPing(messages, pingDefault = true)
    assert(work.count() === 0)
    assert(pinged.count() === 2)
    val routed = Prelude.standard(messages, job, None, None,
      pingDefault = true)
    assert(routed.process.count() === 0)
    assert(routed.passThru.count() === 2)
  }

  test("limited recipients including this job are processed") {
    val m = Seq(msg("mine",
      recipients = KlioRecipients("limited", Seq(job, otherJob)))).toDS().toDF()
    val (kept, dropped) = Prelude.checkRecipients(m, job)
    assert(kept.count() === 1 && dropped.count() === 0)
  }

  test("triggerChildrenOf origin flips limited back to anyone") {
    val m = Seq(msg("resume",
      recipients = KlioRecipients("limited", Seq(job), Some(job))))
      .toDS().toDF()
    val (kept, _) = Prelude.checkRecipients(m, job)
    val modes = kept.select("metadata.intendedRecipients.mode")
      .as[String].collect()
    assert(modes === Array("anyone"))
  }

  test("audit log appends this job") {
    val m = Seq(msg("a")).toDS().toDF()
    val out = Prelude.updateAuditLog(m, job,
      to_timestamp(lit("2024-01-01 00:00:00")))
    val entries = out.select(explode(col("metadata.jobAuditLog")).as("e"))
      .select("e.jobName").as[String].collect()
    assert(entries === Array("test-job"))
  }

  test("triggerUpstream rewrites recipients for bottom-up backfill") {
    val upstream = KlioJobRef("up-job", "test-project")
    val m = Seq(msg("missing")).toDS().toDF()
    val out = Prelude.triggerUpstream(m, upstream, job)
    val row = out.select(
      col("metadata.intendedRecipients.mode"),
      col("metadata.intendedRecipients.triggerChildrenOf.jobName"))
      .collect().head
    assert(row.getString(0) === "limited")
    assert(row.getString(1) === "test-job")
    val recips = out.select(
      explode(col("metadata.intendedRecipients.recipients")).as("r"))
      .select("r.jobName").as[String].collect().sorted
    assert(recips === Array("test-job", "up-job"))
  }
}
