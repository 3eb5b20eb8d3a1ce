package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.model.{KlioJobRef, KlioWire}
import graft.operators.Prelude

/** The klio prelude semantics under the correctness gate: these queries run
  * the REAL [[Prelude]] operators (the same code the pipeline runner uses)
  * over messages synthesized deterministically from the events table, and
  * the DuckDB oracle replays the reference's decision table
  * (`exec/src/klio_exec/commands/run.py:320-402`) in SQL.
  */
object PreludeQueries {

  private val job = KlioJobRef("graft-job", "graft-project")

  private def messages(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    // NOT cached: measured at sf0.1, the split operators' branch re-reads
    // of this narrow projection cost less than a cache materialization
    e.select(KlioWire.newMessageColumns(col("event_id")): _*)
      .withColumn("metadata", col("metadata")
        .withField("ping", col("element").cast("long") % 5 === 0)
        .withField("force", col("element").cast("long") % 11 === 0))
  }

  /** Full prelude routing: ping → pass_thru; output-exists unforced →
    * pass_thru; missing input → drop; rest → process. Existence listings are
    * derived from event_id residues so the oracle can rebuild them.
    */
  def p1PreludeRoute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val msgs = messages(s, dir)
    val existingOutputs = e.filter(col("event_id") % 3 === 0)
      .select(col("event_id").cast("string").as("element"))
    val existingInputs = e.filter(col("event_id") % 7 =!= 0)
      .select(col("event_id").cast("string").as("element"))
    Prelude.route(msgs, job, Some(existingInputs), Some(existingOutputs))
      .groupBy(col(Prelude.RouteCol).as("route"))
      .agg(count(lit(1)).as("n"),
        sum(col("element").cast("long")).as("checksum"))
      .orderBy(col("route"))
  }

  val p1Oracle: String =
    """WITH m AS (SELECT event_id,
      |    event_id % 5 = 0 AS ping,
      |    event_id % 11 = 0 AS force,
      |    event_id % 3 = 0 AS out_exists,
      |    event_id % 7 <> 0 AS in_exists
      |  FROM events),
      |r AS (SELECT event_id, CASE
      |    WHEN ping THEN 'pass_thru'
      |    WHEN out_exists AND NOT force THEN 'pass_thru'
      |    WHEN NOT in_exists THEN 'drop'
      |    ELSE 'process' END AS route
      |  FROM m)
      |SELECT route, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM r GROUP BY route ORDER BY route""".stripMargin

  /** Recipients check: anyone / limited-with-us / limited-without-us /
    * trigger-origin flip, synthesized from user_id residues. Runs the real
    * checkRecipients rewrite including the limited → anyone flip.
    */
  def p2Recipients(s: SparkSession, dir: String): DataFrame = {
    val msgs = messages(s, dir)
      .withColumn("uid", col("element").cast("long"))
      .withColumn("metadata", col("metadata")
        .withField("intendedRecipients.mode",
          when(col("uid") % 4 === 0, "limited").otherwise("anyone"))
        .withField("intendedRecipients.recipients",
          when(col("uid") % 8 === 0,
            array(struct(lit(job.jobName).as("jobName"),
              lit(job.gcpProject).as("gcpProject"))))
            .otherwise(array().cast(
              "array<struct<jobName:string,gcpProject:string>>")))
        .withField("intendedRecipients.triggerChildrenOf",
          when(col("uid") % 16 === 0,
            struct(lit(job.jobName).as("jobName"),
              lit(job.gcpProject).as("gcpProject")))
            .otherwise(lit(null).cast(
              "struct<jobName:string,gcpProject:string>"))))
      .drop("uid")
    val (kept, dropped) = Prelude.checkRecipients(msgs, job)
    kept.select(col("element"),
      concat(lit("kept_"), col("metadata.intendedRecipients.mode"))
        .as("outcome"))
      .unionByName(dropped.select(col("element"), lit("dropped").as("outcome")))
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n"),
        sum(col("element").cast("long")).as("checksum"))
      .orderBy(col("outcome"))
  }

  val p2Oracle: String =
    """WITH m AS (SELECT event_id,
      |    CASE WHEN event_id % 4 = 0 THEN 'limited' ELSE 'anyone' END AS mode,
      |    event_id % 8 = 0 AS has_us,
      |    event_id % 16 = 0 AS is_origin
      |  FROM events),
      |r AS (SELECT event_id, CASE
      |    WHEN mode = 'anyone' THEN 'kept_anyone'
      |    WHEN has_us AND is_origin THEN 'kept_anyone'
      |    WHEN has_us THEN 'kept_limited'
      |    ELSE 'dropped' END AS outcome
      |  FROM m)
      |SELECT outcome, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM r GROUP BY outcome ORDER BY outcome""".stripMargin

  /** Multi-event-input fan-in (reference `run.py:458-508`) end to end
    * through the REAL runner: two file event inputs (even / odd event
    * ids) are read by [[graft.runner.KlioPipeline.runMulti]], each runs
    * its own prelude chain, and the user function receives the NAMED map
    * of process branches — it tags every element with its input's name,
    * so the final census proves each message reached the user function
    * under the right key (the namedtuple-of-PCollections parity), not
    * merely that the union arrived. Output flows through the configured
    * file event output and is read back for the census — config →
    * read → prelude → transform → write, the whole lifecycle under the
    * oracle gate.
    */
  def p7MultiInput(s: SparkSession, dir: String): DataFrame = {
    import graft.config._
    val root = s.conf.get("spark.graft.tmpDir",
      System.getProperty("java.io.tmpdir")) + "/graft_p7_multi"
    val e = Tables.events(s, dir).filter(col("event_id") < 4000)
    e.filter(col("event_id") % 2 === 0)
      .select(col("event_id").cast("string"))
      .write.mode("overwrite").text(s"$root/inA")
    e.filter(col("event_id") % 2 === 1)
      .select(col("event_id").cast("string"))
      .write.mode("overwrite").text(s"$root/inB")
    val cfg = KlioConfig(2, job.jobName, job.gcpProject,
      KlioPipelineOptions(streaming = false, conf = Map.empty),
      KlioJobSettings(allowNonKlioMessages = true,
        KlioEventsConfig(
          inputs = Seq(KlioIoConfig("file", s"$root/inA"),
            KlioIoConfig("file", s"$root/inB")),
          outputs = Seq(KlioIoConfig("file", s"$root/out"))),
        KlioDataConfig(
          inputs = Seq(KlioIoConfig("file", skipExistenceCheck = true)),
          outputs = Seq(KlioIoConfig("file", skipExistenceCheck = true)))))
    graft.runner.KlioPipeline.runMulti(s, cfg, branches => {
      val a = branches(s"$root/inA")
        .withColumn("element", concat(lit("A:"), col("element")))
      val b = branches(s"$root/inB")
        .withColumn("element", concat(lit("B:"), col("element")))
      a.unionByName(b)
    })
    s.read.text(s"$root/out")
      .select(split(col("value"), ":").getItem(0).as("src"),
        split(col("value"), ":").getItem(1).cast("long").as("id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("checksum"))
      .orderBy(col("src"))
  }

  val p7Oracle: String =
    """SELECT CASE WHEN event_id % 2 = 0 THEN 'A' ELSE 'B' END AS src,
      |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS checksum
      |FROM events WHERE event_id < 4000
      |GROUP BY 1 ORDER BY src""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_prelude_route" -> (p1PreludeRoute _),
    "p2_recipients" -> (p2Recipients _),
    "p7_multi_input" -> (p7MultiInput _))

  val oracle: Map[String, String] = Map(
    "p1_prelude_route" -> p1Oracle,
    "p2_recipients" -> p2Oracle,
    "p7_multi_input" -> p7Oracle)
}
