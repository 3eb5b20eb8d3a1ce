package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.KlioJobRef

/** The standard klio pipeline prelude, re-expressed as declarative DataFrame
  * splits (reference `exec/src/klio_exec/commands/run.py:320-454` assembles
  * the same chain out of tagged-output DoFns).
  *
  * Semantics preserved:
  *  - recipients check (helpers.py:354-430): drop unless `anyone` or this
  *    job is a limited recipient; bottom-up → top-down resume via
  *    `triggerChildrenOf`.
  *  - audit log append (helpers.py:433-474).
  *  - ping filter (helpers.py:107-154): ping messages bypass work and flow
  *    straight to the event output.
  *  - output-exists + force (helpers.py:91-104,157-211): work whose output
  *    already exists is skipped unless forced — klio's incremental-compute
  *    memoization.
  *  - input-exists (helpers.py:91-96): messages whose input data is missing
  *    are dropped (or routed to trigger-upstream).
  *
  * Scale note: existence checks are joins of the message stream against a
  * listing DataFrame — existence joins in [[route]], semi/anti joins in the
  * split operators; vectorized and shuffle-free when the listing is
  * broadcast — never a per-element RPC like the reference's GCS `exists()`
  * call per message (`_helpers.py:267-279`).
  */
object Prelude {

  /** A three-way routed stream, klio's TaggedStates (process / pass_thru /
    * drop, `_helpers.py:50-54`): three filters of one [[route]]d frame.
    * Each branch re-evaluates the tag when consumed on its own; to read the
    * messages once across branches, cache the [[route]]d frame and take
    * its [[branch]]es.
    */
  case class Routed(process: DataFrame, passThru: DataFrame, drop: DataFrame)

  /** The column [[route]] adds: one of [[Process]], [[PassThru]] or
    * [[Drop]] per message.
    */
  val RouteCol = "klio_route"
  val Process = "process"
  val PassThru = "pass_thru"
  val Drop = "drop"

  // The decision table's predicates, shared by the split operators and
  // [[route]] so the two cannot drift apart. Each is null-safe: a message
  // from a source that bypassed decode (null flags, null metadata) must
  // land in exactly one branch — a bare null predicate excludes the row
  // from BOTH filters, silently losing it.

  /** Ping flag ORed with the data-input config's global ping, exactly like
    * the reference (helpers.py:107-154: msg_ping if msg_ping else
    * global_ping).
    */
  private def isPing(pingDefault: Boolean): Column =
    coalesce(col("metadata.ping"), lit(false)) || lit(pingDefault)

  private def isForced(forceDefault: Boolean): Column =
    coalesce(col("metadata.force"), lit(false)) || lit(forceDefault)

  /** Recipients v2: `anyone`, or `limited` with this job among the
    * recipients; null metadata/mode is not addressed to anyone.
    */
  private def isAddressed(job: KlioJobRef): Column = {
    val mode = col("metadata.intendedRecipients.mode")
    val isRecipient = exists(col("metadata.intendedRecipients.recipients"),
      r => r.getField("jobName") === job.jobName &&
        r.getField("gcpProject") === job.gcpProject)
    coalesce(mode === "anyone" || (mode === "limited" && isRecipient),
      lit(false))
  }

  private def isTriggerOrigin(job: KlioJobRef): Column = {
    val trig = col("metadata.intendedRecipients.triggerChildrenOf")
    coalesce(trig.getField("jobName") === job.jobName &&
      trig.getField("gcpProject") === job.gcpProject, lit(false))
  }

  /** The bottom-up → top-down flip (helpers.py:399-411). */
  private def resumeTopDown(metadata: Column): Column =
    metadata.withField("intendedRecipients.mode", lit("anyone"))
      .withField("intendedRecipients.triggerChildrenOf",
        lit(null).cast("struct<jobName:string,gcpProject:string>"))

  private def withAuditEntry(metadata: Column, job: KlioJobRef,
      now: Column): Column =
    metadata.withField("jobAuditLog", concat(metadata.getField("jobAuditLog"),
      array(struct(now.as("timestamp"), lit(job.jobName).as("jobName"),
        lit(job.gcpProject).as("gcpProject")))))

  /** Whether `element` is listed: one existence lookup. An `IN (listing)`
    * in a projection becomes an existence join, which can neither multiply
    * rows (a listing may hold an element twice) nor lose them; it is a
    * broadcast hash join while the listing's size is under Spark's
    * broadcast threshold, as a driver listing's is up to some 10^5 names.
    */
  private def isListed(listing: DataFrame): Column =
    coalesce(col("element").isin(listing.select(col("element"))), lit(false))

  /** KlioFilterPing: ping messages trace the DAG without doing work, so
    * they bypass it and flow straight to the event output; a config-level
    * `ping: true` job does no work at all.
    */
  def splitPing(df: DataFrame, pingDefault: Boolean = false)
      : (DataFrame, DataFrame) =
    (df.filter(!isPing(pingDefault)), df.filter(isPing(pingDefault)))

  /** KlioGcsCheckOutputExists + KlioFilterForce, fused: messages whose
    * output already exists pass through unless forced (message flag or
    * config default). `existingOutputs` must expose an `element` column.
    */
  def splitOutputExists(df: DataFrame, existingOutputs: DataFrame,
      forceDefault: Boolean = false): (DataFrame, DataFrame) = {
    val existing = broadcast(existingOutputs.select(col("element")))
    val exists = df.join(existing, Seq("element"), "left_semi")
    val missing = df.join(existing, Seq("element"), "left_anti")
    (missing.unionByName(exists.filter(isForced(forceDefault))),
      exists.filter(!isForced(forceDefault)))
  }

  /** KlioGcsCheckInputExists + drop-not-found: keep messages whose input
    * data exists; the rest are dropped (reference logs and swallows,
    * helpers.py:264-284 — we return them for counting / trigger-upstream).
    */
  def splitInputExists(df: DataFrame, existingInputs: DataFrame)
      : (DataFrame, DataFrame) = {
    val existing = broadcast(existingInputs.select(col("element")))
    (df.join(existing, Seq("element"), "left_semi"),
      df.join(existing, Seq("element"), "left_anti"))
  }

  /** KlioCheckRecipients (v2): `anyone` → process; `limited` → process only
    * if `job` is a recipient, flipping to `anyone` when this job is the
    * `triggerChildrenOf` job (bottom-up backfill reaching its origin resumes
    * top-down flow, helpers.py:399-411). Everything else drops.
    */
  def checkRecipients(df: DataFrame, job: KlioJobRef)
      : (DataFrame, DataFrame) = {
    val keep = isAddressed(job)
    val flipped = df.filter(keep && isTriggerOrigin(job))
      .withColumn("metadata", resumeTopDown(col("metadata")))
    (df.filter(keep && !isTriggerOrigin(job)).unionByName(flipped),
      df.filter(!keep))
  }

  /** KlioUpdateAuditLog: append (now, this job) to the provenance trail.
    * `now` defaults to current_timestamp; pass a literal for deterministic
    * tests.
    */
  def updateAuditLog(df: DataFrame, job: KlioJobRef,
      now: Column = current_timestamp()): DataFrame =
    df.withColumn("metadata", withAuditEntry(col("metadata"), job, now))

  /** KlioTriggerUpstream's metadata rewrite (helpers.py:702-734): address
    * the message to {upstream, this job} in limited mode with
    * `triggerChildrenOf` = this job, so the backfill resumes top-down once
    * it flows back through here.
    */
  def triggerUpstream(df: DataFrame, upstream: KlioJobRef, self: KlioJobRef)
      : DataFrame =
    df.withColumn("metadata", col("metadata")
      .withField("intendedRecipients.mode", lit("limited"))
      .withField("intendedRecipients.recipients",
        array(
          struct(lit(upstream.jobName).as("jobName"),
            lit(upstream.gcpProject).as("gcpProject")),
          struct(lit(self.jobName).as("jobName"),
            lit(self.gcpProject).as("gcpProject"))))
      .withField("intendedRecipients.triggerChildrenOf",
        struct(lit(self.jobName).as("jobName"),
          lit(self.gcpProject).as("gcpProject"))))

  /** The full default prelude in the reference's order (run.py:511-558) as
    * ONE routing decision per message: recipients → audit → ping →
    * output-exists(+force) → input-exists. Returns the messages with a
    * [[RouteCol]] tag, all computed in a single projection: pass_thru is
    * ping ∪ skipped, drop is wrong recipient ∪ input missing. Messages
    * addressed to this job carry the audit entry (and the origin flip);
    * wrong-recipient drops keep their metadata untouched. Each listing is
    * one existence lookup, so reading the tagged frame once reads the
    * messages once, whichever branches consume it.
    */
  def route(df: DataFrame, job: KlioJobRef,
      existingInputs: Option[DataFrame],
      existingOutputs: Option[DataFrame],
      forceDefault: Boolean = false,
      pingDefault: Boolean = false,
      now: Column = current_timestamp()): DataFrame = {
    val metadata = col("metadata")
    val addressed = withAuditEntry(
      when(isTriggerOrigin(job), resumeTopDown(metadata)).otherwise(metadata),
      job, now)
    val outputExists = existingOutputs.fold(lit(false))(isListed)
    val inputExists = existingInputs.fold(lit(true))(isListed)
    val tag = when(!isAddressed(job), Drop)
      .when(isPing(pingDefault), PassThru)
      .when(outputExists && !isForced(forceDefault), PassThru)
      .when(!inputExists, Drop)
      .otherwise(Process)
    df.withColumns(Map(
      "metadata" -> when(isAddressed(job), addressed).otherwise(metadata),
      RouteCol -> tag))
  }

  /** One route of a [[route]]d frame, tag dropped. */
  def branch(tagged: DataFrame, r: String): DataFrame =
    tagged.filter(col(RouteCol) === r).drop(RouteCol)

  /** Per-route message counts of a [[route]]d frame, observed by the first
    * action that reads it; `obs.get(Drop)` etc. then read them. A count,
    * not a sum, so an empty frame reads 0, not null.
    */
  def observeRoutes(tagged: DataFrame, obs: Observation): DataFrame =
    tagged.observe(obs,
      count(when(col(RouteCol) === Process, 1)).as(Process),
      count(when(col(RouteCol) === PassThru, 1)).as(PassThru),
      count(when(col(RouteCol) === Drop, 1)).as(Drop))

  /** The standard prelude as klio's three TaggedStates: process / pass_thru
    * (ping ∪ skipped) / drop (wrong recipient ∪ input missing), each a
    * filter of the one [[route]]d frame.
    */
  def standard(df: DataFrame, job: KlioJobRef,
      existingInputs: Option[DataFrame],
      existingOutputs: Option[DataFrame],
      forceDefault: Boolean = false,
      pingDefault: Boolean = false,
      now: Column = current_timestamp()): Routed = {
    val tagged = route(df, job, existingInputs, existingOutputs,
      forceDefault, pingDefault, now)
    Routed(branch(tagged, Process), branch(tagged, PassThru),
      branch(tagged, Drop))
  }

  /** KlioDebugMessage (helpers.py:477-520): log each element with a prefix
    * as it flows past, pass-through. Logging per row is the reference's
    * semantics (debug tooling, not a hot-path op); executor-side log4j.
    */
  def debugMessage(df: DataFrame, prefix: String = "DEBUG"): DataFrame = {
    val logger = udf((e: String) => {
      org.apache.log4j.Logger.getLogger("graft.klio.debug")
        .info(s"$prefix $e")
      e
    })
    df.withColumn("element", logger(col("element")))
  }

  /** KlioDrop (helpers.py:264-284): terminal branch — count via observe,
    * propagate nothing.
    */
  def dropAll(df: DataFrame): DataFrame =
    df.observe("klio_drop", count(lit(1)).as("kmsg-drop")).filter(lit(false))

  /** Directory listing as an `element` DataFrame: basenames under `dir`
    * matching `suffix`, suffix stripped — the vectorized stand-in for
    * klio's per-element existence RPC. Listing happens once per batch on
    * the driver (a metadata op) — the fast path for directories that fit
    * one RPC; [[distributedListingFor]] is the same contract for object
    * stores with millions of keys.
    */
  def listingFor(spark: SparkSession, dir: String, suffix: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names: Seq[String] =
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).toSeq.map(_.getPath.getName)
        // hidden-file convention (matches Spark's file-source index, so
        // this listing and distributedListingFor stay interchangeable):
        // '_'/'.' prefixes are metadata (_SUCCESS, .crc), never data
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .filter(_.endsWith(suffix))
        .map(_.dropRight(suffix.length))
    import spark.implicits._
    names.toDF("element")
  }

  /** [[listingFor]] through Spark's file-source index instead of a
    * driver `listStatus`: the `binaryFile` source discovers files with a
    * distributed listing job once the path count crosses
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, and the
    * projection keeps only `path`, so file CONTENT is pruned at the scan
    * — no byte of data is read, only metadata. Same (element) contract,
    * so the existence-check joins are interchangeable between the two;
    * use this for object-store prefixes with millions of keys where a
    * single driver listing RPC stalls the batch.
    */
  def distributedListingFor(spark: SparkSession, dir: String,
      suffix: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    if (!fs.exists(path)) Seq.empty[String].toDF("element")
    else {
      val glob = if (suffix.nonEmpty) s"*$suffix" else "*"
      val name = substring_index(col("path"), "/", -1)
      val element =
        if (suffix.isEmpty) name
        else name.substr(lit(1), length(name) - suffix.length)
      spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(dir)
        .select(element.as("element"))
    }
  }
}
