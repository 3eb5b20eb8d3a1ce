package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.{BloomSidecar, Manifest, MergeOnRead, SchemaMemo, SkipStats}

/** A manifest table whose content the benchmark knows exactly: key `k`
  * in `[0, keys)`, value `v = value(seed, k)`, `dirs` directories of
  * `perDir` consecutive keys, one more appended directory as version 2,
  * and `deleted` keys tombstoned as version 3 (when non-empty).
  */
final case class TableModel(name: String, root: String, seed: Long,
    dirs: Int, perDir: Int, deleted: Set[Long]) {
  val baseKeys: Long = dirs.toLong * perDir
  val keys: Long = baseKeys + perDir
  def value(k: Long): Long = TableModel.value(seed, k)
  def live(k: Long): Boolean = k >= 0 && k < keys && !deleted(k)

  /** (count, sum of v) over live keys in `[lo, hi]` of the latest
    * version.
    */
  def range(lo: Long, hi: Long): (Long, Long) = {
    var n = 0L; var s = 0L; var k = math.max(lo, 0L)
    while (k <= math.min(hi, keys - 1)) {
      if (!deleted(k)) { n += 1; s += value(k) }
      k += 1
    }
    (n, s)
  }
  lazy val full: (Long, Long) = range(0, keys - 1)
  /** Version 1: the base directories, before the append and deletes. */
  lazy val travel: (Long, Long) = {
    var s = 0L; var k = 0L
    while (k < baseKeys) { s += value(k); k += 1 }
    (baseKeys, s)
  }
  /** Key range of a committed data directory, from its name. */
  def dirKeys(dir: String): Option[(Long, Long)] =
    "=(\\d+)$".r.findFirstMatchIn(dir).map { m =>
      val i = m.group(1).toLong
      (i * perDir, (i + 1) * perDir - 1)
    }
}

object TableModel {
  /** Kept small so Spark's long arithmetic computes the same value. */
  def value(seed: Long, k: Long): Long =
    java.lang.Math.floorMod(k * 7919L + seed * 104729L, 1000003L)

  def valueCol(seed: Long) =
    pmod(col("k") * lit(7919L) + lit(seed * 104729L), lit(1000003L))

  /** Write `[from, until)` as one directory per `perDir` keys through
    * one partitioned write, install every directory's skip stats and
    * bloom from one grouped aggregate, and return the directories in
    * key order.
    */
  def bulkWrite(s: SparkSession, dataRoot: String, seed: Long, from: Long,
      until: Long, perDir: Int, partitions: Int): Seq[String] = {
    val df = s.range(from, until).select(col("id").as("k"))
      .withColumn("v", valueCol(seed))
      .withColumn("tag", concat(lit("row-"), col("k").cast("string")))
      .withColumn("d", (col("k") / perDir).cast("long"))
    df.repartition(partitions, col("d")).write.mode("append").partitionBy("d")
      .parquet(dataRoot)
    graft.expressions.LongArrayOps.register(s)
    val stats = df.groupBy(col("d")).agg(count(lit(1)), min(col("k")),
      max(col("k")), call_function("graft_sidecar_bloom_agg", col("k"),
        lit(perDir.toLong), lit(0.01))).collect().sortBy(_.getLong(0))
    val tag = SkipStats.typeTagOf(LongType).get
    stats.toSeq.map { r =>
      val d = s"$dataRoot/d=${r.getLong(0)}"
      SkipStats.install(s, d, r.getLong(1), Seq("k" -> SkipStats.ColStats(tag,
        Some((r.getLong(2).toString, r.getLong(3).toString)))),
        Map("k" -> r.getLong(1)))
      BloomSidecar.install(s, d, Seq(("k", tag, r.getAs[Array[Byte]](4))))
      d
    }
  }

  /** Build a table: base directories committed as one version, one
    * directory appended, then `deleted` tombstoned.
    */
  def build(s: SparkSession, m: TableModel, partitions: Int): Unit = {
    val data = m.root + "/data"
    Manifest.commitAll(s, m.root, bulkWrite(s, data, m.seed, 0, m.baseKeys,
      m.perDir, partitions))
    Manifest.commitAll(s, m.root, bulkWrite(s, data, m.seed, m.baseKeys,
      m.keys, m.perDir, 1))
    if (m.deleted.nonEmpty) {
      import s.implicits._
      MergeOnRead.deleteKeys(s, m.root, "k", m.deleted.toSeq.toDF("k"),
        m.root + "/staging")
    }
  }
}

/** Read-only traffic over two tables, one client in a closed loop: key
  * ranges through `SkipStats.scanRanges`, point lookups through
  * `spark.read.format("graft")`, a full `MergeOnRead.snapshot` aggregate
  * and a time-travel read of version 1. `deep` has a few large
  * directories (scan-bound reads); `wide` has many small ones
  * (planning-bound reads).
  */
final class TableRead(c: Ctx) extends Workload {
  val name = "table_read"
  override val writes = false
  val DeepDirs = 8
  val DeepPerDir = 25000
  val WideDirs = 64
  val WidePerDir = 20

  private val g = new Gen(c.seed, 2)
  private var tables: IndexedSeq[TableModel] = IndexedSeq.empty
  private val s = c.spark

  def setup(): Unit = {
    val deepKeys = DeepDirs.toLong * DeepPerDir
    val deleted = (0 until (deepKeys / 100).toInt)
      .map(_ => g.long(deepKeys)).toSet
    tables = IndexedSeq(
      TableModel("deep", c.dir("read/deep").toString, c.seed, DeepDirs,
        DeepPerDir, deleted),
      TableModel("wide", c.dir("read/wide").toString, c.seed, WideDirs,
        WidePerDir, Set.empty))
    tables.foreach(TableModel.build(s, _, 4))
  }

  /** Planning spans also count the FS reads made inside them. */
  private var planReads = 0L
  private def plan[A](span: String)(f: => A): A = {
    val r0 = CountingLocalFs.reads.sum
    try c.tracer.span(span)(f)
    finally if (c.tracer.enabled) planReads += CountingLocalFs.reads.sum - r0
  }

  private def agg(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private final case class Query(kind: String, t: TableModel, lo: Long,
      hi: Long)

  /** The query mix, in a fixed cycle so every run and seed issues the
    * same kinds in the same order; keys and ranges come from the seed.
    * The cycle's length is odd, so a traced run, which traces every other
    * query, traces each entry within two cycles.
    */
  private val Cycle = Seq("range" -> 0, "point" -> 1, "full" -> 0,
    "range" -> 1, "travel" -> 0, "point" -> 0, "full" -> 1, "travel" -> 1,
    "range" -> 0)
  private var cycleAt = 0

  private def next(): Query = {
    val (kind, ti) = Cycle(cycleAt % Cycle.size)
    cycleAt += 1
    val t = tables(ti)
    kind match {
      case "range" =>
        val w = t.keys / 50
        val lo = g.long(t.keys - w)
        Query("range", t, lo, lo + w - 1)
      case "point" =>
        val k = g.long(t.keys)
        Query("point", t, k, k)
      case "full" => Query("full", t, 0, t.keys - 1)
      case _ => Query("travel", t, 0, t.baseKeys - 1)
    }
  }

  private def run(q: Query): (Long, Long) = q.kind match {
    case "range" =>
      val df = plan("io.skipstats.prune") {
        SkipStats.scanRanges(s, q.t.root,
          Seq(SkipStats.ColRange("k", q.lo.toString, q.hi.toString)),
          morKey = Some("k"))
      }
      agg(df)
    case "point" =>
      val df = plan("io.dsv2.plan") {
        val d = s.read.format("graft").option("morKey", "k").load(q.t.root)
          .filter(col("k") === q.lo)
          .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
        d.queryExecution.executedPlan
        d
      }
      val r = c.tracer.span("io.dsv2.exec")(df.collect()(0))
      (r.getLong(0), r.getLong(1))
    case "full" =>
      agg(plan("io.mor.snapshot")(MergeOnRead.snapshot(s, q.t.root, "k")))
    case "travel" =>
      val dirs = plan("io.manifest.entries") {
        Manifest.entries(s, q.t.root, Some(1))
      }
      agg(plan("io.schemamemo.read")(SchemaMemo.readMerged(s, dirs)))
  }

  private def expected(q: Query): (Long, Long) = q.kind match {
    case "full" => q.t.full
    case "travel" => q.t.travel
    case _ => q.t.range(q.lo, q.hi)
  }

  private var opNo = 0
  private final case class Pruning(considered: Int, kept: Int, useful: Int)

  /** Directories a range query considered and kept, and how many kept
    * directories hold a matching live key: the model's view of the
    * pruning, computed outside the timed request.
    */
  private def pruning(q: Query): Pruning = {
    val (kept, skipped) = c.check(SkipStats.prunedDirs(s, q.t.root, "k",
      q.lo.toString, q.hi.toString))
    val keptData = kept.filterNot(MergeOnRead.isTombstone)
    val useful = keptData.count(d => q.t.dirKeys(d).exists { case (a, b) =>
      (math.max(a, q.lo) to math.min(b, q.hi)).exists(q.t.live) })
    Pruning(keptData.size + skipped.size, keptData.size, useful)
  }

  /** One query of each kind on each table, then the measured cycle
    * restarts from its beginning.
    */
  def warmup(): Unit = {
    for (kind <- Seq("range", "point", "full", "travel"); t <- tables) {
      c.tracer.op(f"op-w$opNo%05d")(run(Query(kind, t, 0, t.keys / 50)))
      opNo += 1
    }
  }

  def measure(seconds: Double): Phase = {
    planReads = 0L
    val fs0 = FsCounters.now()
    val errs = Vector.newBuilder[String]
    val prunes = Vector.newBuilder[Pruning]
    var failed = 0L
    // whole cycles only, so every run measures the same query mix
    val (lat, traced, wall) = Loop.until(c, seconds, Cycle.size) { _ =>
      val q = next()
      val id = f"op-$opNo%05d"
      opNo += 1
      val (got, l) = Loop.timed(scala.util.Try(c.tracer.op(id)(run(q))))
      val want = expected(q)
      if (!got.toOption.contains(want)) {
        failed += 1
        errs += s"${q.kind} on ${q.t.name} [${q.lo}, ${q.hi}]: got $got, model $want"
      }
      if (c.tracer.enabled && q.kind == "range") prunes += pruning(q)
      l
    }
    val ps = prunes.result()
    val tracedOps = math.max(traced.count(identity), 1).toDouble
    val deep = tables.head
    val manifestBytes = c.check {
      val root = new org.apache.hadoop.fs.Path(deep.root)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val v = Manifest.versions(s, deep.root)
      (fs.getFileStatus(new org.apache.hadoop.fs.Path(root,
        f"manifest-v${v.last}%06d")).getLen, v.size)
    }
    Phase(lat, lat.size.toLong, wall, lat.size.toLong, failed, errs.result(),
      0L, FsCounters.now() - fs0, lat.size.toLong,
      Map(
        "io.plan.fs_read_ops" -> planReads / tracedOps,
        "io.skipstats.dirs_considered" -> Stats.mean(ps.map(_.considered.toDouble)),
        "io.skipstats.dirs_kept" -> Stats.mean(ps.map(_.kept.toDouble)),
        "io.skipstats.precision" -> (if (ps.isEmpty) 0.0
          else ps.map(_.useful).sum.toDouble / math.max(ps.map(_.kept).sum, 1)),
        "io.mor.live_tombstones" -> deep.deleted.size.toDouble,
        "io.manifest.bytes_latest" -> manifestBytes._1.toDouble,
        "io.manifest.versions_live" -> manifestBytes._2.toDouble),
      traced)
  }

  def close(): Unit = ()
}
