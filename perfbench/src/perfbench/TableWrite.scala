package perfbench

import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.io.{Manifest, MergeOnRead}

/** Two clients in a closed loop on one table with a merge-on-read key
  * `k` and skip stats on `k`, each owning a disjoint key range. Clients
  * append (`Manifest.commitWithStats`) and update
  * (`MergeOnRead.updateRows`) in a fixed 3:2 cycle. Every `OpsPerWindow` ops the clients pause
  * for a maintenance window: a takedown (`MergeOnRead.deleteKeys`), a
  * `MergeOnRead.fold` and a `Manifest.expire`, which must run alone
  * because fold commits a full replacing version. After every window and
  * at the end the snapshot must equal the key → value model.
  */
final class TableWrite(c: Ctx) extends Workload {
  val name = "table_write"
  val Clients = 2
  val InitialKeys = 2000
  val AppendRows = 200
  val UpdateRows = 50
  val TakedownKeys = 40
  val OpsPerWindow = 16
  val KeepVersions = 3
  /** Bytes of one user row: two longs and a 16-character tag. */
  val RowBytes = 32L

  private val s = c.spark
  import s.implicits._
  private val root = c.dir("write/table").toString
  private val staging = c.dir("write/staging").toString
  private val model = mutable.HashMap.empty[Long, Long]
  private val lock = new ReentrantReadWriteLock(true)
  private var windowNo = 0
  private val gens = (0 until Clients).map(i => new Gen(c.seed, 10 + i))
  private val maintGen = new Gen(c.seed, 20)
  private val nextKey = Array.tabulate(Clients)(i => i.toLong << 32)

  private def tag(k: Long, ver: Long) = f"t$k%08x-$ver%06d".take(16)

  private def rows(kv: Seq[(Long, Long)], ver: Long): DataFrame =
    kv.map { case (k, v) => (k, v, tag(k, ver)) }.toDF("k", "v", "tag")

  private def append(client: Int, ver: Long): Long = {
    val g = gens(client)
    val from = nextKey(client)
    nextKey(client) += AppendRows
    val kv = (from until from + AppendRows).map(k => k -> g.long(1000000))
    val dir = s"$root/data/c$client-$ver-${java.util.UUID.randomUUID()}"
    rows(kv, ver).coalesce(1).write.parquet(dir)
    c.tracer.span("io.manifest.commit") {
      Manifest.commitWithStats(s, root, dir, Seq("k"), c.committer)
    }
    model.synchronized(model ++= kv)
    AppendRows * RowBytes
  }

  private def update(client: Int, ver: Long): Long = {
    val g = gens(client)
    val mine = model.synchronized(model.keys.filter(k =>
      (k >> 32) == client).toIndexedSeq.sorted)
    val kv = g.pick(mine, math.min(UpdateRows, mine.size))
      .map(k => k -> g.long(1000000))
    c.tracer.span("io.mor.update") {
      MergeOnRead.updateRows(s, root, "k", kv.map(_._1).toDF("k"),
        rows(kv, ver), staging, Seq("k"), c.committer)
    }
    model.synchronized(model ++= kv)
    kv.size * RowBytes
  }

  private final case class Window(errors: Seq[String], userBytes: Long,
      rewritten: Int, liveTombstones: Int, checkFs: FsCounters)

  /** The maintenance window, run with both clients paused; always traced
    * in a traced run.
    */
  private def maintain(): Window = {
    val was = c.tracer.enabled
    c.tracer.enabled = c.traceRun
    try {
      val live = TableWrite.liveTombstones(c.check(Manifest.entries(s, root)))
      val victims = model.synchronized(maintGen.pick(
        model.keys.toIndexedSeq.sorted, TakedownKeys))
      windowNo += 1
      val folded = c.tracer.op(f"op-m$windowNo%06d") {
        c.tracer.span("io.mor.delete") {
          MergeOnRead.deleteKeys(s, root, "k", victims.toDF("k"), staging,
            c.committer)
        }
        model.synchronized(model --= victims)
        val f = c.tracer.span("io.mor.fold") {
          MergeOnRead.fold(s, root, "k", staging, c.committer)
        }
        c.tracer.span("io.manifest.expire")(Manifest.expire(s, root, KeepVersions))
        f
      }
      val fs0 = FsCounters.now()
      val errors = check()
      Window(errors, TakedownKeys * 8L, folded.map(_.rewritten.size).getOrElse(0),
        live, FsCounters.now() - fs0)
    } finally c.tracer.enabled = was
  }

  /** Snapshot vs model: every key with its value, nothing more. */
  private def check(): Seq[String] = c.check {
    TableWrite.compare(model.synchronized(model.toMap),
      MergeOnRead.snapshot(s, root, "k").select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq)
  }

  def setup(): Unit = {
    (0 until Clients).foreach { i =>
      val kv = (0 until InitialKeys).map(j => (nextKey(i) + j) -> gens(i).long(1000000))
      nextKey(i) += InitialKeys
      val dir = s"$root/data/c$i-init"
      rows(kv, 0).coalesce(1).write.parquet(dir)
      Manifest.commitWithStats(s, root, dir, Seq("k"))
      model ++= kv
    }
  }

  def warmup(): Unit = { append(0, -1); update(1, -2) }

  def measure(seconds: Double): Phase = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val fs0 = FsCounters.now()
    val lat = new ConcurrentLinkedQueue[(Double, Boolean)]()
    val errs = new ConcurrentLinkedQueue[String]()
    val failed = new AtomicLong
    val userBytes = new AtomicLong
    val windows = new ConcurrentLinkedQueue[Window]()
    // ops are claimed in order; past the deadline no op is claimed once
    // the claimed count reaches a whole number of windows, so every run
    // measures whole cycles of 16 ops and one window
    var claimed = 0
    def claim(): Int = synchronized {
      if (System.nanoTime() >= deadline && claimed % OpsPerWindow == 0) -1
      else { claimed += 1; claimed - 1 }
    }
    val done = new AtomicInteger
    def client(i: Int): Runnable = () => {
      var mine = 0
      var n = claim()
      while (n >= 0) {
        c.traceRequest(n)
        // latency runs from when the client issues the op, so a
        // maintenance window it waits out counts against it
        val start = System.nanoTime()
        lock.readLock().lock()
        try {
          // a fixed 3:2 append/update cycle per client
          val isAppend = Seq(true, false, true, false, true)(mine % 5)
          mine += 1
          try {
            val b = c.tracer.op(f"op-$n%06d") {
              if (isAppend) append(i, n) else update(i, n)
            }
            userBytes.addAndGet(b)
          } catch {
            case scala.util.control.NonFatal(e) =>
              failed.incrementAndGet()
              errs.add(s"${if (isAppend) "append" else "update"}: $e")
          }
        } finally lock.readLock().unlock()
        lat.add(((System.nanoTime() - start) / 1e9, c.tracer.enabled))
        if (done.incrementAndGet() % OpsPerWindow == 0) {
          lock.writeLock().lock()
          try windows.add(maintain())
          catch {
            case scala.util.control.NonFatal(e) =>
              failed.incrementAndGet()
              errs.add(s"maintenance: $e")
          } finally lock.writeLock().unlock()
        }
        n = claim()
      }
      c.traceRequest(0)
    }
    val threads = (0 until Clients).map(i =>
      new Thread(client(i), s"perfbench-client-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val fs = FsCounters.now() - fs0
    val endCheck = check()
    val ws = windows.toArray(Array.empty[Window]).toSeq
    val (vs, bytesLatest) = c.check {
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val v = Manifest.versions(s, root)
      (v.size, f.getFileStatus(new org.apache.hadoop.fs.Path(p,
        f"manifest-v${v.last}%06d")).getLen)
    }
    val ls = lat.toArray(Array.empty[(Double, Boolean)]).toSeq
    Phase(ls.map(_._1), ls.size.toLong, wall, ls.size.toLong,
      failed.get + ws.count(_.errors.nonEmpty) + (if (endCheck.nonEmpty) 1 else 0),
      errs.toArray(Array.empty[String]).toSeq ++ ws.flatMap(_.errors) ++ endCheck,
      userBytes.get + ws.map(_.userBytes).sum,
      ws.foldLeft(fs)(_ - _.checkFs), ls.size.toLong,
      Map(
        "io.mor.fold_dirs_rewritten" -> Stats.mean(ws.map(_.rewritten.toDouble)),
        "io.mor.live_tombstones" -> Stats.mean(ws.map(_.liveTombstones.toDouble)),
        "io.manifest.versions_live" -> vs.toDouble,
        "io.manifest.bytes_latest" -> bytesLatest.toDouble),
      ls.map(_._2))
  }

  def close(): Unit = ()
}

object TableWrite {
  /** Tombstone directories the latest version lists. */
  def liveTombstones(entries: Seq[String]): Int =
    entries.count(MergeOnRead.isTombstone)

  /** The model check: the snapshot's rows must be exactly the model's
    * key → value pairs, each key once.
    */
  def compare(want: Map[Long, Long], got: Seq[(Long, Long)]): Seq[String] = {
    val gotMap = got.toMap
    val dup = got.size - gotMap.size
    val diff = (want.keySet ++ gotMap.keySet).toSeq.sorted
      .filter(k => want.get(k) != gotMap.get(k))
    (if (dup > 0) Seq(s"snapshot has $dup duplicate keys") else Nil) ++
      (if (diff.isEmpty) Nil
       else Seq(s"${diff.size} keys differ from the model, e.g. " +
         diff.take(5).map(k => s"$k: model ${want.get(k)}, snapshot ${gotMap.get(k)}")
           .mkString(", ")))
  }
}
