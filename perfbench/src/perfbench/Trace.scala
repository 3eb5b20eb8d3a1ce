package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `op` is the request
  * the span belongs to; `parent` is 0 for an op's root span. Times are
  * `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object SpanMath {

  /** Total length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus the part of its interval
    * that its direct children cover (children clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val inner = kids.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.dur - covered(inner))
    }.toMap
  }
}

object Stats {

  /** Nearest-rank percentile. A percentile needs at least ten samples
    * beyond it, so p90 refuses fewer than 100 samples and p50 fewer
    * than 20.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    val need = math.ceil(10 / (1 - p) - 1e-9).toInt
    require(xs.size >= need,
      f"p${p * 100}%.0f needs >= $need samples, got ${xs.size}")
    val sorted = xs.sorted
    sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1))
  }

  /** Median of any non-empty sample (mean of the middle pair). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** In-memory span recorder, switched on per thread. Disabled, it only
  * runs the body. Spans nest per thread; an op's root span also carries
  * its id as the Spark job group, so jobs submitted from the calling
  * thread are attributed.
  */
final class Tracer(sc: SparkContext) {
  private val on = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  /** Whether this thread's current request is traced. */
  def enabled: Boolean = on.get()
  def enabled_=(v: Boolean): Unit = on.set(v)
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  /** Op id → (start ms, end ms) wall-clock, for job attribution. */
  val opWindows = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]

  def op[A](opId: String)(f: => A): A = {
    sc.setJobGroup(opId, opId, interruptOnCancel = false)
    val ms = System.currentTimeMillis()
    try record("op", opId)(f)
    finally {
      opWindows.put(opId, (ms, System.currentTimeMillis()))
      sc.clearJobGroup()
    }
  }

  /** A span inside the current op; outside any op it only runs `f`. */
  def span[A](name: String)(f: => A): A = stack.get() match {
    case (_, opId) :: _ => record(name, opId)(f)
    case Nil => f
  }

  private def record[A](name: String, opId: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.map(_._1).getOrElse(0L)
    stack.set((id, opId) :: stack.get())
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      if (enabled) spans.add(Span(id, parent, opId, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark jobs seen through the public listener bus, with the job group
  * they were submitted under and their stage totals.
  */
final class JobTracker extends SparkListener {
  final case class Job(id: Int, group: Option[String], start: Long,
      var end: Long = -1, var tasks: Long = 0, var shuffleBytes: Long = 0,
      var spillBytes: Long = 0)

  @volatile var enabled = false
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, g, e.time)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def snapshot(): Seq[Job] = synchronized(jobs.values.map(_.copy()).toSeq)
}

object Attribution {

  val OpPrefix = "op-"

  /** Jobs per op. A job whose group names an op in flight at the job's
    * start belongs to it. A job without a group, or with the stale group
    * of an op that already ended (pool threads keep the properties of
    * the thread that created them), belongs to the op in flight at its
    * start only when exactly one op is; otherwise it is unattributed.
    * Jobs of other groups (a streaming query, the benchmark's own
    * checks) are left out. Returns the jobs per op and the unattributed
    * count.
    */
  def attribute(jobs: Seq[JobTracker#Job],
      ops: Map[String, (Long, Long)]): (Map[String, Seq[JobTracker#Job]], Int) = {
    var unattributed = 0
    val byOp = mutable.HashMap.empty[String, Vector[JobTracker#Job]]
    def live(o: String, t: Long) = ops.get(o).exists { case (s, e) =>
      t >= s && t <= e }
    jobs.foreach { j =>
      val foreign = j.group.exists(g => !g.startsWith(OpPrefix))
      if (!foreign) {
        val owner = j.group.filter(live(_, j.start)).orElse {
          val inFlight = ops.keys.filter(live(_, j.start))
          if (inFlight.size == 1) inFlight.headOption else None
        }
        owner match {
          case Some(o) => byOp(o) = byOp.getOrElse(o, Vector.empty) :+ j
          case None => unattributed += 1
        }
      }
    }
    (byOp.toMap, unattributed)
  }
}

/** The local FileSystem with metadata and open/create calls counted.
  * Installed through the session's Hadoop conf (`fs.file.impl`): the
  * local FS keeps byte statistics but reports no operation counts.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
    FileStatus}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.reads.increment(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.reads.increment(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFs.reads.increment(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.writes.increment(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.writes.increment(); super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val reads = new LongAdder
  val writes = new LongAdder
}

/** Hadoop FS traffic of the local scheme: bytes from the FileSystem
  * statistics, operations from [[CountingLocalFs]].
  */
final case class FsCounters(bytesRead: Long, bytesWritten: Long,
    readOps: Long, writeOps: Long) {
  def -(o: FsCounters): FsCounters = FsCounters(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps,
    writeOps - o.writeOps)
  def +(o: FsCounters): FsCounters = FsCounters(bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten, readOps + o.readOps,
    writeOps + o.writeOps)
}

object FsCounters {
  val zero: FsCounters = FsCounters(0, 0, 0, 0)

  @annotation.nowarn("cat=deprecation")
  def now(): FsCounters = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingLocalFs.reads.sum, CountingLocalFs.writes.sum)
  }
}

/** A [[graft.io.Committer]] passed through the public `committer`
  * parameter: delegates to the default committer and counts attempts,
  * lost races and the time spent creating manifest files.
  */
final class CountingCommitter extends graft.io.Committer {
  val attempts = new LongAdder
  val lost = new LongAdder
  val nanos = new LongAdder
  override def createIfAbsent(f: FileSystem, target: Path,
      body: Array[Byte]): Boolean = {
    val t0 = System.nanoTime()
    val won = graft.io.FsCreateCommitter.createIfAbsent(f, target, body)
    nanos.add(System.nanoTime() - t0)
    attempts.increment()
    if (!won) lost.increment()
    won
  }
  def reset(): Unit = { attempts.reset(); lost.reset(); nanos.reset() }
}

/** A klio metrics relay that keeps every emission until drained. An
  * observation re-reports its value for each action that reads its
  * cached plan, so consumers take the largest value per op, not the sum.
  */
final class RecordingRelay extends graft.operators.Metrics.Relay {
  private val seen = new ConcurrentLinkedQueue[(String, String, Long)]
  def emit(observation: String, metric: String, value: Long): Unit =
    seen.add((observation, metric, value))
  def drain(): Seq[(String, String, Long)] = {
    val out = Vector.newBuilder[(String, String, Long)]
    var e = seen.poll()
    while (e != null) { out += e; e = seen.poll() }
    out.result()
  }
}
