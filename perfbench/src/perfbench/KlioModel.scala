package perfbench

import graft.model.KlioJobRef

/** The reference's routing decision table for one klio job, as the
  * benchmark's model: every generated message has a kind, and the kind
  * alone decides whether the prelude processes it, passes it through or
  * drops it.
  */
object KlioModel {
  val Job: KlioJobRef = KlioJobRef("perfbench-job", "perfbench")
  val Upstream: KlioJobRef = KlioJobRef("perfbench-upstream", "perfbench")
  val Other: KlioJobRef = KlioJobRef("perfbench-other", "perfbench")
  val Suffix = ".wav"

  sealed abstract class Route
  case object Process extends Route
  case object PassThru extends Route
  case object Drop extends Route

  /** Message kinds and the route the decision table gives each. */
  sealed abstract class Kind(val route: Route)
  case object Ping extends Kind(PassThru)          // ping flag set
  case object Skip extends Kind(PassThru)          // output exists
  case object Force extends Kind(Process)          // output exists, forced
  case object Missing extends Kind(Drop)           // input missing
  case object LimitedUs extends Kind(Process)      // limited, we are recipient
  case object LimitedOther extends Kind(Drop)      // limited, not us
  case object Trigger extends Kind(Process)        // bottom-up, we are origin
  case object Plain extends Kind(Process)          // anyone, fresh work

  /** Transform outcome injected by the benchmark. */
  sealed abstract class Fail
  case object NoFail extends Fail
  case object Transient extends Fail // fails once, succeeds on retry
  case object Permanent extends Fail // fails every attempt

  final case class Msg(id: String, element: String, kind: Kind, fail: Fail)

  /** Data listings: `in` holds every element whose input exists, `out`
    * (a subset of `in`) every element whose output already exists.
    */
  final case class Listing(in: IndexedSeq[String], out: IndexedSeq[String],
      missing: IndexedSeq[String]) {
    val fresh: IndexedSeq[String] = in.diff(out)
  }

  /** Listing directories of `nIds` seeded element ids under `root`,
    * shared by every klio shape in a run.
    */
  final class Data(root: java.nio.file.Path, g: Gen, nIds: Int) {
    val dataIn: java.nio.file.Path = root.resolve("data-in")
    val dataOut: java.nio.file.Path = root.resolve("data-out")
    lazy val listing: Listing = {
      val l = KlioModel.listing(g, nIds)
      Gen.touchAll(dataIn, l.in, Suffix)
      Gen.touchAll(dataOut, l.out, Suffix)
      l
    }
  }

  def listing(g: Gen, nIds: Int): Listing = {
    val ids = g.shuffle((0 until nIds).map(i => f"t$i%06d"))
    val nIn = nIds * 3 / 4
    Listing(ids.take(nIn), ids.take(nIds / 4), ids.drop(nIn))
  }

  val Kinds: Seq[Kind] = Seq(Ping, Skip, Force, Missing, LimitedUs,
    LimitedOther, Trigger, Plain)

  /** Kind counts for a batch of `n` messages: an equal share per kind,
    * the remainder to `Plain`. The shares are chosen, not measured (no
    * measured traffic mix is available), so every branch of the decision
    * table carries the same weight.
    */
  def mix(n: Int): Seq[(Kind, Int)] = {
    val each = n / Kinds.size
    Kinds.map(k => k -> (if (k == Plain) n - each * (Kinds.size - 1) else each))
  }

  /** One batch of `n` messages with distinct elements, ids
    * `<prefix><index>`, `transient` + `permanent` failures injected
    * among the processed ones.
    */
  def batch(g: Gen, l: Listing, n: Int, prefix: String, transient: Int,
      permanent: Int): IndexedSeq[Msg] = {
    val byKind = mix(n)
    def need(ks: Kind*) = byKind.filter(k => ks.contains(k._1)).map(_._2).sum
    val outPick = g.pick(l.out, need(Skip, Force)).iterator
    val freshPick = g.pick(l.fresh,
      need(LimitedUs, LimitedOther, Trigger, Plain, Ping)).iterator
    val missPick = g.pick(l.missing, need(Missing)).iterator
    val kinds = g.shuffle(byKind.flatMap { case (k, c) => Seq.fill(c)(k) }
      .toIndexedSeq)
    val msgs = kinds.zipWithIndex.map { case (k, i) =>
      val e = k match {
        case Skip | Force => outPick.next()
        case Missing => missPick.next()
        case _ => freshPick.next()
      }
      Msg(f"$prefix$i%05d", e, k, NoFail)
    }
    val processed = msgs.indices.filter(i => msgs(i).kind.route == Process)
    val failing = g.pick(processed, transient + permanent)
    val fails = failing.take(transient).map(_ -> Transient) ++
      failing.drop(transient).map(_ -> Permanent)
    fails.foldLeft(msgs) { case (ms, (i, f)) => ms.updated(i, ms(i).copy(fail = f)) }
  }

  private def ref(j: KlioJobRef) =
    s"""{"jobName":"${j.jobName}","gcpProject":"${j.gcpProject}"}"""

  /** The message as one line of klio wire JSON. */
  def wire(m: Msg): String = {
    val (mode, recips, trig) = m.kind match {
      case LimitedUs => ("limited", Seq(Job), "null")
      case LimitedOther => ("limited", Seq(Other), "null")
      case Trigger => ("limited", Seq(Upstream, Job), ref(Job))
      case _ => ("anyone", Seq.empty, "null")
    }
    s"""{"element":"${m.element}","payload":"${m.id}","version":2,""" +
      s""""metadata":{"force":${m.kind == Force},"ping":${m.kind == Ping},""" +
      s""""intendedRecipients":{"mode":"$mode","recipients":[""" +
      recips.map(ref).mkString(",") + s"""],"triggerChildrenOf":$trig},""" +
      """"jobAuditLog":[]}}"""
  }

  /** Expected routing counts (processed ok, passed through, dropped). */
  def counts(msgs: Seq[Msg]): (Long, Long, Long) = {
    val ok = msgs.count(m => m.kind.route == Process && m.fail != Permanent)
    val pass = msgs.count(_.kind.route == PassThru)
    (ok.toLong, pass.toLong, (msgs.size - ok - pass).toLong)
  }

  /** Retry attempts the transform must report: a transient failure
    * retries once, a permanent one exhausts every retry.
    */
  def retryAttempts(msgs: Seq[Msg], retries: Int): Long =
    msgs.count(_.fail == Transient) +
      msgs.count(_.fail == Permanent).toLong * retries

  /** The traced retry check: the relayed `kmsg-retry-attempt` against
    * [[retryAttempts]]. A relay that never reported the metric reads 0,
    * so a metric that stops being emitted is a mismatch, not a pass.
    */
  def retryErrors(relay: Map[String, Long], msgs: Seq[Msg],
      retries: Int): Seq[String] = {
    val want = retryAttempts(msgs, retries)
    val got = relay.getOrElse("kmsg-retry-attempt", 0L)
    if (got == want) Nil else Seq(s"retry attempts $got, model $want")
  }

  private val Elem = "\"element\":\"([^\"]*)\"".r
  private val Payload = "\"payload\":\"([^\"]*)\"".r
  val ProcessedPayload = "(.*)\\|mfcc:\\d+x13".r

  /** (element, payload) of one output line of klio wire JSON. */
  def parseOut(line: String): (String, String) =
    (Elem.findFirstMatchIn(line).map(_.group(1)).getOrElse(""),
      Payload.findFirstMatchIn(line).map(_.group(1)).getOrElse(""))

  /** Messages whose output disagrees with the model: a routed message
    * missing from the output (or carrying the wrong payload), and any
    * output line no routed message explains. Dropped messages must be
    * absent.
    */
  def outputErrors(msgs: Seq[Msg], out: Seq[(String, String)]): Seq[String] = {
    val expect = msgs.filter(m => m.kind.route == PassThru ||
      (m.kind.route == Process && m.fail != Permanent))
      .map(m => m.id -> m).toMap
    val seen = out.groupBy { case (_, p) => p match {
      case ProcessedPayload(id) => id
      case id => id
    } }
    val bad = Seq.newBuilder[String]
    expect.foreach { case (id, m) =>
      seen.get(id) match {
        case Some(Seq((e, p))) =>
          val wantProcessed = m.kind.route == Process
          val isProcessed = ProcessedPayload.matches(p)
          if (e != m.element || wantProcessed != isProcessed)
            bad += s"$id: got ($e, $p) for ${m.kind}"
        case Some(more) => bad += s"$id: emitted ${more.size} times"
        case None => bad += s"$id: missing from output (${m.kind})"
      }
    }
    (seen.keySet -- expect.keySet).foreach(id => bad += s"$id: unexpected")
    bad.result()
  }
}
