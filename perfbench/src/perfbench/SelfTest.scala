package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests, runnable without Spark:
  *
  *     python3 perfbench/run.py --self-test
  *
  * Exits 1 on the first failing check.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch {
      case e: Throwable => println(s"  ($e)"); false
    }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def refuses(f: => Any): Boolean =
    try { f; false } catch { case _: IllegalArgumentException => true }

  /** Inputs of every workload for one seed, as the bytes the program
    * would read.
    */
  private def inputs(seed: Long): Seq[String] = {
    val g = new Gen(seed, 1)
    val l = KlioModel.listing(g, 4000)
    val batch = KlioModel.batch(g, l, 200, "j00000-", 2, 1)
    val g2 = new Gen(seed, 2)
    val deleted = (0 until 50).map(_ => g2.long(400000))
    l.in ++ l.out ++ batch.map(KlioModel.wire) ++
      (0L until 100L).map(k => TableModel.value(seed, k).toString) ++
      deleted.map(_.toString)
  }

  /** What a correct pipeline emits for `msgs`. */
  private def correctOutput(msgs: Seq[KlioModel.Msg]): Seq[(String, String)] =
    msgs.collect {
      case m if m.kind.route == KlioModel.PassThru => (m.element, m.id)
      case m if m.kind.route == KlioModel.Process && m.fail != KlioModel.Permanent =>
        (m.element, s"${m.id}|mfcc:17x13")
    }

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args.headOption.getOrElse("."), "selftest")

    check("same seed gives byte-identical inputs") {
      val a = scratch.resolve("a.txt")
      val b = scratch.resolve("b.txt")
      Gen.writeLines(a, inputs(7))
      Gen.writeLines(b, inputs(7))
      java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))
    }
    check("a different seed gives different inputs") {
      inputs(7) != inputs(8)
    }
    check("a batch follows the routing mix and failure counts") {
      val msgs = KlioModel.batch(new Gen(3, 1),
        KlioModel.listing(new Gen(3, 0), 4000), 200, "x", 2, 1)
      msgs.map(_.element).distinct.size == 200 &&
        KlioModel.Kinds.forall(k => msgs.count(_.kind == k) == 25) &&
        KlioModel.counts(msgs) == (99L, 50L, 51L) &&
        KlioModel.retryAttempts(msgs, 1) == 3L
    }

    check("self time subtracts the union of direct children") {
      val spans = Seq(
        Span(1, 0, "op", "op", 0, 100),
        Span(2, 1, "op", "a", 10, 40),
        Span(3, 1, "op", "b", 30, 60),   // overlaps a
        Span(4, 2, "op", "c", 15, 20),   // grandchild: not root's child
        Span(5, 1, "op", "d", 90, 130))  // runs past the root: clipped
      val self = SpanMath.selfTimes(spans)
      self(1) == 100 - 60 && self(2) == 25 && self(3) == 30 &&
        self(4) == 5 && self(5) == 40
    }
    check("covered length merges overlapping and nested intervals") {
      SpanMath.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25
    }

    check("p90 refuses fewer than 100 samples") {
      refuses(Stats.percentile((1 to 99).map(_.toDouble), 0.9))
    }
    check("p90 of 1..100 is 90") {
      Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0
    }
    check("p50 refuses fewer than 20 samples") {
      refuses(Stats.percentile((1 to 19).map(_.toDouble), 0.5))
    }

    check("job attribution: by group, by sole overlap, else unattributed") {
      val t = new JobTracker
      def job(id: Int, g: Option[String], s: Long) = t.Job(id, g, s, s + 5)
      val ops = Map("op-1" -> (0L, 100L), "op-2" -> (50L, 150L))
      val (by, un) = Attribution.attribute(Seq(
        job(1, Some("op-1"), 60),          // own group
        job(2, None, 10),                  // only op-1 in flight
        job(3, None, 70),                  // two in flight: unattributed
        job(4, Some("op-1"), 120),         // stale group, only op-2 live
        job(5, Some("stream-run"), 70)),   // foreign group: left out
        ops)
      by("op-1").map(_.id) == Seq(1, 2) && by("op-2").map(_.id) == Seq(4) &&
        un == 1
    }

    val msgs = KlioModel.batch(new Gen(5, 1),
      KlioModel.listing(new Gen(5, 0), 4000), 200, "m", 2, 1)
    val good = correctOutput(msgs)
    check("klio model accepts the correct output") {
      KlioModel.outputErrors(msgs, good).isEmpty
    }
    check("klio model catches one dropped output") {
      KlioModel.outputErrors(msgs, good.tail).nonEmpty
    }
    check("klio model catches a duplicated output") {
      KlioModel.outputErrors(msgs, good :+ good.head).nonEmpty
    }
    check("klio model catches a dropped message that was emitted") {
      val dropped = msgs.find(_.kind.route == KlioModel.Drop).get
      KlioModel.outputErrors(msgs, good :+ (dropped.element -> dropped.id)).nonEmpty
    }
    check("klio model catches a processed message passed through") {
      val p = good.indexWhere(o => KlioModel.ProcessedPayload.matches(o._2))
      val KlioModel.ProcessedPayload(id) = good(p)._2
      KlioModel.outputErrors(msgs, good.updated(p, good(p)._1 -> id)).nonEmpty
    }

    check("klio retry check: model count passes, missing or wrong fails") {
      val want = KlioModel.retryAttempts(msgs, 1)
      KlioModel.retryErrors(Map("kmsg-retry-attempt" -> want), msgs, 1).isEmpty &&
        KlioModel.retryErrors(Map.empty, msgs, 1).nonEmpty &&
        KlioModel.retryErrors(Map("kmsg-retry-attempt" -> (want - 1)), msgs, 1)
          .nonEmpty
    }

    check("stream drain: batches after the last report, rows add up") {
      import StreamIngest.Batch
      // batch 4 found no data; its id is the one the next batch takes
      val before = Seq(Batch(3, 15, 900), Batch(4, 0, 5))
      val bs = before ++ Seq(Batch(4, 3200, 2000), Batch(5, 1600, 1500))
      StreamIngest.lastReported(before) == 3 &&
        StreamIngest.drain(bs, 3, 4800) == (3.5, Nil) &&
        StreamIngest.drain(bs, 4, 4800)._2.nonEmpty &&
        StreamIngest.drain(bs.init, 4, 4800)._2.nonEmpty
    }

    val table = TableModel("t", "unused", 9, 4, 10, Set(3L, 17L))
    val rows = (0L until table.keys).filter(table.live)
      .map(k => k -> table.value(k))
    def answer(rs: Seq[(Long, Long)]) = (rs.size.toLong, rs.map(_._2).sum)
    check("table model matches a brute-force answer") {
      table.range(0, 20) == answer(rows.filter(_._1 <= 20)) &&
        table.full == answer(rows) &&
        table.travel == answer((0L until 40L).map(k => k -> table.value(k)))
    }
    check("table model catches one dropped row") {
      answer(rows.tail) != table.full &&
        answer(rows.filter(_._1 <= 20).tail) != table.range(0, 20)
    }

    val model = Map(1L -> 10L, 2L -> 20L, 3L -> 30L)
    check("write model accepts the exact snapshot") {
      TableWrite.compare(model, model.toSeq).isEmpty
    }
    check("write model catches a dropped row, a duplicate and a stale value") {
      TableWrite.compare(model, model.toSeq.tail).nonEmpty &&
        TableWrite.compare(model, model.toSeq :+ (1L -> 10L)).nonEmpty &&
        TableWrite.compare(model, model.toSeq.updated(0, 1L -> 11L)).nonEmpty
    }

    check("BENCHMARK.json names exactly the metrics the harness reports") {
      val f = Paths.get("BENCHMARK.json")
      val text = new String(Files.readAllBytes(f), "UTF-8")
      def names(section: String) = {
        val body = text.split("\"" + section + "\"")(1).split("]")(0)
        "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      }
      names("end_to_end") == Main.EndToEnd.map(_._1) &&
        names("per_layer") == Main.PerLayer.map(_._1)
    }

    Gen.deleteTree(scratch)
    println(if (failures == 0) "all checks passed" else s"$failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
