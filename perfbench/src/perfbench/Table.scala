package perfbench

/** The table layer's traffic in one run: the `table_read` mix for the
  * first half of the measured time, then the `table_write` mix. The two
  * phases never overlap, so at most two client threads run and the
  * reads see no concurrent writes.
  */
final class Table(c: Ctx) extends Workload {
  val name = "table"
  private val read = new TableRead(c)
  private val write = new TableWrite(c)

  def setup(): Unit = { read.setup(); write.setup() }
  def warmup(): Unit = { read.warmup(); write.warmup() }

  def measure(seconds: Double): Phase = {
    val r = read.measure(seconds / 2)
    val w = write.measure(seconds / 2)
    // planning layers come from the reads; manifest and MoR state from
    // the table the writes maintain
    Phase.combine(Seq("table_read" -> r, "table_write" -> w),
      r.layer ++ w.layer, latency = Set("table_read", "table_write"))
  }

  def close(): Unit = { read.close(); write.close() }
}
