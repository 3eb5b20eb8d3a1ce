package perfbench

/** klio's traffic in one run: the `klio_batch` closed loop for the first
  * half of the measured time, then the `stream_ingest` latency and drain
  * phases. The streaming query starts during set-up and idles through
  * the batch phase.
  */
final class Klio(c: Ctx) extends Workload {
  val name = "klio"
  private val data = new KlioModel.Data(c.dir("klio"), new Gen(c.seed, 0), 3000)
  private val batch = new KlioBatch(c, data)
  private val stream = new StreamIngest(c, data)

  def setup(): Unit = { batch.setup(); stream.setup() }
  def warmup(): Unit = { batch.warmup(); stream.warmup() }

  def measure(seconds: Double): Phase = {
    val b = batch.measure(seconds / 2)
    val s = stream.measure(seconds / 2)
    // spark.* and the transform's time describe the batch jobs (the
    // ops); the stream phase reports through streaming.*. Only the batch
    // jobs' latency gates: a message's stream latency follows the batch
    // duration rounded up to whole 1 s trigger ticks, so it jumps by a
    // tick when a batch crosses one; it is reported per layer instead.
    Phase.combine(Seq("klio_batch" -> b, "stream_ingest" -> s),
      s.layer.filter { case (k, _) => !k.startsWith("spark.") } ++ b.layer,
      latency = Set("klio_batch"))
  }

  def close(): Unit = { batch.close(); stream.close() }
}
