package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generation. Everything the program sees comes from here,
  * so the same seed gives byte-identical inputs.
  */
final class Gen(seed: Long, stream: Long) {
  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
  def int(n: Int): Int = rnd.nextInt(n)
  def long(n: Long): Long = rnd.nextLong(n)
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
  def pick[A](xs: IndexedSeq[A], k: Int): IndexedSeq[A] = shuffle(xs).take(k)
}

object Gen {

  /** A deterministic 64-bit mix, for values derived from keys. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def writeLines(p: Path, lines: Seq[String]): Long = {
    Files.createDirectories(p.getParent)
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length
  }

  /** Create `n` empty files `<id><suffix>` in `dir`: a data listing. */
  def touchAll(dir: Path, ids: Iterable[String], suffix: String): Unit = {
    Files.createDirectories(dir)
    ids.foreach(id => Files.createFile(dir.resolve(id + suffix)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally walk.close()
    }
}
