package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Input-generation helpers shared by the workloads. */
object Gen {
  /** Generate into a scratch sibling of `dir`, then rename it to `dir`
    * (which must not exist yet): the program only ever sees complete
    * inputs. */
  def publish(dir: Path)(write: Path => Unit): Path = {
    require(!Files.exists(dir), s"$dir already exists")
    Files.createDirectories(dir.getParent)
    val tmp = Files.createTempDirectory(dir.getParent, s".${dir.getFileName}-")
    write(tmp)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Total bytes of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** A seeded permutation of 0 until n. */
  def permutation(rng: java.util.SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** `k` distinct seeded picks from `xs`, in `xs` order. */
  def pick[A](rng: java.util.SplittableRandom, xs: IndexedSeq[A], k: Int): IndexedSeq[A] =
    permutation(rng, xs.length).take(k).sorted.toIndexedSeq.map(xs)
}
