package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import graft.io.EclKw

/** Direct-call calibration of the ecl_kw layer over a run's own binary
  * files in `dir`: decode every keyword of every file with `EclKw.stream`,
  * then write the decoded keywords back with `EclKw.write`. */
object EclCalibration {
  private val Binary = Set("SMSPEC", "UNSMRY")
  def run(tr: Tracer, dir: Path): Map[String, Double] = {
    val files = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator.asScala.filter(p => Binary(p.getFileName.toString.split('.').last)).toSeq.sortBy(_.toString)
      finally s.close()
    }
    val bytes = files.map(java.nio.file.Files.size).sum.toDouble
    val decoded = tr.span("calibration", 0, "io.eclkw.decode") { _ =>
      val t0 = System.nanoTime()
      val kws = files.map(f => EclKw.stream(f.toString)(_.toVector))
      (kws, (System.nanoTime() - t0) / 1e9)
    }
    val out = java.nio.file.Files.createTempDirectory(dir.getParent, "eclkw-write-")
    val wrote = tr.span("calibration", 0, "io.eclkw.write") { _ =>
      val t0 = System.nanoTime()
      files.zip(decoded._1).foreach { case (f, kws) => EclKw.write(out.resolve(f.getFileName).toString, kws) }
      (System.nanoTime() - t0) / 1e9
    }
    Map("io.eclkw.decode_mb_s" -> bytes / 1e6 / decoded._2,
      "io.eclkw.write_mb_s" -> Gen.bytesUnder(out) / 1e6 / wrote)
  }
}
