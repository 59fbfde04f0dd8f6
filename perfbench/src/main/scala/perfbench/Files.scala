package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

object Files {
  def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  def write(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    JFiles.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Sum of the sizes of regular files under `f` whose name passes `keep`. */
  def bytesUnder(f: File, keep: String => Boolean = _ => true): Long =
    if (f.isFile) { if (keep(f.getName)) f.length else 0L }
    else Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder(_, keep)).sum

  def filesUnder(f: File, keep: String => Boolean): Seq[File] =
    if (f.isFile) { if (keep(f.getName)) Seq(f) else Nil }
    else Option(f.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
      .flatMap(filesUnder(_, keep))

  def isData(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")

  private def procKb(file: String, key: String): Double =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double = procKb("/proc/self/status", "VmHWM") / 1024.0
  def memTotalMb(): Double = procKb("/proc/meminfo", "MemTotal") / 1024.0
}
