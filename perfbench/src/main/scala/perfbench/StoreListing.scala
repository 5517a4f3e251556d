package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** A store directory as seen from outside: every regular file beneath it
  * with its size, keyed by relative path. Hidden and underscore-prefixed
  * top-level entries other than partition directories (staging dirs,
  * metadata files) are skipped, as Spark readers skip them. */
final case class StoreListing(files: Map[String, Long]) {
  private def data = files.filter(_._1.endsWith(".parquet"))
  def dataFiles: Int = data.size
  def bytes: Long = data.values.sum
  /** Top-level directories (`_bucket=3`, `delta_v=7`, ...) holding data. */
  def dirs: Set[String] = data.keySet.flatMap(p => p.split('/').headOption)

  /** Files present here but not in `before`: what an op wrote. Parquet part
    * names are unique per write, so a rewritten file counts as new. */
  def writtenSince(before: StoreListing): StoreListing =
    StoreListing(files.filter { case (p, _) => !before.files.contains(p) })
}

object StoreListing {
  private def visible(top: String): Boolean =
    !top.startsWith(".") && (!top.startsWith("_") || top.contains("="))

  def of(dir: String): StoreListing = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) StoreListing(Map.empty)
    else {
      val walk = Files.walk(root)
      try StoreListing(walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.size(p))
        .filter { case (rel, _) => visible(rel.split('/').head) }
        .toMap)
      finally walk.close()
    }
  }
}
