package graft.perfbench

import org.apache.spark.sql.graft.ManifestFileIndex

/** Storage figures of a graft lake table, read from its manifest and
  * directory (never through a query).
  */
object LakeState {
  def version(path: String): Int = ManifestFileIndex.claimedVersion(path)

  def liveFiles(path: String): Int =
    ManifestFileIndex.read(path).map(_._2.size).getOrElse(0)

  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
    else f.length()

  def metrics(path: String): Map[String, Double] = {
    val entries = ManifestFileIndex.read(path).map(_._2).getOrElse(Nil)
    val meta = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("_graft") && f.getName != "_graft_dv")
    Map(
      "lake.live_data_files" -> entries.size.toDouble,
      "lake.data_bytes" -> entries.map(_.size).sum.toDouble,
      "lake.metadata_bytes" -> meta.map(bytes).sum.toDouble)
  }
}
