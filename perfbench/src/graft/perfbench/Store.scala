package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** The sources layer seen from outside: bytes and files of a GraftDb store
  * on disk, and the bytes Hadoop's local file system read and wrote. */
object Store {
  /** Top-level store areas that hold history rather than live data: the
    * changelog generations compaction moved to `archive/`, and the
    * `*_index_archive` generations of the standing indexes. */
  def isHistory(name: String): Boolean = name == "archive" || name.endsWith("_archive")

  /** Total bytes of regular files under `dir`, skipping top-level entries
    * for which `skip` holds. */
  def bytes(dir: File, skip: String => Boolean): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length()
      else 0L
    Option(dir.listFiles()).map(_.filterNot(f => skip(f.getName)).map(walk).sum).getOrElse(0L)
  }

  /** Bytes of the store's history areas. */
  def historyBytes(root: File): Long = bytes(root, n => !isHistory(n))

  /** Data files (parquet parts, not checksums or markers) under `dir`. */
  def parquetFiles(dir: File): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(dir)
  }

  /** Live store bytes (history excluded) over the raw bytes of the live
    * rows. */
  def spaceAmp(root: File, rawLiveBytes: Long): Double =
    bytes(root, isHistory).toDouble / rawLiveBytes

  /** The user payload of one chunk: its float vector and its text. */
  def rawBytes(dim: Int, text: String): Long = 4L * dim + text.getBytes("UTF-8").length

  /** (bytes read, bytes written) so far through Hadoop's `file:` scheme,
    * all threads. */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
