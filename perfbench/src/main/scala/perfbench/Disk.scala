package perfbench

import java.io.File

/** File-system counts the benchmark takes from outside the program. */
object Disk {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  /** Bytes of every file under `path`, checksums included. */
  def bytes(path: String): Long = walk(new File(path)).map(_.length).sum

  /** Parquet data files under `path`. */
  def dataFiles(path: String): Seq[File] =
    walk(new File(path)).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSeq

  /** (partition directory, data files in it) for a table partitioned one level deep. */
  def partitions(table: String): Seq[(String, Int)] =
    Option(new File(table).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> dataFiles(d.getPath).size)
}
