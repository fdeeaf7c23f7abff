package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

/** File helpers for deriving inputs and fingerprinting them. */
object Fs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def copy(from: File, to: File): Unit = {
    to.getParentFile.mkdirs()
    Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) Option(from.listFiles()).toSeq.flatten
      .foreach(c => copyTree(c, new File(to, c.getName)))
    else if (from.exists()) copy(from, to)

  /** The data files of a generated table directory, in name order. */
  def partFiles(tableDir: File): Seq[File] =
    Option(tableDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** A parquet file's row count, from its footer alone. */
  def parquetRows(f: File): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toURI), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Every regular file under `root`, as sorted relative paths. */
  def listTree(root: File): Seq[String] = {
    def go(f: File, rel: String): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .flatMap(c => go(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel)
    go(root, "").sorted
  }

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** SHA-256 over every data file's relative path and bytes: the input
    * digest a run prints, so equal seeds can be shown to give equal inputs.
    * Spark's per-write UUIDs in file names and its checksum and marker
    * files are left out; they differ between equal writes. */
  def digest(root: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    listTree(root).filterNot(r => r.endsWith(".crc") || r.endsWith("_SUCCESS"))
      .map(r => (Uuid.replaceAllIn(r, "-"), r)).sortBy(_._1).foreach { case (name, rel) =>
      md.update(name.getBytes("UTF-8"))
      md.update(Files.readAllBytes(new File(root, rel).toPath))
    }
    hex(md.digest())
  }

  def sha256(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}
