package perfbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local-file helpers for the benchmark's own bookkeeping. */
object Files {
  def deleteRec(p: Path): Unit =
    if (JFiles.exists(p)) {
      if (JFiles.isDirectory(p)) JFiles.list(p).iterator().asScala.toList.foreach(deleteRec)
      JFiles.delete(p)
    }

  def du(p: Path): Long =
    if (!JFiles.exists(p)) 0L
    else JFiles.walk(p).iterator().asScala.filter(JFiles.isRegularFile(_)).map(JFiles.size).sum

  /** Parquet part files directly under `dir`, sorted by name. */
  def parts(dir: Path): Seq[Path] =
    JFiles.list(dir).iterator().asScala.toSeq
      .filter(f => f.getFileName.toString.startsWith("part-") && f.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)

  /** Copy the part files of `from` into a fresh `to`; bytes copied. */
  def landParts(from: Path, to: Path): Long = {
    deleteRec(to)
    JFiles.createDirectories(to)
    parts(from).map { f =>
      JFiles.copy(f, to.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
      JFiles.size(f)
    }.sum
  }

  /** Order-free content fingerprint of a frame: row count plus the sums of
    * the high and low 32 bits of a per-row 64-bit hash over `cols`.
    */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(lit(0xffffffffL))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
