package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe commit of graft's LOAD side (reference
  * etl/load.py:534-606, `_promote_state_atomic`): the new copy is written
  * aside (the staged path), promoted by rename, and the previous copy is
  * kept as a recoverable old copy until the new one is in place. Every
  * commit site uses it: the Ingest and Catalog state files, the full-swap
  * merge target ([[graft.streaming.StreamOps.mergeIntoParquet]]), each
  * bucket of a [[BucketedTable]] and each directory [[Sink.compact]]
  * rewrites.
  *
  * [[commit]] is: drop a stale old copy, live → old, staged → live, drop
  * old. Each step is one FS metadata operation, so a crash leaves either
  * the previous or the new live copy, or one of two windows:
  *  - window 1, live → old done and staged not yet in: only the old copy
  *    exists, and it is the previous complete copy;
  *  - window 2, staged in and old not yet dropped: both exist, and live is
  *    the new complete copy.
  * [[heal]] closes either window (restore in 1, drop in 2); every writer
  * heals before it touches live, and so do the state-file readers.
  *
  * The one condition every caller must meet: its staged and old paths are
  * invisible to a reader of the live path. They sit outside the dataset
  * root, or their names start with `.`, which Spark's file listing always
  * skips (it skips a leading `_` only in names without `=`, so
  * `_old_kb=1` is read as a partition).
  *
  * Hadoop reports a failed rename or delete by RETURNING false; each one
  * here goes through [[must]], so a failed step cannot cascade into
  * deleting the only copy of the data. True atomicity needs a
  * transactional table format: on object stores rename is copy + delete,
  * so widen the maintenance window accordingly.
  */
private[graft] object Swap {

  def must(ok: Boolean, what: => String): Unit =
    if (!ok) throw new java.io.IOException(s"$what failed")

  def move(fs: FileSystem, from: Path, to: Path): Unit =
    must(fs.rename(from, to), s"rename $from -> $to")

  def drop(fs: FileSystem, p: Path): Unit =
    must(fs.delete(p, true), s"delete $p")

  /** Close a crash window of a [[commit]] of `live`: an old copy without
    * `live` is restored (window 1); one beside `live` is dropped
    * (window 2). One existence probe when there is nothing to heal.
    */
  def heal(fs: FileSystem, live: Path, old: Path): Unit =
    if (fs.exists(old)) {
      if (fs.exists(live)) drop(fs, old) else move(fs, old, live)
    }

  /** Promote `staged` to `live`, keeping the previous live copy as `old`
    * until the new one is in place. When the promoting rename fails, the
    * previous copy is put back before the failure propagates.
    */
  def commit(fs: FileSystem, staged: Path, live: Path, old: Path): Unit = {
    if (fs.exists(old)) drop(fs, old)
    val aside = fs.exists(live)
    if (aside) move(fs, live, old)
    try move(fs, staged, live)
    catch {
      case e: java.io.IOException if aside =>
        try move(fs, old, live) catch { case r: java.io.IOException => e.addSuppressed(r) }
        throw e
    }
    if (fs.exists(old)) drop(fs, old)
  }

  /** The UTF-8 content of a small file; None when it does not exist. */
  def readString(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        Some(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }

  /** Atomically replace the small file `p` with what `write` streams: the
    * content lands in `p.tmp`, then [[commit]] promotes it with `p.old` as
    * the old copy. Readers of `p` call [[healFile]] first.
    */
  def writeFile(fs: FileSystem, p: Path)(write: java.io.OutputStream => Unit): Unit = {
    healFile(fs, p)
    val tmp = sibling(p, ".tmp")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    commit(fs, tmp, p, sibling(p, ".old"))
  }

  /** [[heal]] for a file written by [[writeFile]]. */
  def healFile(fs: FileSystem, p: Path): Unit = heal(fs, p, sibling(p, ".old"))

  private def sibling(p: Path, suffix: String): Path =
    new Path(p.getParent, p.getName + suffix)
}
