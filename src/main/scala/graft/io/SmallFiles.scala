package graft.io

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

/** The driver-sized files graft keeps beside its stores — the snapshot
  * store's `_CURRENT` pointer and manifests, a sync cursor and its lock,
  * the vector index's sidecars — read whole, replaced atomically, and
  * claimed by one writer at a time through the Hadoop FS API: no Spark
  * job, any filesystem.
  *
  * Reads and replaces go through the raw filesystem under a checksummed
  * wrapper (the local one): a replaced file carries no `.crc`, because a
  * checksummed rename moves the data and its `.crc` in two steps and a
  * reader between them fails its checksum. A claim creates, renames
  * and deletes through the caller's filesystem, so a checksummed one
  * moves or removes a leftover's `.crc` together with it. */
private[graft] object SmallFiles {

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The whole file. A missing file raises FileNotFoundException, so a
    * caller that treats absence as a state catches exactly that; any
    * other IO error propagates. */
  def read(fs: FileSystem, p: Path): Array[Byte] = {
    val in = raw(fs).open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  def readText(fs: FileSystem, p: Path): String =
    new String(read(fs, p), "UTF-8")

  /** Replace `p` with `bytes` in one atomic step: write `<p>.tmp`, then
    * rename it over `p`, so a reader sees the old bytes or the new ones,
    * never a torn file. The local filesystem renames with rename(2)
    * (after dropping a stale `.crc` a checksummed writer may have left);
    * any other takes FileContext's rename(OVERWRITE). */
  def replace(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val rfs = raw(fs)
    val dst = rfs.makeQualified(p)
    val tmp = dst.suffix(".tmp")
    val out = rfs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (rfs.isInstanceOf[RawLocalFileSystem]) {
      rfs.delete(new Path(dst.getParent, s".${dst.getName}.crc"), false)
      if (!rfs.rename(tmp, dst)) throw new java.io.IOException(
        s"atomic replace: rename $tmp -> $dst failed")
    } else
      FileContext.getFileContext(dst.toUri, fs.getConf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  def replaceText(fs: FileSystem, p: Path, text: String): Unit =
    replace(fs, p, text.getBytes("UTF-8"))

  /** Why [[claim]] refused: the file is the live claim of another
    * writer, named; or the slot changed hands during the claim, and
    * `how` completes the sentence "the file …". */
  sealed trait Refusal
  final case class HeldBy(owner: String) extends Refusal
  final case class Raced(how: String) extends Refusal

  /** Take the single-writer claim on `p` — the one claim behind every
    * single-writer file graft commits through (the snapshot publish's
    * manifest slot, a sync cursor's lock): create `p` exclusively with a
    * `writer <owner> <nonce>` line followed by `body`. None = claimed.
    * On conflict:
    *  - a file naming ANOTHER owner is refused by name and left as it is;
    *  - a file gone before its owner was read was released: the create
    *    is retried once;
    *  - a file naming `owner` (a crashed predecessor: each caller
    *    serializes its own writes) or no owner (a crash truncated it) is
    *    reclaimed by QUARANTINE — renamed aside, read back and compared
    *    with the bytes its owner was read from. Equal: the leftover is
    *    deleted and the create retried once. Different: a live
    *    same-owner twin claimed in the window, so its claim is renamed
    *    back and this claim refused before the caller wrote anything (a
    *    blind delete would remove the twin's live claim, and both would
    *    write).
    * A create that fails for any reason but "exists" propagates its
    * IOException, and a body write that fails after a won create removes
    * the partial file first. */
  def claim(fs: FileSystem, p: Path, owner: String, nonce: String,
            body: String = ""): Option[Refusal] = {
    val bytes = s"writer $owner $nonce\n$body".getBytes("UTF-8")
    def create(): Boolean = {
      val out =
        try fs.create(p, false)
        catch {
          case _: FileAlreadyExistsException => return false
          // filesystems that report "exists" as a bare IOException
          case e: IOException => if (fs.exists(p)) return false else throw e
        }
      try { try out.write(bytes) finally out.close() }
      catch { case e: IOException => fs.delete(p, false); throw e }
      true
    }
    def bytesOf(q: Path): Option[Array[Byte]] =
      try Some(read(fs, q)) catch { case _: FileNotFoundException => None }
    if (create()) return None
    val seen = bytesOf(p) match {
      case Some(b) => b
      case None => // released between the failed create and the read
        return if (create()) None
          else Some(Raced("was released and at once re-claimed by another writer"))
    }
    val holder = new String(seen, "UTF-8").split('\n').map(_.trim)
      .find(_.startsWith("writer ")).flatMap(_.split("\\s+").lift(1))
    if (holder.exists(_ != owner)) return Some(HeldBy(holder.get))
    val aside = new Path(p.getParent, s"${p.getName}.steal.$nonce")
    if (!scala.util.Try(fs.rename(p, aside)).getOrElse(false))
      return Some(Raced("changed during the crash-leftover reclaim " +
        "(the quarantine rename failed)"))
    if (!bytesOf(aside).exists(java.util.Arrays.equals(_, seen))) {
      scala.util.Try(fs.rename(aside, p))
      return Some(Raced(s"was re-claimed by a live '$owner' twin during " +
        "the crash-leftover reclaim (its claim is restored)"))
    }
    fs.delete(aside, false)
    if (create()) None
    else Some(Raced("was re-claimed by another writer during the " +
      "crash-leftover reclaim"))
  }

  /** Whether `p` still carries the claim `nonce` took: false once another
    * writer replaced it, and false when it is gone. Any other IO error
    * propagates. */
  def holds(fs: FileSystem, p: Path, nonce: String): Boolean =
    try readText(fs, p).contains(nonce)
    catch { case _: FileNotFoundException => false }
}
