package graft.io

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

/** The driver-sized files graft keeps beside its stores — the snapshot
  * store's `_CURRENT` pointer and manifests, a sync cursor and its lock,
  * the vector index's sidecars — read whole and replaced atomically
  * through the Hadoop FS API: no Spark job, any filesystem.
  *
  * Both go through the raw filesystem under a checksummed wrapper (the
  * local one): a replaced file carries no `.crc`, because a checksummed
  * rename moves the data and its `.crc` in two steps and a reader
  * between them fails its checksum. */
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
}
