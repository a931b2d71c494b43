package graft.util

import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The one writer for the small metadata files the library keeps next
  * to its data: index manifests and tombstone lists, VectorIndex
  * params, and the empty marker files of the swap/delete protocols.
  *
  * On a local filesystem the bytes go through `java.nio`. Without the
  * native Hadoop library, every local `FileSystem.create` starts a
  * `chmod` process for the file and another for its `.crc` sidecar,
  * and every `mkdirs` one more: 9–11 ms per file against 0.07–0.11 ms
  * for a `java.nio` write (4-core VM, Hadoop 3.4). Here a file is
  * staged under a unique `.tmp-` name and then installed:
  *  - exclusively with `link(2)`, which is atomic and fails on an
  *    existing target ([[createExclusive]]);
  *  - over a previous version with an atomic move ([[replace]]).
  * Files written here carry no `.crc` sidecar. Hadoop reads a file
  * without one unverified, and it reads one written by a Hadoop
  * `create` against its sidecar, so a replace drops the old sidecar
  * before it moves the new bytes in: no read pairs new bytes with an
  * old checksum. No call here syncs, as Hadoop's local `create` does
  * not either.
  *
  * On any other filesystem (HDFS, object stores) it is the Hadoop
  * `create` + `rename` it replaces. */
object SmallFiles {

  /** The filesystem of `p` under the session's Hadoop conf. Build it
    * once per public call and pass it down: each call copies the
    * session's whole Hadoop conf. */
  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** On a local filesystem, the resolver from a Hadoop path to its
    * local file, the way Hadoop resolves it (a relative path against
    * the filesystem's working directory); None elsewhere. */
  private def local(fs: FileSystem): Option[Path => java.nio.file.Path] =
    fs match {
      case l: LocalFileSystem => Some(p => l.pathToFile(p).toPath)
      case r: RawLocalFileSystem => Some(p => r.pathToFile(p).toPath)
      case _ => None
    }

  /** A unique staging name beside `dest`: two writers racing one
    * target never share a staging file, so the install is the only
    * contended step. The `.tmp-` prefix hides it from parquet
    * discovery and marks crash litter for [[graft.streaming
    * .IndexManifest.vacuum]]; the random suffix keeps a staged marker
    * from ending in its marker's suffix (`.swapping`). */
  private def staging(dest: Path): Path =
    new Path(dest.getParent,
      s".tmp-${dest.getName}-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Write `bytes` to the fresh file `p`, creating its parents. */
  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    local(fs) match {
      case Some(file) =>
        Files.createDirectories(file(p).getParent)
        Files.write(file(p), bytes, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
        ()
      case None =>
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
    }

  /** Create the directory `p` and any missing parents. */
  def mkdirs(fs: FileSystem, p: Path): Unit = local(fs) match {
    case Some(file) => Files.createDirectories(file(p)); ()
    case None => fs.mkdirs(p); ()
  }

  /** Install `bytes` at `dest` unless `dest` or one of `taken` already
    * exists; false (nothing installed) when one does. On a local
    * filesystem `link(2)` makes the install itself create-exclusive,
    * closing the window between the exists-check and the install (a
    * rename(2) would silently replace a racer's file). HDFS rename
    * fails on an existing target; object stores rely on the
    * exists-check alone. */
  def createExclusive(fs: FileSystem, dest: Path, bytes: Array[Byte],
                      taken: Path*): Boolean = {
    val tmp = staging(dest)
    write(fs, tmp, bytes)
    local(fs) match {
      case Some(file) =>
        try {
          if ((dest +: taken).exists(p => Files.exists(file(p)))) false
          else { Files.createLink(file(dest), file(tmp)); true }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally { Files.deleteIfExists(file(tmp)); () }
      case None =>
        val ok = !(dest +: taken).exists(fs.exists) && fs.rename(tmp, dest)
        if (!ok) { fs.delete(tmp, false); () }
        ok
    }
  }

  /** Write `bytes` to `dest`, replacing any previous file. The new
    * bytes are staged and moved over the old file, never written into
    * it. */
  def replace(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = staging(dest)
    write(fs, tmp, bytes)
    local(fs) match {
      case Some(file) =>
        fs match {
          case c: ChecksumFileSystem =>
            Files.deleteIfExists(file(c.getChecksumFile(dest))); ()
          case _ =>
        }
        Files.move(file(tmp), file(dest),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        ()
      case None =>
        if (fs.exists(dest)) { fs.delete(dest, false); () }
        require(fs.rename(tmp, dest),
          s"SmallFiles.replace: rename of $tmp -> $dest failed")
    }
  }

  /** Create (or refresh) the empty marker file `p`. */
  def touch(fs: FileSystem, p: Path): Unit =
    replace(fs, p, Array.emptyByteArray)
}
