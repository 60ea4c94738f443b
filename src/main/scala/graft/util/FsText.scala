package graft.util

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Tiny durable-text-value store over the Hadoop FileSystem API — the
  * engine's offset/watermark/high-water-mark persistence. Goes through
  * `Path.getFileSystem`: at scale these values live next to the
  * destination tables on HDFS/object storage, not on whichever machine
  * happens to run the driver; only a write that resolves to the local
  * file system takes `java.nio` (see `writeLocal`). Single-writer
  * semantics (one mirror owns its state file), matching the reference's
  * per-flow catalog rows. */
object FsText {

  def read(path: String, conf: Configuration): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Atomic replace: write a temp sibling, then rename over the target
    * (FileContext rename-with-OVERWRITE is atomic on HDFS/posix-like
    * stores), so a reader — or a crashed writer — never observes a
    * half-written value. Concurrent WRITERS are still the caller's
    * problem: the store is single-writer (one mirror/catalog owns its
    * file); two catalogs over one dir can lose updates to each other
    * even with atomic replace. */
  def write(path: String, value: String, conf: Configuration): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf) match {
      case local: org.apache.hadoop.fs.LocalFileSystem =>
        writeLocal(local.pathToFile(p).toPath, value)
      case fs => writeVia(fs, p, value, conf)
    }
  }

  /** The same replace on the local disk through `java.nio`: Hadoop's local
    * file system forks `chmod` and `stat` processes to create and rename a
    * file, about 48 ms per replace against 11 ms for a create alone
    * (4-vCPU VM, no native Hadoop library). rename(2) replaces the target
    * atomically. The target's stale `.crc` sibling goes first, so a
    * checksummed read never checks the new content against it. */
  private def writeLocal(f: java.nio.file.Path, value: String): Unit = {
    java.nio.file.Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(
      s".${f.getFileName}.tmp.${java.util.UUID.randomUUID}")
    java.nio.file.Files.write(tmp, value.getBytes(StandardCharsets.UTF_8))
    java.nio.file.Files.deleteIfExists(
      f.resolveSibling(s".${f.getFileName}.crc"))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeVia(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      value: String, conf: Configuration): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException
          if fs.exists(tmp) =>
        // Stores without FileContext rename: non-atomic fallback.
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"atomic replace of $p failed")
        }
    }
  }

  /** Remove a value file (no-op when absent). */
  def delete(path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, false)
  }
}
