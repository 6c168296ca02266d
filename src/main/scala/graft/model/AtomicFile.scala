package graft.model

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The two ways a metadata file is published whole: metastore specs, lake
  * commit files and stream checkpoints all go through here, so a crash or a
  * concurrent writer never leaves a reader a torn or doubly-claimed file.
  */
object AtomicFile {

  /** Atomically publish `bytes` at `file`, failing (false) if the path is
    * already taken — the claim primitive both commit protocols need.
    *
    * HDFS-like stores: `create(overwrite = false)` is an atomic namespace
    * operation server-side, and content visibility races are tolerable
    * there because the name is claimed first (a reader of a half-written
    * claim is the same window delta-standalone documents). The LOCAL
    * filesystem has neither property — `RawLocalFileSystem.create(false)`
    * is exists-then-open (two racers both pass) and the file is visible
    * mid-write — so file:// paths publish via hard link: write a hidden
    * temp sibling, `Files.createLink(dst, tmp)` (O(1), atomic, EEXIST when
    * the version is taken, and dst appears with its FULL content or not at
    * all), then drop the temp.
    */
  def atomicCreate(fs: FileSystem, file: Path,
      bytes: Array[Byte]): Boolean = {
    val qualified = fs.makeQualified(file).toUri
    if (qualified.getScheme == "file") {
      val dst = java.nio.file.Paths.get(qualified.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(dst, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // CREATE-time and WRITE-time failures must not be conflated: once
      // create(overwrite=false) returns, the name is OURS — a failure
      // while writing/closing is an IO fault, and reporting it as
      // "version taken" would leave our own torn partial at that version
      // for commitDelta to parse as the race winner (and permanently
      // break log replay there). Delete the partial claim and rethrow.
      val out = try fs.create(file, false) catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case e: java.io.IOException => return (if (fs.exists(file)) false else throw e)
      }
      try {
        try out.write(bytes) finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          try fs.delete(file, false)
          catch { case _: java.io.IOException => () } // best effort; original fault wins
          throw e
      }
    }
  }

  /** Publish `bytes` at `file`, replacing what is there: a hidden temp
    * sibling is renamed over `file`, so a crash mid-write leaves the old
    * content. On file:// that is one `rename(2)` (`ATOMIC_MOVE`): Hadoop's
    * `FileSystem.rename` keeps an existing target, and
    * `FileContext.rename(…, OVERWRITE)` deletes it first and forks a
    * `readlink` per path it checks. The temp has no `.crc`, so the target's
    * stale one is dropped first. Other schemes rename with `FileContext`,
    * which moves the sidecar too. Object stores rename by copying: not atomic.
    */
  def replace(fs: FileSystem, file: Path, bytes: Array[Byte]): Unit = {
    val qualified = fs.makeQualified(file).toUri
    if (qualified.getScheme == "file") {
      val dst = java.nio.file.Paths.get(qualified.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
        java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(file.getParent, s".${file.getName}.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try {
        try out.write(bytes) finally out.close()
      } catch {
        case e: java.io.IOException =>
          try fs.delete(tmp, false)
          catch { case _: java.io.IOException => () } // best effort; original fault wins
          throw e
      }
      FileContext.getFileContext(fs.getUri, fs.getConf).rename(tmp, file, Options.Rename.OVERWRITE)
    }
  }
}
