package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Local-filesystem [[CheckpointFileManager]] over java.nio, for `file:`
  * checkpoints (optimization round 20, guide §6: small files hurt twice).
  *
  * Why it exists — measured on a host without libhadoop's NativeIO
  * (thread-dump sampling of the stream execution thread during the
  * per-micro-batch floor probe, `graft.tools.ProbeBatchFloor`): with the
  * default managers every checkpoint file (offset log, commit log, every
  * state delta) routed through Hadoop's stock local filesystem, which
  *
  *   - fork/execs `chmod` on every file create
  *     (`RawLocalFileSystem.setPermission` shells out when NativeIO is
  *     absent — one fork per data file plus one per `.crc` sidecar),
  *   - fork/execs `readlink` on every FileContext rename
  *     (`AbstractFileSystem.rename` → `getFileLinkStatus` →
  *     `FileUtil.readLink` shells out), and
  *   - writes a `.crc` SIDECAR beside every file (`ChecksumFs`), doubling
  *     the small-file count — this is the HADOOP checksum layer, separate
  *     from (and additional to) Spark 4.1's
  *     `spark.sql.streaming.checkpoint.fileChecksum.enabled` sidecars,
  *     which the replay sessions already disable.
  *
  * Sampling attributed ~19% of the stream execution thread to
  * `ProcessImpl.forkAndExec` and ~34% to checksum/local-FS machinery.
  * Sessions built by `GraftSession.local` (and the test session) now
  * register [[graft.io.NioLocalFileSystem]], which removes the two spawns
  * for every `file:` caller but keeps the sidecars; this manager still
  * skips the sidecars and the FileContext layers. A replay checkpoint
  * lives on local disk for under a minute; java.nio
  * `createDirectories`/`createLink`/`move`/`list` do the same job with
  * zero forks, zero sidecars and OS-native atomic publish.
  *
  * Scope: LOCAL PATHS ONLY — construction refuses a non-`file:` scheme
  * loudly. Production checkpoints on HDFS/S3 keep Spark's default
  * managers (rename semantics, checksums and durability guarantees there
  * are exactly what this class strips for the local replay case); the
  * replay child sessions always opt in via
  * `spark.sql.streaming.checkpointFileManagerClass` (see
  * [[ReplayHarness.session]]).
  *
  * Semantics mirrored from Spark's `FileContextBasedCheckpointFileManager`:
  *   - `createAtomic` writes a dot-tmp in the target directory and
  *     publishes it on close. With `overwriteIfPossible=false` the publish
  *     is a hard link (`Files.createLink`), which refuses an existing
  *     destination atomically, so of two concurrent writers exactly one
  *     wins and the other gets Hadoop's `FileAlreadyExistsException` (the
  *     type `HDFSMetadataLog` catches for concurrent-writer detection).
  *     A rename cannot do this on Linux: `ATOMIC_MOVE` replaces an
  *     existing target even without `REPLACE_EXISTING`. With
  *     `overwriteIfPossible=true` it is an atomic replacing move.
  *   - `list`/`open` on a missing path raise `FileNotFoundException`
  *     (java.nio's `NoSuchFileException` is translated — callers catch the
  *     Hadoop/java.io type).
  *   - `delete` is recursive and silent on a missing path.
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  require(path.toUri.getScheme == null || path.toUri.getScheme == "file",
    s"NioCheckpointFileManager handles only local file: checkpoints, got " +
      s"'$path' — keep spark.sql.streaming.checkpointFileManagerClass at " +
      "its default for remote checkpoint locations")

  private def toNio(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** Scheme-qualified Hadoop path for a nio path (what FileContext's
    * makeQualified returns for local files).
    */
  private def toHadoop(p: JPath): Path = new Path("file", null, p.toString)

  private def status(p: JPath): FileStatus = {
    val attrs = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis, toHadoop(p))
  }

  override def createAtomic(p: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = toNio(p)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
    val underlying = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new CancellableFSDataOutputStream(underlying) {
      @volatile private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          underlying.close()
          if (overwriteIfPossible)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else
            try Files.createLink(dst, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"destination $dst already exists")
            } finally Files.deleteIfExists(tmp)
        }
      }
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlying.close() catch { case _: java.io.IOException => () }
          Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = {
    val channel =
      try FileChannel.open(toNio(p), StandardOpenOption.READ)
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
      }
    new FSDataInputStream(new NioCheckpointFileManager.SeekableChannelStream(channel))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val stream =
      try Files.list(toNio(p))
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
      }
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(child => filter.accept(toHadoop(child)))
        .map(status).toArray
    } finally stream.close()
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(toNio(p))

  override def exists(p: Path): Boolean = Files.exists(toNio(p))

  override def delete(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(toNio(p)).iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
    } catch {
      case _: NoSuchFileException => () // mirror the built-in: silent no-op
      case _: FileNotFoundException => ()
    }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val nio = toNio(path)
    Files.createDirectories(nio)
    toHadoop(nio)
  }
}

object NioCheckpointFileManager {
  /** Minimal Seekable+PositionedReadable adapter over a FileChannel —
    * what FSDataInputStream requires of its wrapped stream. Checkpoint
    * readers (HDFSMetadataLog, state store deltas) read sequentially and
    * occasionally seek(0); positioned reads loop via the channel's
    * thread-safe pread.
    */
  private final class SeekableChannelStream(channel: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    private val one = ByteBuffer.allocate(1)

    override def read(): Int = {
      one.clear()
      if (channel.read(one) <= 0) -1 else one.get(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      channel.read(ByteBuffer.wrap(b, off, len))

    override def seek(pos: Long): Unit = { channel.position(pos); () }
    override def getPos: Long = channel.position()
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int =
      channel.read(ByteBuffer.wrap(buffer, offset, length), position)

    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = read(position + done, buffer, offset + done, length - done)
        if (n < 0) throw new java.io.EOFException(
          s"EOF at ${position + done} reading $length bytes")
        done += n
      }
    }

    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)

    override def available(): Int =
      math.min(channel.size() - channel.position(), Int.MaxValue.toLong).toInt

    override def close(): Unit = channel.close()
  }
}
