package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.RuntimeConfig
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** Streaming checkpoint files (offset WAL, commit log, `sources`, state
  * store uploads) for `file:` checkpoints, written with java.nio so that no
  * write forks a process.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` sets the permission of
  * every file it creates by forking `chmod`. Spark's default manager goes
  * through `FileContext`, so each checkpoint file costs a temp create plus
  * its `.crc`, each forked: about 24 ms a file against 2 ms for one bare
  * fork on a 4-core host. A trigger writes a dozen such files.
  *
  * What the default manager guarantees is kept:
  *   - the data goes to a temp file in the target's directory and becomes
  *     visible in one step: an atomic move for `overwriteIfPossible`, a
  *     hard link otherwise, which fails with Hadoop's
  *     `FileAlreadyExistsException` when the target exists (how
  *     `HDFSMetadataLog` detects a second writer);
  *   - every file gets a Hadoop `.<name>.crc` sidecar, so reads verify and
  *     the checkpoint stays readable by the default manager and back;
  *   - durability is Hadoop's local one: nothing is fsynced.
  * The no-overwrite path needs a file system with hard links.
  * Reads, listing and delete go through Hadoop's checksummed local file
  * system, so every read is verified. Other schemes delegate to the
  * manager Spark picks when no class is configured.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.NioLocal(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** `spark.sql.streaming.checkpointFileManagerClass`: the (internal) conf
    * `CheckpointFileManager.create` reads the manager class from.
    */
  val ConfKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Checkpoint a session's streams through this manager unless the
    * caller has already set a class. A session conf, like the zone
    * `Tables.load` pins, so a session built elsewhere gets it too; every
    * engine stream starts through here ([[TickSink.appendStream]],
    * `JobRunner.session`).
    */
  def install(conf: RuntimeConfig): Unit =
    if (conf.getOption(ConfKey).isEmpty)
      conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private final class NioLocal(root: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {
    private val fs = FileSystem.getLocal(hadoopConf)

    private def file(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOut(new ChunkCrcOut(tmp, fs.getBytesPerSum), target, overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit =
      try fs.delete(p, true) catch { case _: FileNotFoundException => }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = { mkdirs(root); fs.makeQualified(root) }
  }

  /** `target`'s Hadoop checksum sidecar, `.<name>.crc` beside it. */
  private def sidecar(target: NioPath): NioPath =
    target.resolveSibling(s".${target.getFileName}.crc")

  /** Data streams into a temp file beside `target` while its CRC32 per
    * `bytesPerSum` chunk accumulates; `close` publishes both.
    */
  private final class AtomicOut(data: ChunkCrcOut, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(data) {
    private val tmp = data.file
    private val tmpSidecar = sidecar(tmp)
    private var done = false

    override def close(): Unit = synchronized {
      if (done) return
      done = true
      try {
        data.close()
        Files.write(tmpSidecar, data.sidecarBytes)
        if (overwrite) {
          // The stale sidecar goes first: a crash in between leaves data
          // with no sidecar (read unverified), never a mismatched pair.
          Files.deleteIfExists(sidecar(target))
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          // a sidecar whose file was deleted without it must not meet the
          // new data, should a crash come between the link and the move
          if (!Files.exists(target)) Files.deleteIfExists(sidecar(target))
          try Files.createLink(target, tmp)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
          Files.delete(tmp)
        }
        Files.move(tmpSidecar, sidecar(target), StandardCopyOption.ATOMIC_MOVE)
      } finally {
        Files.deleteIfExists(tmp)
        Files.deleteIfExists(tmpSidecar)
      }
    }

    override def cancel(): Unit = synchronized {
      if (done) return
      done = true
      try data.close() catch { case NonFatal(_) => }
      finally Files.deleteIfExists(tmp)
    }
  }

  /** Buffered file output that keeps a Hadoop checksum file's body: the
    * header `crc\0` + bytes-per-sum, then one big-endian CRC32 per chunk.
    */
  private final class ChunkCrcOut(val file: NioPath, bytesPerSum: Int) extends OutputStream {
    private val out = new BufferedOutputStream(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    private val crc = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream
    private val sumsOut = new DataOutputStream(sums)
    sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
    sumsOut.writeInt(bytesPerSum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }
    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerSum) endChunk()
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      var n = len
      while (n > 0) {
        val k = math.min(n, bytesPerSum - inChunk)
        crc.update(b, o, k)
        inChunk += k; o += k; n -= k
        if (inChunk == bytesPerSum) endChunk()
      }
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
    def sidecarBytes: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }
  }
}
