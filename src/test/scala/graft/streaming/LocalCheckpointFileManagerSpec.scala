package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A local file system under its own scheme, `alt:`: a non-`file` path
  * that needs no server, for the delegation case.
  */
class AltSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("alt:///")
  override def getScheme: String = "alt"
}

/** The `CheckpointFileManager` contract [[LocalCheckpointFileManager]] keeps
  * for Spark's metadata logs and state stores.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fresh(prefix: String = "lcfm"): File = Files.createTempDirectory(prefix).toFile

  private def manager(dir: File) = new LocalCheckpointFileManager(new Path(dir.toURI), conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(p: Path): Array[Byte] = {
    val in = FileSystem.getLocal(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  private def names(dir: File): Set[String] = dir.list().toSet

  /** Bytes spanning several 512-byte checksum chunks and a partial one. */
  private val payload = Array.tabulate[Byte](1300)(i => (i * 31 + 7).toByte)

  test("no-overwrite create on an existing target throws and keeps the target's bytes") {
    val dir = fresh()
    val fm = manager(dir)
    val target = new Path(new Path(dir.toURI), "0")
    write(fm, target, "first".getBytes(UTF_8), overwrite = false)
    val second = fm.createAtomic(target, overwriteIfPossible = false)
    second.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    assert(new String(read(target), UTF_8) === "first")
    assert(names(dir) === Set("0", ".0.crc"), "no temp file or temp sidecar left")
  }

  test("overwrite replaces the target and its sidecar") {
    val dir = fresh()
    val fm = manager(dir)
    val target = new Path(new Path(dir.toURI), "state.zip")
    write(fm, target, payload, overwrite = true)
    write(fm, target, payload.reverse, overwrite = true)
    assert(read(target) === payload.reverse, "read verifies against the new sidecar")
    assert(names(dir) === Set("state.zip", ".state.zip.crc"))
  }

  test("cancel leaves no target, temp file or sidecar") {
    val dir = fresh()
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(new Path(dir.toURI), "1"), overwriteIfPossible = false)
    out.write(payload)
    out.cancel()
    out.close() // a close after cancel publishes nothing
    assert(names(dir).isEmpty)
  }

  test("writes read back checksum-verified; a flipped byte raises ChecksumException") {
    val dir = fresh()
    val fm = manager(dir)
    val root = new Path(dir.toURI)
    val (big, empty) = (new Path(root, "big"), new Path(root, "empty"))
    write(fm, big, payload, overwrite = false)
    write(fm, empty, Array.emptyByteArray, overwrite = false)
    assert(read(big) === payload)
    assert(read(empty).isEmpty)
    // the sidecar is Hadoop's: "crc\0", 512, then one CRC32 per chunk
    val crc = Files.readAllBytes(Paths.get(dir.getPath, ".big.crc"))
    assert(crc.length === 8 + 4 * 3)
    assert(crc.take(4) === Array[Byte]('c', 'r', 'c', 0))
    assert(java.nio.ByteBuffer.wrap(crc, 4, 4).getInt === 512)
    // listing and delete go through the checksummed file system
    assert(fm.list(root).map(_.getPath.getName).toSet === Set("big", "empty"))
    val file = Paths.get(dir.getPath, "big")
    val bytes = Files.readAllBytes(file)
    bytes(700) = (bytes(700) ^ 1).toByte
    Files.write(file, bytes)
    intercept[ChecksumException](read(big))
    fm.delete(big)
    fm.delete(big) // deleting a missing path is not an error
    assert(names(dir) === Set("empty", ".empty.crc"))
  }

  test("a checkpoint directory whose name holds a space and a % works") {
    val dir = new File(fresh(), "ck pt%20x")
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val root = fm.createCheckpointDirectory()
    assert(dir.isDirectory && root.toUri.getScheme === "file")
    val offsets = new Path(root, "offsets")
    fm.mkdirs(offsets)
    write(fm, new Path(offsets, "0"), payload, overwrite = false)
    assert(fm.exists(new Path(offsets, "0")))
    assert(new File(dir, "offsets/0").isFile && new File(dir, "offsets/.0.crc").isFile)
    val in = fm.open(new Path(offsets, "0"))
    try assert(in.readAllBytes() === payload) finally in.close()
  }

  test("a non-file path delegates to Spark's default manager") {
    val dir = fresh()
    val altConf = new Configuration(conf)
    altConf.set("fs.alt.impl", classOf[AltSchemeFileSystem].getName)
    altConf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val root = new Path(s"alt://${dir.toURI.getPath}")
    val fm = CheckpointFileManager.create(root, altConf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    // no FileContext binding for `alt:`, so Spark's own choice is the
    // FileSystem-based manager, and the class key is not consulted again
    assert(fm.asInstanceOf[LocalCheckpointFileManager].impl
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    write(fm, new Path(root, "0"), payload, overwrite = false)
    assert(Files.readAllBytes(Paths.get(dir.getPath, "0")) === payload)
    assert(!new File(dir, ".0.crc").exists, "the raw alt: file system writes no sidecar")
  }
}
