package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.BeforeAndAfterAll

/** The session's local filesystem and checkpoint manager
  * ([[Tables.sessionConfs]]): fork-free, yet with the guarantees of
  * Hadoop's `LocalFileSystem` — the same modes, `.crc` side files
  * verified on read, and no overwrite of a committed checkpoint file.
  */
class LocalFsSpec extends SparkSpec with BeforeAndAfterAll {
  private def conf = spark.sessionState.newHadoopConf()
  private def localFs = FileSystem.get(new URI("file:///"), conf)
  private lazy val root = new Path(Files.createTempDirectory("graft_localfs_").toUri)
  private def tempDir(name: String) = new Path(root, name)

  override def afterAll(): Unit = try localFs.delete(root, true) finally super.afterAll()

  private def mode(p: Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("the session's file: filesystem is NoForkLocalFileSystem and checkpoints go through the FileSystem-based manager") {
    assert(localFs.isInstanceOf[NoForkLocalFileSystem])
    assert(CheckpointFileManager.create(tempDir("cm"), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("created files and directories get the modes a plain RawLocalFileSystem gives them") {
    val raw = new RawLocalFileSystem
    raw.initialize(new URI("file:///"), conf)
    val umask = FsPermission.getUMask(conf)
    def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
    def modes(fs: FileSystem, side: String): Seq[String] = {
      val base = new Path(tempDir("modes"), side)
      val dir = new Path(base, "dir")
      val file = new Path(base, "file")
      val secret = new Path(base, "secret")
      val sticky = new Path(base, "sticky")
      assert(fs.mkdirs(dir, FsPermission.getDirDefault.applyUMask(umask)))
      fs.create(file).close()
      fs.create(secret, octal("600"), true, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, octal("1777"))
      Seq(dir, file, secret).map(mode) :+ raw.getFileStatus(sticky).getPermission.toString
    }
    val plain = modes(raw, "raw")
    assert(modes(localFs, "nofork") == plain)
    assert(plain == Seq("rwxr-xr-x", "rw-r--r--", "rw-------", "rwxrwxrwt"))
  }

  test("a committed checkpoint file has a .crc sibling and one flipped byte fails the read") {
    val dir = tempDir("crc")
    val file = new Path(dir, "0")
    val payload = Array.tabulate[Byte](300)(i => (i * 7).toByte)
    val out = CheckpointFileManager.create(dir, conf).createAtomic(file, overwriteIfPossible = false)
    out.write(payload)
    out.close()
    assert(Files.exists(Paths.get(new Path(dir, ".0.crc").toUri)))

    val in = localFs.open(file)
    val back = new Array[Byte](payload.length)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(payload))

    val raf = new RandomAccessFile(Paths.get(file.toUri).toFile, "rw")
    try { raf.seek(100); raf.write(payload(100) ^ 0xff) } finally raf.close()
    val spoiled = localFs.open(file)
    try intercept[ChecksumException](spoiled.readFully(new Array[Byte](payload.length)))
    finally spoiled.close()
  }

  test("createAtomic without overwrite raises FileAlreadyExistsException and keeps the existing bytes") {
    val dir = tempDir("exists")
    val file = new Path(dir, "1")
    val cm = CheckpointFileManager.create(dir, conf)
    val first = cm.createAtomic(file, overwriteIfPossible = false)
    first.write("kept".getBytes("UTF-8"))
    first.close()
    intercept[FileAlreadyExistsException] {
      val second = cm.createAtomic(file, overwriteIfPossible = false)
      second.write("lost".getBytes("UTF-8"))
      second.close()
    }
    assert(new String(Files.readAllBytes(Paths.get(file.toUri)), "UTF-8") == "kept")
  }
}
