package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.market.BookEvent
import graft.streaming.{LocalCheckpointFileManager, StreamingOps}

/** Raw local storage under the `graftfc` scheme: a path whose
  * FileSystem is not Hadoop's `LocalFileSystem`, with no network. */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfc:///")
  override def getScheme: String = "graftfc"
}

/** The FileContext binding of [[OtherSchemeFs]]. */
class OtherSchemeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new OtherSchemeFs, conf, "graftfc", false)

/** The contract `LocalCheckpointFileManager` keeps with Spark's default
  * checkpoint file manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def tempDir(): JPath = Files.createTempDirectory("graft-lcfm")

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("a no-overwrite publish onto an existing file throws and keeps the old bytes") {
    val dir = tempDir()
    val p = new Path(dir.toUri.toString, "1")
    val fm = new LocalCheckpointFileManager(p, new Configuration())
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "new", overwrite = false)
    }
    assert(read(fm, p) === "old")
    // the clash discards its temp file and sidecar
    assert(names(dir) === Set("1", ".1.crc"))
    write(fm, p, "newer", overwrite = true)
    assert(read(fm, p) === "newer")
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val p = new Path(dir.toUri.toString, "2")
    val fm = new LocalCheckpointFileManager(p, new Configuration())
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("files carry a .crc and the default manager's mode; a flipped byte fails the read") {
    val conf = new Configuration()
    val (mine, theirs) = (tempDir(), tempDir())
    val p = new Path(mine.toUri.toString, "3")
    val q = new Path(theirs.toUri.toString, "3")
    val fm = new LocalCheckpointFileManager(p, conf)
    write(fm, p, "checksummed bytes", overwrite = false)
    write(new FileContextBasedCheckpointFileManager(q, conf), q,
      "checksummed bytes", overwrite = false)
    assert(names(mine) === names(theirs))
    assert(names(mine) === Set("3", ".3.crc"))
    def mode(f: JPath) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    assert(mode(mine.resolve("3")) === mode(theirs.resolve("3")))
    assert(mode(mine.resolve(".3.crc")) === mode(theirs.resolve(".3.crc")))

    val raf = new RandomAccessFile(mine.resolve("3").toFile, "rw")
    try { raf.seek(2); raf.write(raf.read() ^ 0x01) } finally raf.close()
    intercept[ChecksumException](read(fm, p))
    // the corrupt file stays where it is
    assert(names(mine) === Set("3", ".3.crc"))
  }

  test("a scheme other than file: goes to Spark's FileContext manager") {
    val conf = new Configuration()
    conf.set("fs.graftfc.impl", classOf[OtherSchemeFs].getName)
    conf.set("fs.AbstractFileSystem.graftfc.impl",
      classOf[OtherSchemeAfs].getName)
    conf.setBoolean("fs.graftfc.impl.disable.cache", true)
    val dir = tempDir()
    val p = new Path(s"graftfc://${dir.toUri.getPath}/4")
    val fm = new LocalCheckpointFileManager(p, conf)
    assert(fm.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(fm, p, "elsewhere", overwrite = false)
    assert(read(fm, p) === "elsewhere")
    assert(Files.readString(dir.resolve("4")) === "elsewhere")
    assert(new LocalCheckpointFileManager(
      new Path(dir.toUri.toString, "4"), conf).impl.getClass !=
      classOf[FileContextBasedCheckpointFileManager])
  }

  test("the per-pair streams keep a manager the session already names") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val key = LocalCheckpointFileManager.ConfKey
    val chosen = spark.newSession()
    val userClass = classOf[FileContextBasedCheckpointFileManager].getName
    chosen.conf.set(key, userClass)
    StreamingOps.l1Stream(MemoryStream[BookEvent](chosen).toDS(), chosen)
    assert(chosen.conf.get(key) === userClass)

    val unset = spark.newSession()
    assert(unset.conf.getOption(key).isEmpty)
    StreamingOps.l2Stream(MemoryStream[BookEvent](unset).toDS(), unset)
    assert(unset.conf.get(key) === classOf[LocalCheckpointFileManager].getName)
  }
}
