package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint file manager contract, as Spark's metadata logs and state
  * stores rely on it, for graft's fork-free local manager: atomic publish,
  * the no-overwrite check, checksum files across managers, routing of
  * non-local schemes, and `install` leaving a caller's choice alone.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def conf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    c
  }

  /** Loaded the way Spark loads it: by reflection from the configured class. */
  private def manager(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), conf())

  private def write(fm: CheckpointFileManager, f: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(f, overwriteIfPossible = overwrite)
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, f: Path): String = {
    val in = fm.open(f)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Every name in `dir`, hidden temp and checksum files included. */
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a file: path gets the java.nio manager, loaded by reflection") {
    val fm = manager(Files.createTempDirectory("graft-cfm"))
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val under = fm.asInstanceOf[LocalCheckpointFileManager].underlying
    assert(under.isInstanceOf[FileSystemBasedCheckpointFileManager], under.getClass.getName)
    assert(fm.isLocal)
  }

  test("createAtomic publishes on close and leaves nothing after cancel") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(dir)
    val f = new Path(dir.resolve("0").toUri)
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1".getBytes(StandardCharsets.UTF_8))
    assert(!fm.exists(f), "nothing is visible before close")
    out.close()
    assert(fm.exists(f) && read(fm, f) === "v1")

    val g = new Path(dir.resolve("1").toUri)
    val cancelled = fm.createAtomic(g, overwriteIfPossible = false)
    cancelled.write("never".getBytes(StandardCharsets.UTF_8))
    cancelled.cancel()
    assert(!fm.exists(g))
    assert(names(dir) === Set("0"), "no temp or checksum file is left behind")
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq === Seq("0"))
  }

  test("overwriteIfPossible=false over an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(dir)
    val f = new Path(dir.resolve("0").toUri)
    write(fm, f, "first", overwrite = false)
    // HDFSMetadataLog reads this exception type as a concurrent writer
    intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(read(fm, f) === "first")
    assert(names(dir) === Set("0"), "the collision leaves no temp file behind")
    write(fm, f, "second", overwrite = true)
    assert(read(fm, f) === "second")

    // a file the default manager wrote keeps its checksum through a collision
    val default = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf())
    val g = new Path(dir.resolve("1").toUri)
    write(default, g, "checksummed", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, g, "clobber", overwrite = false))
    assert(names(dir) === Set("0", "1", ".1.crc"))
    assert(read(fm, g) === "checksummed" && read(default, g) === "checksummed")
  }

  test("an overwrite leaves no stale .crc that fails a read, under either manager") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(dir)
    val default = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf())
    val f = new Path(dir.resolve("0").toUri)
    write(default, f, "written by Spark's default manager", overwrite = true)
    assert(names(dir).contains(".0.crc"), "the default manager checksums its files")

    write(fm, f, "rewritten", overwrite = true)
    assert(names(dir) === Set("0"), "the stale checksum and the temp file are gone")
    assert(read(fm, f) === "rewritten" && read(default, f) === "rewritten")

    write(default, f, "and back again, longer than before", overwrite = true)
    assert(read(fm, f) === "and back again, longer than before")
    assert(read(default, f) === "and back again, longer than before")
  }

  test("a non-file: path is forwarded to Spark's FileContext manager") {
    val dir = Files.createTempDirectory("graft-cfm")
    // a viewfs mount over a local directory: a non-file scheme, offline
    val c = conf()
    c.set("fs.viewfs.mounttable.graftcfm.link./ckpt", dir.toUri.toString)
    val root = new Path("viewfs://graftcfm/ckpt")
    val fm = CheckpointFileManager.create(root, c)
    val under = fm.asInstanceOf[LocalCheckpointFileManager].underlying
    assert(under.isInstanceOf[FileContextBasedCheckpointFileManager], under.getClass.getName)
    assert(!fm.isLocal)
    write(fm, new Path(root, "0"), "via viewfs", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("0")), StandardCharsets.UTF_8) === "via viewfs")
  }

  test("install sets the manager only when the session names none") {
    val key = LocalCheckpointFileManager.ClassKey
    val fresh = spark.newSession()
    LocalCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(key) === classOf[LocalCheckpointFileManager].getName)

    val own = spark.newSession()
    own.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    LocalCheckpointFileManager.install(own)
    assert(own.conf.get(key) === classOf[FileContextBasedCheckpointFileManager].getName)
  }
}
