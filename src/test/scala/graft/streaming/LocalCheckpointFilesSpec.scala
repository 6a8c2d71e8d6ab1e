package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio checkpoint file manager on its own, without a session:
  * atomic publish, the no-overwrite contract Spark's metadata logs rely on,
  * hidden temp files and sidecars, and the hand-off of other schemes.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def dir(): NioPath = Paths.get(graft.TempDirs.scoped("local-ckpt-files"))

  private def manager(d: NioPath): CheckpointFileManager =
    new LocalCheckpointFiles(new Path(d.toUri), conf)

  private def names(d: NioPath): Set[String] =
    Files.list(d).iterator.asScala.map(_.getFileName.toString).toSet

  private def write(fm: CheckpointFileManager, file: NioPath, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(file.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, file: NioPath): String = {
    val in = fm.open(new Path(file.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the target appears only on close, and cancel leaves no file behind") {
    val d = dir()
    val fm = manager(d)
    val out = fm.createAtomic(new Path(d.resolve("0").toUri), false)
    out.write("batch 0".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(d.resolve("0")), "the target is invisible before close")
    assert(names(d).size == 1, "the bytes sit in one temp sibling")
    out.close()
    assert(names(d) == Set("0"), "close publishes the target and drops the temp")
    assert(read(fm, d.resolve("0")) == "batch 0")

    val cancelled = fm.createAtomic(new Path(d.resolve("1").toUri), true)
    cancelled.write("never published".getBytes(UTF_8))
    cancelled.cancel()
    cancelled.close()
    assert(names(d) == Set("0"), "cancel leaves neither the target nor the temp")
  }

  test("without overwrite an existing target throws Hadoop's exception and keeps its bytes; with it, is replaced") {
    val d = dir()
    val fm = manager(d)
    val f = d.resolve("7")
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(read(fm, f) == "first")
    assert(names(d) == Set("7"), "the refused write leaves no temp file")

    // a sidecar left by Hadoop's checksummed file system would no longer
    // match the replaced bytes
    Files.write(d.resolve(".7.crc"), Array[Byte](1, 2, 3))
    write(fm, f, "third", overwrite = true)
    assert(read(fm, f) == "third")
    assert(names(d) == Set("7"), "the replaced file's stale sidecar is gone")
  }

  test("list hides temp files and checksum sidecars; delete takes the sidecar along") {
    val d = dir()
    val fm = manager(d)
    write(fm, d.resolve("3"), "x", overwrite = false)
    Files.write(d.resolve(".3.crc"), Array[Byte](1))
    val open = fm.createAtomic(new Path(d.resolve("4").toUri), false)
    open.write(1)
    open.flush()
    assert(names(d).size == 3)
    val all: PathFilter = _ => true
    assert(fm.list(new Path(d.toUri), all).map(_.getPath.getName).toSeq == Seq("3"))
    assert(fm.list(new Path(d.toUri)).map(_.getPath.getName).toSeq == Seq("3"))
    open.cancel()

    fm.delete(new Path(d.resolve("3").toUri))
    assert(names(d).isEmpty)
    fm.delete(new Path(d.resolve("3").toUri)) // already gone: no error
  }

  test("mkdirs, exists and the checkpoint directory are local, with Hadoop's exception types") {
    val d = dir()
    val root = d.resolve("ckpt")
    val fm = manager(root)
    assert(fm.isLocal)
    assert(!fm.exists(new Path(root.toUri)))
    val made = fm.createCheckpointDirectory()
    assert(made.toUri.getScheme == "file" && Files.isDirectory(root))
    fm.mkdirs(new Path(root.resolve("a/b").toUri))
    assert(fm.exists(new Path(root.resolve("a/b").toUri)))
    // Hadoop's exception types, as Spark's default manager throws them
    val file = Files.createFile(root.resolve("f"))
    intercept[FileAlreadyExistsException](fm.mkdirs(new Path(file.toUri)))
    intercept[java.io.FileNotFoundException](
      fm.createAtomic(new Path(root.resolve("missing/0").toUri), false))
    // a path without a scheme is local when the default file system is
    val bare = new LocalCheckpointFiles(new Path(root.toString), conf,
      (_, _) => fail("a local path must not reach the delegate"))
    assert(bare.exists(new Path(root.toString)))
  }

  test("a path with a non-file scheme reaches the delegate") {
    val calls = mutable.ArrayBuffer.empty[String]
    val remote = new CheckpointFileManager {
      def createAtomic(p: Path, o: Boolean): CancellableFSDataOutputStream = {
        calls += s"createAtomic $p $o"; null
      }
      def open(p: Path): FSDataInputStream = { calls += s"open $p"; null }
      def list(p: Path, f: PathFilter): Array[FileStatus] = {
        calls += s"list $p"; Array.empty
      }
      def mkdirs(p: Path): Unit = calls += s"mkdirs $p"
      def exists(p: Path): Boolean = { calls += s"exists $p"; true }
      def delete(p: Path): Unit = calls += s"delete $p"
      def isLocal: Boolean = { calls += "isLocal"; false }
      def createCheckpointDirectory(): Path = {
        calls += "createCheckpointDirectory"; null
      }
    }
    val root = new Path("s3a://bucket/ckpt")
    var built = Seq.empty[Path]
    val fm = new LocalCheckpointFiles(root, conf, (p, _) => { built :+= p; remote })
    assert(built == Seq(root))
    val f = new Path(root, "offsets/0")
    fm.createAtomic(f, false)
    fm.open(f)
    fm.list(root, _ => true)
    fm.mkdirs(root)
    assert(fm.exists(f))
    fm.delete(f)
    assert(!fm.isLocal)
    fm.createCheckpointDirectory()
    assert(calls.toSeq == Seq(s"createAtomic $f false", s"open $f", s"list $root",
      s"mkdirs $root", s"exists $f", s"delete $f", "isLocal",
      "createCheckpointDirectory"))
  }
}
