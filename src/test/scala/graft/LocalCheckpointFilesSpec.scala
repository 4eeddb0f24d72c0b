package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalCheckpointFiles, StreamingQueries}

/** A local filesystem under another scheme, so a path on it is not `file:`. */
class NonLocalTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftnonlocal:///")
}

/** `LocalCheckpointFiles`' contract: Spark's atomic-write semantics on a
  * local path without starting a process, Spark's own manager on any
  * other scheme, and `StreamingQueries`' run scope selecting it only for
  * the run.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite with SparkTestBase {

  private val conf = new Configuration()

  private def manager(dir: NioPath) =
    new LocalCheckpointFiles(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic publishes the file only on close, and leaves no temp file") {
    withTempDir("graft_lcf_") { dir =>
      val fm = manager(dir)
      val p = new Path(dir.resolve("0").toUri)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("batch 0".getBytes(UTF_8))
      assert(!fm.exists(p), "visible before close")
      out.close()
      assert(read(fm, p) == "batch 0")
      assert(names(dir) == Set("0"))
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("0"))
    }
  }

  test("no-clobber createAtomic throws Hadoop's FileAlreadyExistsException and keeps the old bytes") {
    withTempDir("graft_lcf_") { dir =>
      val fm = manager(dir)
      val p = new Path(dir.resolve("1").toUri)
      write(fm, p, "old")
      intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
      assert(read(fm, p) == "old")
      assert(names(dir) == Set("1"))
      write(fm, p, "newer")
      assert(read(fm, p) == "newer")
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withTempDir("graft_lcf_") { dir =>
      val fm = manager(dir)
      val p = new Path(dir.resolve("2").toUri)
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close()
      assert(!fm.exists(p))
      assert(names(dir).isEmpty)
    }
  }

  test("a file written with a .crc by Spark's default manager can be overwritten and read back") {
    withTempDir("graft_lcf_") { dir =>
      val root = new Path(dir.toUri)
      val sparkDefault = new FileContextBasedCheckpointFileManager(root, conf)
      val p = new Path(root, "3")
      write(sparkDefault, p, "short")
      assert(names(dir) == Set("3", ".3.crc"))
      write(manager(dir), p, "a longer second version")
      assert(names(dir) == Set("3"))
      assert(read(sparkDefault, p) == "a longer second version")
      assert(read(manager(dir), p) == "a longer second version")
    }
  }

  test("a non-local scheme gets the manager Spark picks itself") {
    withTempDir("graft_lcf_") { dir =>
      val c = new Configuration(conf)
      c.set("fs.graftnonlocal.impl", classOf[NonLocalTestFileSystem].getName)
      c.setBoolean("fs.graftnonlocal.impl.disable.cache", true)
      c.set(LocalCheckpointFiles.Key, classOf[LocalCheckpointFiles].getName)
      val root = new Path(s"graftnonlocal://${dir.toUri.getPath}")
      val fm = new LocalCheckpointFiles(root, c)
      c.unset(LocalCheckpointFiles.Key)
      val sparkDefault = CheckpointFileManager.create(root, c)
      assert(sparkDefault.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(fm.delegate.map(_.getClass).contains(sparkDefault.getClass))
      assert(manager(dir).delegate.isEmpty)
      val p = new Path(root, "4")
      write(fm, p, "remote")
      assert(read(sparkDefault, p) == "remote")
    }
  }

  test("an HDFSMetadataLog through this manager starts no process; through Spark's default it does") {
    def logEntries(dir: NioPath): Long = {
      val (_, procs) = Probe.processStarts {
        val log = new HDFSMetadataLog[String](spark, dir.resolve("log").toString)
        (0 until 50).foreach(i => assert(log.add(i.toLong, s"entry $i")))
        assert(log.get(None, None).map(_._2).toSeq == (0 until 50).map(i => s"entry $i"))
        val fm = CheckpointFileManager.create(new Path(dir.resolve("cp").toUri),
          spark.sessionState.newHadoopConf())
        fm.mkdirs(new Path(dir.resolve("cp/a/b").toUri))
        fm.createCheckpointDirectory()
      }
      procs
    }
    assert(spark.conf.getOption(LocalCheckpointFiles.Key).isEmpty)
    val default = withTempDir("graft_lcf_")(logEntries)
    spark.conf.set(LocalCheckpointFiles.Key, classOf[LocalCheckpointFiles].getName)
    val local = try withTempDir("graft_lcf_")(logEntries)
      finally spark.conf.unset(LocalCheckpointFiles.Key)
    info(s"processes started: $local through LocalCheckpointFiles, $default through Spark's default")
    assert(local == 0, s"$local processes started through LocalCheckpointFiles")
    // with libhadoop loaded Spark's default manager needs no process either
    assert(NativeCodeLoader.isNativeCodeLoaded || default > 0,
      "Spark's default manager started no process, so this guard cannot fail")
  }

  test("the streaming run scope leaves the checkpoint manager conf as it found it") {
    assert(spark.conf.getOption(LocalCheckpointFiles.Key).isEmpty)
    StreamingQueries.streamingRestartResume(spark, sf).collect()
    assert(spark.conf.getOption(LocalCheckpointFiles.Key).isEmpty)
    val preset = classOf[FileSystemBasedCheckpointFileManager].getName
    spark.conf.set(LocalCheckpointFiles.Key, preset)
    try {
      StreamingQueries.streamingRestartResume(spark, sf).collect()
      assert(spark.conf.getOption(LocalCheckpointFiles.Key).contains(preset))
    } finally spark.conf.unset(LocalCheckpointFiles.Key)
    val Seq(first, second) = StreamingQueries.progress("q128").map(_.last.batchId + 1)
    assert(second == first + 2)
  }
}
