package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.sources.WorkloadFixture
import graft.streaming.{CdcPipeline, LocalCheckpointFileManager}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FilterFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager graft's streaming entry points install:
  * no process starts on a local checkpoint, the same checksummed files,
  * and Spark's own choice everywhere it does not apply.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManagerSpec._

  private val key = LocalCheckpointFileManager.ManagerClassKey

  /** A drained pipeline over the README workload: (root, checkpoint). */
  private def drained(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft-ckpt-$tag").toString
    WorkloadFixture.toDf(spark).write.parquet(s"$root/changes")
    CdcPipeline.runOnce(spark, s"$root/changes", s"$root/bookings", s"$root/ckpt")
    (root, s"$root/ckpt")
  }

  /** `body`'s value and the commands of the processes it started. */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val dump = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(dump)
      (out, RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq)
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  test("a CdcPipeline drain starts no process that names its checkpoint") {
    val ((root, ckpt), commands) = processStarts {
      val dirs = drained("spawn")
      // the recorder sees process starts: this one must show up
      new ProcessBuilder("true", s"${dirs._1}/marker").start().waitFor()
      dirs
    }
    assert(commands.exists(_.contains(s"$root/marker")))
    assert(commands.filter(_.contains(ckpt)) === Nil)
    assert(spark.conf.get(key) === classOf[LocalCheckpointFileManager].getName)
  }

  test("checkpoint logs keep their .crc siblings, and a corrupt offset " +
    "entry fails the restart") {
    val (root, ckpt) = drained("crc")
    for (log <- Seq("offsets", "commits", "sources/0")) {
      val dir = JPath.of(ckpt, log)
      val entries = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
      assert(entries.nonEmpty, log)
      for (e <- entries) assert(Files.exists(dir.resolve(s".$e.crc")), s"$log/$e")
    }

    val offsets0 = JPath.of(ckpt, "offsets", "0")
    val bytes = Files.readAllBytes(offsets0)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets0, bytes)
    val err = intercept[Exception] {
      CdcPipeline.runOnce(spark, s"$root/changes", s"$root/bookings", ckpt)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[ChecksumException]), err)
  }

  test("a checkpoint file manager the user set is kept") {
    val user = classOf[FileSystemBasedCheckpointFileManager].getName
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, user)
    try {
      drained("user")
      assert(spark.conf.get(key) === user)
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("a local path gets the FileSystem-based manager; any other " +
    "FileSystem gets Spark's default manager") {
    val conf = new Configuration()
    conf.set(key, classOf[LocalCheckpointFileManager].getName)
    conf.setClass(s"fs.$Scheme.impl", classOf[RemoteFileSystem], classOf[RemoteFileSystem])
    conf.setClass(s"fs.AbstractFileSystem.$Scheme.impl", classOf[RemoteFs], classOf[RemoteFs])

    val local = CheckpointFileManager.create(
      new Path(Files.createTempDirectory("graft-ckpt-local").toUri), conf)
    val localUnder = local.asInstanceOf[LocalCheckpointFileManager].underlying
    assert(localUnder.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(local.isLocal)

    val remote = CheckpointFileManager.create(new Path(s"$Scheme:///ckpt"), conf)
    val remoteUnder = remote.asInstanceOf[LocalCheckpointFileManager].underlying
    // what Spark builds for this path when no manager is configured
    assert(remoteUnder.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!remote.isLocal)
  }
}

object LocalCheckpointFileManagerSpec {
  val Scheme = "graftremote"

  /** A FileSystem under a scheme of its own, standing in for a remote
    * store: it is not a `LocalFileSystem`.
    */
  class RemoteFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
    override def getScheme: String = Scheme
  }

  /** The FileContext binding of [[RemoteFileSystem]]. */
  class RemoteFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RemoteFileSystem, conf, Scheme, false)
}
