package graft

import java.io.IOException
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.ProcessTreeMetricsInit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NoForkLocalFileSystem, NoForkLocalFs}
import graft.pipeline.BatchPipeline
import graft.streaming.BatchSink

/** The no-fork `file:` filesystem ([[graft.io.NoForkRawLocalFileSystem]]):
  * local writes start no OS process, and leave the same files, checksums
  * and modes as the stock local filesystem.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val asOf = LocalDate.of(2025, 2, 24)

  /** The commands of the OS processes this JVM started while `body` ran,
    * from an in-process JFR recording of `jdk.ProcessStart` events.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    ProcessTreeMetricsInit.force()
    val rec = new Recording()
    val dump = Files.createTempFile("graft_proc", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** One daily pipeline run over the generated 9-league season: its
    * output dir and the processes it started.
    */
  private lazy val pipelineRun: (String, Seq[String]) = {
    val raw = spark.read.parquet(PipelineSpec.writeSeason(spark, asOf))
    val out = Files.createTempDirectory("graft_nofork").toString
    val starts = processStarts(
      BatchPipeline.run(spark, raw, asOf, s"$asOf 02:00:00", out))
    (out, starts)
  }

  private def localFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a daily pipeline run starts no process") {
    val (_, starts) = pipelineRun
    assert(starts.isEmpty, s"${starts.size} processes, e.g. ${starts.take(3)}")
  }

  test("a streaming micro-batch through BatchSink starts no process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val out = Files.createTempDirectory("graft_nofork_sink").toString
    val ckpt = Files.createTempDirectory("graft_nofork_ckpt").toString
    val starts = processStarts(
      BatchSink.start(mem.toDF().toDF("id", "payload"), out, ckpt)
        .awaitTermination())
    assert(starts.isEmpty, s"${starts.size} processes, e.g. ${starts.take(3)}")
    assert(BatchSink.readCommitted(spark, out, ckpt).count() == 2)
  }

  test("the pipeline's output tree has the stock modes and checksums") {
    val (out, _) = pipelineRun
    val root = java.nio.file.Paths.get(out)
    val all = Files.walk(root).iterator.asScala.filter(_ != root).toSeq
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.exists(_.getFileName.toString.startsWith("league=")))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")),
      "the checksummed filesystem writes a .crc next to each part file")
    assert(dirs.map(mode).toSet == Set("rwxr-xr-x"))
    assert(files.map(mode).toSet == Set("rw-r--r--"))
  }

  test("setPermission sets the requested mode in-process") {
    val dir = Files.createTempDirectory("graft_perm")
    val file = Files.createFile(dir.resolve("f"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val cases = Seq((file, "600", "rw-------"), (sub, "700", "rwx------"),
      (sub, "750", "rwxr-x---"))
    cases.foreach { case (p, octal, want) =>
      val starts = processStarts(
        localFs.setPermission(new Path(p.toUri), perm(octal)))
      assert(mode(p) == want, s"$octal on $p")
      assert(starts.isEmpty, s"$octal on $p started $starts")
    }
  }

  test("a sticky-bit request takes the stock path") {
    val dir = Files.createTempDirectory("graft_sticky")
    val starts = processStarts(
      localFs.setPermission(new Path(dir.toUri), perm("1755")))
    // NIO cannot set the sticky bit: it is set only if the stock
    // implementation ran, which forks `chmod` when libhadoop is absent
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0x3ff) ==
      Integer.parseInt("1755", 8))
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(starts.exists(_.contains("chmod")),
        s"the fallback should fork chmod here, and the counter see it: $starts")
  }

  test("setPermission on a missing path raises an IOException") {
    val missing = Files.createTempDirectory("graft_missing").resolve("none")
    intercept[IOException](
      localFs.setPermission(new Path(missing.toUri), perm("644")))
  }

  test("the test session's file: filesystems are the no-fork ones") {
    assert(LocalFsSpec.fsClasses(spark.sparkContext.hadoopConfiguration) ==
      LocalFsSpec.expected)
    assert(LocalFsSpec.fsClasses(spark.sessionState.newHadoopConf()) ==
      LocalFsSpec.expected)
  }

  test("a GraftSession.local session's file: filesystems are the no-fork " +
      "ones") {
    // one SparkContext per JVM: the shared test session is already up, so
    // a fresh JVM builds the GraftSession.local session
    val java = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(java, "-Xmx512m") ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.LocalFsSpec")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    val got = out.linesIterator.filter(_.startsWith("fs-classes ")).toSeq
    assert(got == Seq(s"fs-classes ${LocalFsSpec.expected.mkString(" ")}"), out)
  }
}

object LocalFsSpec {
  private val expected = Seq(classOf[NoForkLocalFileSystem].getName,
    classOf[NoForkLocalFs].getName)

  private def fsClasses(conf: Configuration): Seq[String] = {
    val uri = new URI("file:///")
    Seq(FileSystem.get(uri, conf).getClass.getName,
      AbstractFileSystem.get(uri, conf).getClass.getName)
  }

  /** Prints the `file:` filesystem classes of a `GraftSession.local`
    * session; the last test above runs it in a fresh JVM.
    */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-localfs", "1")
    try println(s"fs-classes ${fsClasses(spark.sparkContext.hadoopConfiguration)
      .mkString(" ")}")
    finally spark.stop()
  }
}
