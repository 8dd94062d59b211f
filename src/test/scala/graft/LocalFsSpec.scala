package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.LocalFs
import graft.streaming.EventPipeline

/** A graft session writes local files without forking a process per
  * file or dir (no `chmod` from permission setting, no `readlink` from
  * checkpoint renames), and the files get the modes stock Hadoop gives
  * them. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** The command lines of every process the JVM started during `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(dump) }
  }

  private def octal(digits: String): Int = Integer.parseInt(digits, 8)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def fileFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  test("a checkpointed evolving drain and a partitioned write fork no chmod or readlink") {
    spark // the session's own start-up is not under test
    val base = tmpDir("forkguard")
    val forked = processStarts {
      val types = (0 until 8).map(i => s"t$i")
      val rows = types.zipWithIndex.flatMap { case (t, i) =>
        Seq((2L * i, 1700000000000000000L + i, 1L, t, 1.0, s"""{"k": $i}"""),
          (2L * i + 1, 1700000000000000000L + i, 2L, t, 2.0, "{not json"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      rows.coalesce(1).write.parquet(s"$base/in")
      val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck",
        dlqDir = Some(s"$base/dlq"))
      EventPipeline.startEvolving(spark, rows.schema, cfg).awaitTermination()
      assert(spark.read.parquet(s"$base/dlq").count() == 8)
      assert(spark.read.parquet(s"$base/out").count() == 8)
      rows.write.partitionBy("event_type").parquet(s"$base/plain")
    }
    val shells = forked.filter { c =>
      Set("chmod", "readlink")(Paths.get(c.trim.split("\\s+")(0)).getFileName.toString)
    }
    assert(shells.isEmpty, s"${shells.size} forks, e.g. ${shells.take(3).mkString("; ")}")
  }

  test("part files, .crc sidecars and partition dirs get stock Hadoop's modes") {
    assert(fileFs.getClass == classOf[LocalFs])
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf)
    val file = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dir = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    if (umask.toShort == octal("022")) {
      assert(file == octal("644") && dir == octal("755"))
    }
    val base = tmpDir("fsmodes")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k").parquet(s"$base/t")
    val parts = Files.walk(Paths.get(base, "t")).iterator.asScala.toSeq
      .filter(_.getFileName.toString.contains("part-"))
    assert(parts.exists(_.getFileName.toString.endsWith(".crc")), parts.mkString(", "))
    parts.foreach(p => assert(mode(p.toString) == file, p))
    Seq("k=a", "k=b").foreach(d => assert(mode(s"$base/t/$d") == dir, d))
    // the same calls through Hadoop's stock class land the same bits
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    try Seq(stock -> "stock", fileFs -> "graft").foreach { case (fs, sub) =>
      fs.create(new Path(s"$base/$sub/f.bin")).close()
      fs.mkdirs(new Path(s"$base/$sub/d"))
    } finally stock.close()
    Seq("", "/f.bin", "/.f.bin.crc", "/d").foreach { p =>
      assert(mode(s"$base/graft$p") == mode(s"$base/stock$p"), p)
    }
  }

  test("an explicit mode is set bit for bit, a sticky bit included") {
    val d = new Path(tmpDir("fsmode"), "shared")
    assert(fileFs.mkdirs(d))
    Seq("1777", "750", "531").foreach { m =>
      fileFs.setPermission(d, new FsPermission(octal(m).toShort))
      assert(mode(d.toUri.getPath) == octal(m), m)
    }
  }
}
