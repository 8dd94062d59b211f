package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LocalFs
import graft.streaming.Scaffold

/** A scratch dir belongs to the JVM that asked for it: once that JVM
  * exits, the dir is gone with everything written under it. Asking for
  * one first does not decide which `file:` FileSystem the JVM caches. */
class ScaffoldSpec extends AnyFunSuite {

  /** `main`'s output line that starts with `tag`, run in a child JVM
    * with this JVM's temp dir and module opens. */
  private def childLine(main: String, tag: String): String = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val child = new ProcessBuilder((Seq(java, "-Xmx1g",
        s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}") ++ opens ++
        Seq("-cp", sys.props("java.class.path"), main)).asJava)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor() == 0, out)
    val line = out.linesIterator.collectFirst {
      case l if l.startsWith(tag) => l.stripPrefix(tag)
    }
    assert(line.isDefined, out)
    line.get
  }

  test("a scratch dir and its contents are deleted when the JVM exits") {
    val dir = childLine("graft.ScratchChild", "scratch ")
    assert(!Files.exists(Paths.get(dir)), s"$dir outlived its JVM")
  }

  test("a scratch dir asked for before the session leaves the session graft's file: FileSystem") {
    // the JVM caches the first `file:` FileSystem made, whatever asks
    assert(childLine("graft.ScratchFirstChild", "fs ") == classOf[LocalFs].getName)
  }
}

/** The child JVM of [[ScaffoldSpec]]: asks for a scratch dir, writes a
  * nested file into it, prints the dir's path and exits. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val dir = Scaffold.scratch("graft_scratch_spec")
    Files.createDirectories(Paths.get(dir, "nested"))
    Files.write(Paths.get(dir, "nested", "part-0"), Array[Byte](1, 2, 3))
    println(s"scratch $dir")
  }
}

/** The child JVM of [[ScaffoldSpec]]'s FileSystem case: asks for a
  * scratch dir, then builds a session, and prints the class of the
  * session's `file:` FileSystem. */
object ScratchFirstChild {
  def main(args: Array[String]): Unit = {
    Scaffold.scratch("graft_scratch_first")
    val spark = GraftSession.builder("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try println("fs " + FileSystem.get(new URI("file:///"),
      spark.sparkContext.hadoopConfiguration).getClass.getName)
    finally spark.stop()
  }
}
