package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Scaffold

/** A scratch dir belongs to the JVM that asked for it: once that JVM
  * exits, the dir is gone with everything written under it. */
class ScaffoldSpec extends AnyFunSuite {

  test("a scratch dir and its contents are deleted when the JVM exits") {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java,
        s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}",
        "-cp", sys.props("java.class.path"), "graft.ScratchChild")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor() == 0, out)
    val dir = out.linesIterator.collectFirst {
      case l if l.startsWith("scratch ") => l.stripPrefix("scratch ")
    }
    assert(dir.isDefined, out)
    assert(!Files.exists(Paths.get(dir.get)), s"${dir.get} outlived its JVM")
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
