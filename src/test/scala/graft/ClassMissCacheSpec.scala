package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[ClassMissCache]] over a parent that counts the lookups it serves. */
class ClassMissCacheSpec extends AnyFunSuite {

  private final class Counting extends ClassLoader(ClassLoader.getSystemClassLoader) {
    val lookups = new AtomicInteger
    override def loadClass(name: String, resolve: Boolean): Class[_] = {
      lookups.incrementAndGet()
      super.loadClass(name, resolve)
    }
  }

  test("a repeated miss never reaches the parent") {
    val parent = new Counting
    val cache = new ClassMissCache(parent, 16)
    (1 to 3).foreach(_ => intercept[ClassNotFoundException](cache.loadClass("graft.NoSuchClass")))
    assert(parent.lookups.get == 1)
    assert(cache.misses == 1)
  }

  test("a hit returns the parent's own class and records no miss") {
    val parent = new Counting
    val cache = new ClassMissCache(parent, 16)
    assert(cache.loadClass("graft.GraftSession") eq parent.loadClass("graft.GraftSession"))
    assert(cache.loadClass("java.lang.String") eq classOf[String])
    assert(cache.misses == 0)
  }

  test("a Janino compiler over the cache defines a class whose name is a recorded miss") {
    val cache = new ClassMissCache(new Counting, 16)
    intercept[ClassNotFoundException](cache.loadClass("gen.Seven"))
    val compiler = new org.codehaus.janino.SimpleCompiler()
    compiler.setParentClassLoader(cache)
    compiler.cook("package gen; public class Seven { public static int get() { return 7; } }")
    val cls = compiler.getClassLoader.loadClass("gen.Seven")
    assert(cls.getMethod("get").invoke(null) == 7)
    assert(cache.misses == 1)
  }

  test("the miss set holds at most its cap; later misses reach the parent") {
    val parent = new Counting
    val cache = new ClassMissCache(parent, 2)
    val names = Seq("graft.A1", "graft.A2", "graft.A3")
    (1 to 2).foreach(_ => names.foreach(n => intercept[ClassNotFoundException](cache.loadClass(n))))
    assert(cache.misses == 2)
    // the first two are remembered after one lookup each; the third is looked up both times
    assert(parent.lookups.get == 4)
  }
}
