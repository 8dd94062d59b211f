package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import graft.sources.Tables

/** The read-plan memo stays within its bound while threads load tables
  * through it at once, and hands every thread a plan of the table it
  * asked for. */
class TablesMemoSpec extends SparkSpec {
  import spark.implicits._

  test("8 threads loading more tables than the bound never grow the memo past it") {
    val dir = tmpDir("tablememo")
    val n = Tables.memoBound + 44
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$dir/t0.parquet")
    val part = Files.list(Paths.get(s"$dir/t0.parquet")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).head
    (1 until n).foreach { i =>
      Files.createDirectories(Paths.get(s"$dir/t$i.parquet"))
      Files.copy(part, Paths.get(s"$dir/t$i.parquet", part.getFileName.toString))
    }
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    try {
      val peaks = (0 until threads).map { w =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            start.await()
            (w until n by threads).map { i =>
              val df = Tables(spark, dir, s"t$i")
              assert(df eq Tables(spark, dir, s"t$i"), s"t$i was not memoized")
              Tables.memoSize
            }.max
          }
        })
      }
      start.countDown()
      val peak = peaks.map(_.get()).max
      assert(peak <= Tables.memoBound, s"memo grew to $peak entries")
      assert(Tables.memoSize == Tables.memoBound)
    } finally { pool.shutdown(); () }
    assert(Tables(spark, dir, s"t${n - 1}").count() == 3)
  }
}
