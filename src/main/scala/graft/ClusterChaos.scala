package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.SparkSession

/** Executor-loss drill (VERDICT r9 #4): the whole warehouse loop's
  * exactly-once claim made observable under REAL process death. Under
  * `local-cluster[2,16,...]` (two executor JVMs), a17's flow — DSv2
  * publish → broker → flatten → JDBC warehouse with mid-stream schema
  * evolution across checkpointed restarts — runs once clean for a
  * baseline, then again while a chaos thread `Runtime.halt`s one
  * executor JVM mid-drain. The drill asserts (1) an executor really
  * died (SparkListener onExecutorRemoved — a timing miss must fail
  * loudly, not pass vacuously) and (2) the warehouse contents are
  * row-identical to the baseline: no lost rows (task retry + broker
  * offset replay), no duplicated rows (PUBBATCH epoch idempotence on
  * the producer seam; per-partition transactional INSERTs on the
  * warehouse seam — an uncommitted partial insert dies with its
  * connection and the retried task re-inserts exactly once).
  *
  * Reference crash semantics: main.ts:463-514 (a worker crash must
  * never lose or double-deliver a row). Run via tools/chaos_drill.sh.
  */
object ClusterChaos {

  /** Halts ONE executor JVM: partition 0's first attempt kills its
    * host; every retry (attempt > 0) is a no-op, so the job — and any
    * collateral tasks killed with the JVM — completes on the surviving
    * executor(s) and the drill proceeds. */
  private def killOneExecutor(spark: SparkSession): Unit =
    spark.sparkContext.parallelize(0 until 2, 2).foreach { _ =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0)
        Runtime.getRuntime.halt(137)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the master comes from spark-submit; the session is the one the
    // engine ships, checkpoint manager included (state-store commits run
    // in the EXECUTOR JVMs here, which local[*] cannot show)
    val spark = GraftSession.builder(sys.props("spark.master"))
      .appName("graft-chaos-drill")
      .getOrCreate()
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
    })

    def runA17(): (Array[String], Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries("a17_warehouse_roundtrip")(spark, sfDir)
        .collect().map(_.toString).sorted
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    // untimed warmup: executor spin-up + codegen would otherwise
    // inflate the baseline and mistime the kill past the chaos run
    runA17()
    val (baseline, baseSec) = runA17()
    println(f"CHAOS_DRILL baseline rows=${baseline.length} ${baseSec}%.1f s")
    require(baseline.nonEmpty, "baseline produced no rows")

    // chaos run: halt one executor roughly mid-drain
    val before = removed.get()
    val killer = new Thread(() => {
      Thread.sleep(math.max(1500L, (baseSec * 0.4 * 1000).toLong))
      killOneExecutor(spark)
    }, "graft-chaos-killer")
    killer.setDaemon(true)
    killer.start()
    val (chaos, chaosSec) = runA17()
    // sampled BEFORE joining the killer: the death must have landed
    // DURING the drain — a kill that fires after the run proves nothing
    val killed = removed.get() - before
    killer.join(60000)
    println(f"CHAOS_DRILL chaos rows=${chaos.length} ${chaosSec}%.1f s " +
      s"executors_removed_mid_run=$killed")

    val ok = killed >= 1 && java.util.Arrays.equals(
      baseline.asInstanceOf[Array[AnyRef]], chaos.asInstanceOf[Array[AnyRef]])
    if (killed < 1)
      println("CHAOS_DRILL FAIL: no executor died mid-drain — the drill " +
        "proved nothing (retune the kill delay)")
    else if (!ok) {
      val missing = baseline.diff(chaos)
      val extra = chaos.diff(baseline)
      println(s"CHAOS_DRILL FAIL: warehouse diverged after executor loss — " +
        s"missing=${missing.length} extra=${extra.length}")
      missing.take(3).foreach(r => println(s"  missing: $r"))
      extra.take(3).foreach(r => println(s"  extra:   $r"))
    } else println(s"CHAOS_DRILL OK: warehouse contents identical across " +
      s"executor loss (${baseline.length} rows)")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
