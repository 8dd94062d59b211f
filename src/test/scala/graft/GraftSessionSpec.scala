package graft

/** The one session definition: the plan-affecting keys every main
  * takes from [[GraftSession.builder]], the core count it derives them
  * from, the `SPARK_GRAFT_CONF` override parser, and the SQL-surface
  * registration (the same native expressions the Column API lifts must
  * resolve by name in spark.sql, check their argument count, and never
  * take over an engine function's name). */
class GraftSessionSpec extends SparkSpec {

  test("local[4] gets exactly the session keys Bench set at 4 cpus") {
    assert(GraftSession.sqlConf("local[4]") == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "64",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        GraftSession.advisoryPartitionBytes(Runtime.getRuntime.maxMemory, 4).toString,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
      "spark.hadoop.fs.file.impl" -> "graft.sources.LocalFs",
      "spark.sql.artifact.isolation.enabled" -> "false"))
  }

  test("a task thread loads classes through the miss cache, with no RPC-fetching loader") {
    // a Dataset job, so it runs under the session's artifact state as a query does
    val chain = spark.range(0, 1, 1, 1).map { _ =>
      Iterator.iterate(Thread.currentThread.getContextClassLoader)(_.getParent)
        .takeWhile(_ != null).map(_.getClass.getName).mkString(" > ")
    }(org.apache.spark.sql.Encoders.STRING).collect().head.split(" > ").toSeq
    assert(chain.contains(classOf[ClassMissCache].getName), chain)
    assert(!chain.exists(_.endsWith("ExecutorClassLoader")), chain)
  }

  test("builder installs the miss cache over the system loader and leaves any other loader") {
    val t = Thread.currentThread
    val prev = t.getContextClassLoader
    val system = ClassLoader.getSystemClassLoader
    val other = new java.net.URLClassLoader(Array.empty[java.net.URL], system)
    try {
      t.setContextClassLoader(other)
      GraftSession.builder("local[2]")
      assert(t.getContextClassLoader eq other)
      t.setContextClassLoader(system)
      GraftSession.builder("local[2]")
      val installed = t.getContextClassLoader
      assert(installed.isInstanceOf[ClassMissCache] && (installed.getParent eq system))
      // a second builder call keeps the one cache
      GraftSession.builder("local[2]")
      assert(t.getContextClassLoader eq installed)
    } finally t.setContextClassLoader(prev)
  }

  test("advisory partition size: heap x 0.3 / cpus / 4, clamped to [8 MB, 64 MB]") {
    assert(GraftSession.advisoryPartitionBytes(8L << 30, 32) == 20132659L)
    assert(GraftSession.advisoryPartitionBytes(64L << 30, 4) == (64L << 20))
    assert(GraftSession.advisoryPartitionBytes(1L << 30, 32) == (8L << 20))
  }

  test("core count comes from the master string") {
    val procs = Runtime.getRuntime.availableProcessors()
    Seq(
      "local" -> Some(1),
      "local[3]" -> Some(3),
      "local[3,2]" -> Some(3),
      "local[*]" -> Some(procs),
      "local[*,4]" -> Some(procs),
      "local-cluster[2,16,8192]" -> None,
      "yarn" -> None,
    ).foreach { case (master, cores) =>
      assert(GraftSession.localCores(master) == cores, master)
    }
    assert(GraftSession.sqlConf("local")("spark.sql.shuffle.partitions") == "1")
    assert(GraftSession.sqlConf("local[3,2]")(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "48")
    val cluster = GraftSession.sqlConf("yarn")
    assert(cluster("spark.sql.shuffle.partitions") == "32")
    assert(!cluster.contains("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
  }

  test("SPARK_GRAFT_CONF: key=value entries parse; a malformed entry fails by name") {
    assert(GraftSession.confOverrides("spark.x=1") == Map("spark.x" -> "1"))
    assert(GraftSession.confOverrides("spark.y=a=b; spark.x=1;") ==
      Map("spark.y" -> "a=b", "spark.x" -> "1"))
    assert(GraftSession.confOverrides("") == Map.empty)
    Seq("spark.x", "=1").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        GraftSession.confOverrides(s"spark.ok=1;$bad")
      }
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("GraftExtensions registers word_ngrams/dot_product_d/cosine_sim_d in SQL") {
    // the shared test session is built by the shipped builder
    GraftSession.sqlConf("local[4]").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    val r = spark.sql(
      """SELECT word_ngrams(array('a','b','c'), 2) AS ng,
                dot_product_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
                cosine_sim_d(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs""")
      .collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("ng").toSeq == Seq("a b", "b c"))
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Double]("cs") == 1.0)
    val cn = spark.sql("SELECT char_ngrams('abcd', 3) AS cn")
      .collect()(0).getAs[scala.collection.Seq[String]]("cn").toSeq
    assert(cn == Seq("abc", "bcd"))
    val hh = spark.sql(
      """SELECT heavy_hitters(v, 2) AS hh
         FROM VALUES ('a'), ('a'), ('a'), ('b'), ('c') AS t(v)""")
      .collect()(0).getAs[Map[String, Long]]("hh")
    assert(hh.contains("a") && hh("a") >= 3)
    val th = spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_agg(v)) AS e
         FROM VALUES (CAST(1 AS BIGINT)), (2L), (2L) AS t(v)""")
      .collect()(0).getLong(0)
    assert(th == 2L)
  }

  test("every registered function fails by name on one argument too few or too many") {
    GraftExtensions.functions.foreach { case (name, _, arity, _) =>
      Seq(arity - 1, arity + 1).foreach { n =>
        val e = intercept[IllegalArgumentException] {
          spark.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})").collect()
        }
        assert(e.getMessage == s"$name takes $arity arguments, got $n", e.getMessage)
      }
    }
  }

  test("no registered function shadows a Spark built-in") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 6)
    assert(names.filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))).isEmpty)
    val th = spark.sql("DESCRIBE FUNCTION theta_sketch_agg").collect().map(_.getString(0))
    assert(th.exists(_.startsWith("Class: org.apache.spark.")), th.mkString("\n"))
  }
}
