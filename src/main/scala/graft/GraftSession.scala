package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.plans.{BottomKByHash, CharNGrams, CosineSimD, DotProductD, HeavyHitters, WordNGrams}

/** Session wiring for the graft engine.
  *
  * [[GraftExtensions]] registers the library's native expressions as
  * SQL functions via the public `SparkSessionExtensions` mechanism, so
  * `spark.sql("SELECT word_ngrams(tk, 5) ...")` works next to the
  * Column API (which lifts the same Expression classes directly):
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // or:
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        (args: Seq[Expression]) => {
          if (args.size != arity) throw new IllegalArgumentException(
            s"$name takes $arity arguments, got ${args.size}")
          build(args)
        }))
    }
    // opt-in CH-uniq() semantics: spark.graft.approxDistinct=true
    // rewrites exact COUNT(DISTINCT x) to an HLL sketch estimate
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRewrite)
  }
}

object GraftExtensions {
  /** The SQL functions a graft session registers: (name, usage,
    * argument count, builder). No name may be a Spark built-in. */
  private[graft] val functions: Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("word_ngrams", "word_ngrams(toks, n) - space-joined sliding n-grams of a token array", 2,
      a => WordNGrams(a(0), intArg(a, 1, "word_ngrams"))),
    ("char_ngrams", "char_ngrams(s, n) - sliding n-codepoint windows of a string", 2,
      a => CharNGrams(a(0), intArg(a, 1, "char_ngrams"))),
    ("dot_product_d", "dot_product_d(a, b) - dot product of two double arrays", 2,
      a => DotProductD(a(0), a(1))),
    ("cosine_sim_d", "cosine_sim_d(a, b) - cosine similarity of two double arrays", 2,
      a => CosineSimD(a(0), a(1))),
    ("bottom_k_by_hash", "bottom_k_by_hash(id, k) - deterministic k-minimum-values sample aggregate", 2,
      a => BottomKByHash(a(0), intArg(a, 1, "bottom_k_by_hash"))),
    ("heavy_hitters", "heavy_hitters(v, capacity) - SpaceSaving top-k sketch aggregate (CH topK)", 2,
      a => HeavyHitters(a(0), intArg(a, 1, "heavy_hitters"))))

  private def intArg(args: Seq[Expression], i: Int, fn: String): Int = args(i) match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument ${i + 1} must be an integer literal, got $other")
  }
}

/** The one definition of a graft session's plan-affecting `spark.sql.*`
  * settings: AQE on, UTC, nanos-long parquet reads (the events table is
  * TIMESTAMP(NANOS)), extensions registered, plus graft's local
  * `file:` FileSystem. Every main takes its session from [[builder]],
  * so the oracle gate checks the plans the bench times.
  *
  * [[builder]] also makes class-name misses cheap, a large share of the
  * cost of compiling Spark's generated code. If the calling thread's
  * context class loader is the system loader, it becomes a
  * [[ClassMissCache]] over it, which remembers the names the system
  * loader could not find. Built on that thread, a local session's
  * executor takes the cache as its parent loader; stream, AQE and
  * [[graft.streaming.Scaffold.overlapped]] threads inherit it. Threads
  * that submit queries should descend from the thread that built the
  * session; on any other thread the driver's own compiles search the
  * classpath on every miss, as before. Any
  * other context loader (spark-submit's, a REPL's, a notebook's) can
  * gain classes later and is left alone. */
object GraftSession {
  def builder(master: String = "local[*]"): SparkSession.Builder = {
    ClassMissCache.install()
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config(sqlConf(master))
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]").getOrCreate()

  /** Overrides from `SPARK_GRAFT_CONF` ("k=v;k=v"), applied LAST by the
    * mains so a probe run can dial a knob without editing the defaults.
    * The entries come from outside the program: a malformed one fails
    * startup by name instead of being dropped. */
  def confOverrides(spec: String = sys.env.getOrElse("SPARK_GRAFT_CONF", "")): Map[String, String] =
    spec.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }.toMap

  /** Task threads of a local master (None for a cluster master):
    * `local` runs 1, `local[N]` and `local[N,F]` (F = task retries) run
    * N, `local[*]` one per processor. NOT local-cluster[...]: that one
    * forks executor JVMs whose memory the driver's heap says nothing
    * about. */
  private[graft] def localCores(master: String): Option[Int] = master match {
    case "local" => Some(1)
    case LocalThreads(n) =>
      Some(if (n == "*") Runtime.getRuntime.availableProcessors() else n.toInt)
    case _ => None
  }
  private val LocalThreads = """local\[(\d+|\*)(?:,\d+)?\]""".r

  /** Spill-aware AQE target. The stock 64 MB advisory partition size
    * assumes ~1 GB of execution memory per core; a thread-dense local
    * JVM gives each task far less (32 cpus in one 8 GB JVM ≈ 75 MB), so
    * a 64 MB post-shuffle partition cannot sort in memory — the r10
    * sf100 probe adjudicated b2's 19.5x third decade as exactly this
    * spill. Derived from what a task has: heap × 0.3 (the execution
    * half of unified memory) / cpus / 4 (sort workspace vs uncompressed
    * input), clamped to [8 MB, 64 MB] so a memory-rich JVM keeps the
    * stock value. At 8 GB / 32 cpus that is ~20 MB — measured at sf100
    * (600 M-row lineitem): b2 47.9→42.3 s, b3 57.5→47.9 s, b101
    * 57.8→51.4 s at identical plans; small scales coalesce to the same
    * handful of partitions either way. */
  private[graft] def advisoryPartitionBytes(maxHeap: Long, cpus: Int): Long =
    math.max(8L << 20, math.min(64L << 20, (maxHeap * 0.3 / cpus / 4).toLong))

  private[graft] def sqlConf(master: String): Map[String, String] = {
    val shared = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Let AQE re-size CACHED plans too (default false): a persisted
      // frame downstream of an exchange otherwise pins the exchange's
      // INITIAL partition count into the cache — with
      // initialPartitionNum sized for scale (16× cores), every stage
      // that reads the cache then launches that many tasks no matter
      // how small the data (measured at sf0.1: 512 tasks per stage on
      // 2,000 cached rows; c65b 13.2→4.7 s, b102 8.8→2.4, c21 6.8→2.9
      // with the flag). With it on, the cached plan's final exchange
      // coalesces to the advisory size like every other exchange —
      // scale-adaptive in both directions, no pinned dial.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // CPU-dense small shuffles (pairwise verifies, within-cell cosine
      // joins) need parallelism the 1 MB byte-based coalescing floor
      // denies them: a 6 MB shuffle coalesced to ~6 partitions and ran
      // c4's verify 6-wide. 256 KB lets it spread to ~cores while large
      // shuffles stay governed by the advisory size (same-minute A/B:
      // c4 3.9→2.1 s, c98 2.0→1.4, c102 2.9→2.5, rest flat).
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      // Streaming-checkpoint metadata cost (r13, guide §2.6/§6 — the
      // r12 verdict's "drop redundant checkpoint fsyncs"). Two Spark
      // 4.1 defaults double-to-quadruple the small-file metadata ops
      // every micro-batch commit pays, and a thread dump under b23's
      // session stage showed 32 tasks serialized behind them (each
      // state-store commit: wall 814 ms, CPU 43 ms):
      //  - checkpoint.fileChecksum (new in 4.1, default ON) writes a
      //    checksum SIDECAR via its own create+rename per checkpoint
      //    file. This engine's exactly-once story is offset replay +
      //    content digests + message_id dedup — the sidecar guards
      //    long-lived checkpoints against bit rot, which callers that
      //    keep checkpoints for months can re-enable via conf.
      //  - the default FileContext checkpoint manager's rename calls
      //    getFileLinkStatus, which without native Hadoop libs FORKS a
      //    `readlink` shell per rename (~30 state-delta renames per
      //    stateful trigger). The FileSystem-based manager does the
      //    same atomic local/HDFS rename through java.io.File, with no
      //    `readlink`; object stores without FileContext already use
      //    it. Its create and mkdirs still forked `chmod` until the
      //    `file:` FileSystem below.
      // Measured: b23_stream_sessions 3.60 -> 2.47 s; family-wide
      // every trigger sheds the same per-commit ladder.
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"),
      // Local writes without a `chmod` fork per file and dir: without
      // libhadoop, stock Hadoop forks one for each part file, `.crc`
      // sidecar, partition dir, staged-land mkdirs and checkpoint log
      // (477 per ingest_drain run, JFR). LocalFs sets the same bits in
      // the JVM; docs/SCALE.md has the census and the A/B.
      "spark.hadoop.fs.file.impl" -> graft.sources.LocalFs.Impl,
      // A graft session adds no session artifacts (`spark.jars` and
      // `addJar` stay SparkContext-wide), so per-session isolation buys
      // nothing. With it on, every task loads classes through an
      // ExecutorClassLoader that asks the driver over RPC for each name
      // the classpath lacks, and Janino probes many such names per
      // compile; docs/SCALE.md has the census.
      "spark.sql.artifact.isolation.enabled" -> "false")
    localCores(master) match {
      // a cluster's cores and executor memory aren't knowable from the
      // driver: callers size those with .config(...) on the builder
      case None => shared + ("spark.sql.shuffle.partitions" -> "32")
      case Some(cpus) => shared ++ Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        // Scale-correct shuffle sizing: START high and let AQE coalesce
        // down to the advisory size. A pinned 32 partitions broke a
        // decade up — at sf100 (600 M-row lineitem) 32-way sorts spilled
        // ~20 M rows/task and b101 ran 105 s; with 512 initial
        // partitions AQE kept small scales identical (coalesced to the
        // same ~32) and b101 dropped to 46 s. 16× cpus mirrors what a
        // real cluster would set (2-5× total cores, headroom for skew).
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (16 * cpus).toString,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          advisoryPartitionBytes(Runtime.getRuntime.maxMemory, cpus).toString)
    }
  }
}
