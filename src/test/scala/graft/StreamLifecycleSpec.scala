package graft

/** The streaming lifecycle contract: how many streaming queries each
  * streaming driver row starts at sf0.001. Every start pays a whole
  * query lifecycle (checkpoint set-up, planning, stop), so a change
  * that adds or loses one shows here before it shows in the timings. */
class StreamLifecycleSpec extends SparkSpec {

  private val dir =
    java.nio.file.Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  private val expected = Seq(
    "a16_broker_roundtrip" -> 1,    // one broker drain
    "a17_warehouse_roundtrip" -> 4, // the producer sink + three drains
    "a18_retry_roundtrip" -> 2,     // the drain + the drain of the retries
    "a19_stream_compact" -> 1,
    "b23_stream_sessions" -> 1,
    "b33_streaming_rollup" -> 2,    // the rollup + its full replay
    "c81_streaming_ingest" -> 1,
    "c106_index_append" -> 1)

  expected.foreach { case (name, n) =>
    test(s"$name starts $n streaming quer${if (n == 1) "y" else "ies"}") {
      val (rows, ran) = profiled(SparkEntry.queries(name)(spark, dir).count())
      assert(rows > 0)
      assert(ran.streamsStarted == n)
    }
  }
}
