package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the solo-retime adjudication's input: the r11 regex parser
  * tolerated no whitespace after colons, so the moment BENCH_IDLE.json
  * was committed pretty-printed the parser silently returned an empty
  * map and the retimer never fired again. These tests feed the parser
  * the ACTUAL committed file (whatever shape it is written in today)
  * plus both canonical shapes, so a format drift fails the build
  * instead of silently disarming the bench's self-adjudication. */
class BenchIdleParseSpec extends AnyFunSuite {

  private val canonicalSf = "/root/testdata/sf0.1"

  test("the committed BENCH_IDLE.json parses to a full-sized map") {
    val p = java.nio.file.Paths.get("BENCH_IDLE.json")
    assert(java.nio.file.Files.exists(p), "BENCH_IDLE.json must be committed")
    val txt = new String(java.nio.file.Files.readAllBytes(p))
    val idle = Bench.parseIdleBaseline(txt, canonicalSf, "32")
    assert(idle.size >= 200,
      s"committed idle baseline parsed to only ${idle.size} entries — " +
        "the solo-retime adjudication is disarmed")
    assert(idle.values.forall(v => v >= 0.0 && v < 3600.0),
      "idle seconds out of range — wrong fields captured")
    // known stable queries must be present with their own times
    assert(idle.contains("a1_ingest") && idle.contains("c9_quality"))
  }

  test("pretty-printed and compact shapes parse identically") {
    val compact =
      s"""{"queries":{"a1":0.5,"b2":1.25},"metric":"total","value":1.75,"sf":"$canonicalSf","cpus":32}"""
    val pretty =
      s"""{
         |  "queries": {
         |    "a1": 0.5,
         |    "b2": 1.25
         |  },
         |  "metric": "total",
         |  "value": 1.75,
         |  "sf": "$canonicalSf",
         |  "cpus": 32
         |}""".stripMargin
    // a full bench file's line, which carries each query's layers
    val layered = compact.stripSuffix("}") +
      ""","layers":{"a1":{"wall_ms":500,"driver_ms":120,"jobs":3},"b2":{"wall_ms":1250}}}"""
    val want = Map("a1" -> 0.5, "b2" -> 1.25)
    assert(Bench.parseIdleBaseline(compact, canonicalSf, "32") == want)
    assert(Bench.parseIdleBaseline(pretty, canonicalSf, "32") == want)
    assert(Bench.parseIdleBaseline(layered, canonicalSf, "32") == want)
  }

  test("a baseline at a different sf is rejected; garbage is empty") {
    val txt = s"""{"queries":{"a1":0.5},"sf":"elsewhere/sf0.01","cpus":32}"""
    assert(Bench.parseIdleBaseline(txt, canonicalSf, "32").isEmpty)
    // nor is one at the same sf on another core count, or naming none:
    // a 4-core run re-timed against the 32-core floor re-times for the
    // cores it lacks
    val at32 = s"""{"queries":{"a1":0.5},"sf":"$canonicalSf","cpus":32}"""
    assert(Bench.parseIdleBaseline(at32, canonicalSf, "4").isEmpty)
    assert(Bench.parseIdleBaseline(at32, canonicalSf, "32") == Map("a1" -> 0.5))
    assert(Bench.parseIdleBaseline(s"""{"queries":{"a1":0.5},"sf":"$canonicalSf"}""",
      canonicalSf, "32").isEmpty)
    assert(Bench.parseIdleBaseline("not json at all", canonicalSf, "32").isEmpty)
    assert(Bench.parseIdleBaseline("""{"sf":"x"}""", canonicalSf, "32").isEmpty)
  }

  test("only a full-suite sf0.1 32-core run may write the canonical file") {
    // r12: the driver's 8-core scaling leg clobbered BENCH_local_latest
    // with an 8-core map — the gate now requires the canonical cpus too
    assert(Bench.benchFileFor(false, canonicalSf, "32") ==
      "BENCH_local_latest.json")
    assert(Bench.benchFileFor(false, canonicalSf, "8") ==
      "BENCH_probe_latest.json")
    assert(Bench.benchFileFor(true, canonicalSf, "32") ==
      "BENCH_probe_latest.json")
    assert(Bench.benchFileFor(false, "/root/testdata/sf1", "32") ==
      "BENCH_probe_latest.json")
  }

  test("oversplit suspects: faster-on-fewer-cores queries are flagged") {
    val canonical = Map("b102" -> 6.8, "b23" -> 3.5, "c93" -> 1.8,
      "tiny" -> 0.4, "flat" -> 2.0)
    val probe = Seq("b102" -> 2.7, "b23" -> 1.9, "c93" -> 4.5,
      "tiny" -> 0.1, "flat" -> 1.9, "new_q" -> 0.2)
    // b102 (0.39) and b23 (0.54) flag, worst ratio first; c93 got slower
    // (parallelising), "flat" is within band, "tiny" is under the 1 s
    // floor, "new_q" has no canonical time
    assert(Bench.oversplitSuspects(probe, canonical) == Seq("b102", "b23"))
    assert(Bench.oversplitSuspects(probe, Map.empty).isEmpty)
  }
}
