package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's scale-factor guard on baseline acceptance (r12 post-mortem:
  * an sf0.01 run overwrote the committed sf0.1 BENCH_FULL.json; the
  * median-based uniform-load guard — whose median gate is
  * overhead-bound — passed the cross-scale comparison and poisoned
  * five round-end windows into self-discarding). A baseline recorded
  * at a different sf, or one with no recorded sf at all, must be
  * REFUSED for ratio comparison. */
class BenchGuardSpec extends AnyFunSuite {

  private val sf01Line =
    """{"metric":"total","value":1.0,"unit":"sec",""" +
    """"queries":{"q1_agg":0.500,"q2_join":0.250},""" +
    """"queries_cold":{"q1_agg":9.900,"q2_join":8.800},""" +
    """"reps":3,"sf":"/root/testdata/sf0.1"}"""

  test("a same-sf baseline is accepted; sf identity is the basename") {
    val want = Map("q1_agg" -> 0.5, "q2_join" -> 0.25)
    assert(Bench.baselineFor(sf01Line, "/root/testdata/sf0.1") === want)
    // same sf recorded under a different mount point still matches
    assert(Bench.baselineFor(sf01Line, "/mnt/data/sf0.1/") === want)
  }

  test("a cross-sf baseline is refused — the exact r12 poisoning shape") {
    assert(Bench.baselineFor(sf01Line, "/root/testdata/sf0.01") ===
      Map.empty)
    assert(Bench.baselineFor(sf01Line, "/root/testdata/sf1") ===
      Map.empty)
    assert(Bench.baselineFor(
      sf01Line.replace("sf0.1", "sf0.01"), "/root/testdata/sf0.1") ===
      Map.empty)
  }

  test("a baseline without a recorded sf is refused (scale unprovable)") {
    assert(Bench.baselineFor(
      """{"queries":{"q1_agg":0.500}}""", "/root/testdata/sf0.1") ===
      Map.empty)
  }

  test("queries_cold never shadows the medians") {
    val m = Bench.baselineFor(sf01Line, "/root/testdata/sf0.1")
    assert(m("q1_agg") === 0.5) // not the 9.9 cold time
  }

  test("a baseline recorded at other cpus is refused; one without cpus " +
      "is judged by sf alone") {
    val at32 = sf01Line.stripSuffix("}") + ""","cpus":32}"""
    val want = Map("q1_agg" -> 0.5, "q2_join" -> 0.25)
    assert(Bench.parseCpus(at32) === Some(32))
    assert(Bench.baselineFor(at32, "/data/sf0.1", Some(32)) === want)
    assert(Bench.baselineFor(at32, "/data/sf0.1", Some(4)) ===
      Map.empty)
    assert(Bench.cpusDiffer(at32, Some(4)))
    // the sf guard still applies at matching cpus
    assert(Bench.baselineFor(at32, "/data/sf0.01", Some(32)) ===
      Map.empty)
    assert(Bench.baselineFor(sf01Line, "/data/sf0.1", Some(4)) ===
      want)
    assert(!Bench.cpusDiffer(sf01Line, Some(4)))
    // the committed baseline is the 32-core run and says so
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench/BENCH_FULL.json"))
    assert(Bench.parseCpus(committed) === Some(32))
    assert(Bench.parseSf(committed).map(Bench.sfName) === Some("sf0.1"))
  }
}
