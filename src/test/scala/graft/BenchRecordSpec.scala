package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's drift machinery: the prior-record reader (our own
  * bench_full.json format), the normalized-median movers gate, and the
  * per-gate timing that keeps a crashed gate out of the samples. Pure
  * driver-side logic — no SparkSession needed. */
class BenchRecordSpec extends AnyFunSuite {

  private val sample =
    """{"total":451.359,"batch_total":367.245,"streaming_total":84.114,
      |"n_queries":305,"repeats":3,"heap_gb":89,
      |"sentinel_sec":[0.338,0.196,0.161,0.117],
      |"traversal_totals":[651.213,455.944,404.488],
      |"sentinel_ref_sec":0.094,"sentinel_warm_median":0.161,
      |"sentinel_ratio":1.713,"total_norm_sec":263.489,
      |"queries":{"a1_min_max":0.402,"gm_coverage_audit":8.528,"w1_dedup":0.483},
      |"runs":{"a1_min_max":[0.4,0.41,0.39],"gm_coverage_audit":[8.528,3.077,8.548]},
      |"sf":"/root/testdata/sf0.1"}""".stripMargin.replace("\n", "")

  test("parsePriorRecord recovers sf, sentinel_ratio and the medians map") {
    val Some((sf, ratio, qs)) = Bench.parsePriorRecord(sample)
    assert(sf === "/root/testdata/sf0.1")
    assert(ratio === 1.713)
    assert(qs === Map(
      "a1_min_max" -> 0.402, "gm_coverage_audit" -> 8.528,
      "w1_dedup" -> 0.483))
  }

  test("parsePriorRecord rejects records missing required fields") {
    assert(Bench.parsePriorRecord("{}").isEmpty)
    assert(Bench.parsePriorRecord("""{"sf":"/x","queries":{"a":1.0}}""").isEmpty)
    assert(Bench.parsePriorRecord("not json at all").isEmpty)
  }

  test("movers flags normalized shifts beyond the ratio, either direction") {
    // prior machine 2x slower than reference; current at reference speed.
    // raw 4.0s @ ratio 2.0 == normalized 2.0s; current raw 2.1 @ ratio
    // 1.0 == 2.1 — NOT a mover. Current raw 6.0 == 3x normalized — mover.
    val prior = Map("steady" -> 4.0, "regressed" -> 4.0, "improved" -> 4.0,
      "tiny" -> 0.02)
    val cur = Map("steady" -> 2.1, "regressed" -> 6.0, "improved" -> 1.0,
      "tiny" -> 0.08)
    val m = Bench.movers(cur, 1.0, prior, 2.0)
    val names = m.map(_._1)
    assert(names.contains("regressed") && names.contains("improved"))
    assert(!names.contains("steady"), "within the 1.5x band")
    assert(!names.contains("tiny"), "below the noise floor")
    val reg = m.find(_._1 == "regressed").get
    assert(reg._2 === 2.0 && reg._3 === 6.0 && reg._4 === 3.0)
    // worst shift first, whichever direction it went
    assert(m.head._1 == "improved" || m.head._1 == "regressed")
  }

  test("movers is empty when nothing crosses both gates") {
    assert(Bench.movers(
      Map("a" -> 1.0), 1.0, Map("a" -> 1.2), 1.0).isEmpty)
  }

  test("a throwing gate yields a failure, not a timed sample") {
    val r = Bench.timeOne(null, "/nonexistent", "boom",
      (_, _) => throw new IllegalStateException("gate exploded"))
    assert(r === Left("gate exploded"))
  }
}
