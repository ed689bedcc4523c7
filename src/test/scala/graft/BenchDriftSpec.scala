package graft

import org.scalatest.funsuite.AnyFunSuite

/** The drift gate must demonstrably FIRE — the round-10 inline regex
  * never matched the pretty-printed baseline and silently reported
  * `drift_flagged: 0` for a whole round. Every fixture here is the
  * EXACT byte shape Bench writes / the repo commits, not an idealized
  * compact form. */
class BenchDriftSpec extends AnyFunSuite {

  // the committed BENCH_full_prev.json shape: pretty-printed, space
  // after the colon, one entry per line
  private val prettyBaseline =
    """{
      | "metric": "total",
      | "value": 107.015,
      | "unit": "sec",
      | "queries": {
      |  "q01_gold_agg": 0.329,
      |  "q48_null_aware_anti": 0.212,
      |  "d20_bpe_pairs": 0.266,
      |  "m02_media_decode": 0.130
      | },
      | "sf": "/root/testdata/sf0.1"
      |}""".stripMargin

  test("parseBaseline reads the pretty-printed (space-after-colon) committed shape") {
    val prev = BenchDrift.parseBaseline(prettyBaseline)
    assert(prev("q01_gold_agg") === 0.329)
    assert(prev("d20_bpe_pairs") === 0.266)
    assert(prev.size === 4) // meta keys (value) excluded, queries kept
  }

  test("parseBaseline reads the compact single-line bench_result.json shape") {
    val compact = """{"metric":"total","value":1.0,"unit":"sec","queries":{"q01_gold_agg":0.329,"d20_bpe_pairs":0.266},"sf":"x"}"""
    val prev = BenchDrift.parseBaseline(compact)
    assert(prev === Map("q01_gold_agg" -> 0.329, "d20_bpe_pairs" -> 0.266))
  }

  test("parseBaseline skips the codegen_compiles counts bench_result.json carries") {
    val full = """{"metric":"total","value":1.0,"unit":"sec","queries":{"q01_gold_agg":0.329},""" +
      """"drift":{},"codegen_compiles":{"warmup":41,"sweep1":2900,"sweep2":3},"sf":"x"}"""
    assert(BenchDrift.parseBaseline(full) === Map("q01_gold_agg" -> 0.329))
  }

  test("the gate FIRES: an inflated query vs the pretty baseline is flagged") {
    val prev = BenchDrift.parseBaseline(prettyBaseline)
    val results = Seq(
      "q01_gold_agg" -> 0.572, // 1.74x — the round-10 masked row
      "q48_null_aware_anti" -> 0.215, // within noise
      "d20_bpe_pairs" -> 0.270) // within noise
    val flagged = BenchDrift.flag(results, prev)
    assert(flagged === Seq(("q01_gold_agg", 0.329, 0.572)))
  }

  test("sub-floor regressions and failed queries never flag") {
    val prev = Map("m02_media_decode" -> 0.130, "q01_gold_agg" -> 0.329)
    // 2.0x but below the 0.3 s floor → jitter, not drift; -1 = failed run
    val results = Seq("m02_media_decode" -> 0.260, "q01_gold_agg" -> -1.0)
    assert(BenchDrift.flag(results, prev).isEmpty)
  }

  test("a baseline with zero query entries parses empty (Bench reports the gate DEAD)") {
    assert(BenchDrift.parseBaseline("""{"metric": "total"}""").isEmpty)
    assert(BenchDrift.parseBaseline("").isEmpty)
  }
}
