package graft

import org.scalatest.funsuite.AnyFunSuite

/** The divergence classifier's decision boundaries, pinned with synthetic
  * per-pass profiles shaped like the stalls it exists to attribute.
  */
class BenchClassifySpec extends AnyFunSuite {
  private def m(wall: Double, gc: Double = 0, cpu: Double = 0, busy: Double = 0,
      heapGrow: Double = 0) =
    Bench.RunMetrics(wall, gc, cpu, busy, 0, 0, 0, 0, 0, heapGrowMb = heapGrow)

  test("collector time eating the excess classifies as gc") {
    // slow pass: +10s wall, +6s GC
    assert(Bench.classifyStall(m(12, gc = 6.5, cpu = 20, busy = 30),
      m(2, gc = 0.2, cpu = 18, busy = 28)) == "gc")
  }

  test("idle executors during the excess classify as driver-or-scheduler") {
    // wall grows 10s but summed executor run time barely moves: planning,
    // codegen compilation, catalog work — the driver owns the stall
    assert(Bench.classifyStall(m(12, cpu = 19, busy = 29),
      m(2, cpu = 18, busy = 28)) == "driver-or-scheduler")
  }

  test("busy-but-starved executors classify as io-or-contention") {
    // executors report +40s run time over the pair but the PROCESS got
    // only +2s of CPU: blocked on cold reads or an external core thief
    assert(Bench.classifyStall(m(12, cpu = 20, busy = 68),
      m(2, cpu = 18, busy = 28)) == "io-or-contention")
  }

  test("hot executors with matching process CPU classify as executor-cpu") {
    // the excess was real on-core compute (JIT warmup, plan change)
    assert(Bench.classifyStall(m(12, cpu = 58, busy = 68),
      m(2, cpu = 18, busy = 28)) == "executor-cpu")
  }

  test("multi-GB committed-heap growth during the slow pass classifies as heap-commit, before executor-cpu") {
    // the r12 driver mode: hot executors, matching process CPU, BUT the
    // slow pass grew the committed heap by tens of GB (lazy page commit)
    assert(Bench.classifyStall(m(57, cpu = 1247, busy = 1718, heapGrow = 40000),
      m(5, cpu = 84, busy = 92, heapGrow = 100)) == "heap-commit")
    // without the heap growth the same profile stays executor-cpu
    assert(Bench.classifyStall(m(57, cpu = 1247, busy = 1718, heapGrow = 500),
      m(5, cpu = 84, busy = 92)) == "executor-cpu")
  }

  test("tie-break comparability: equal or superset build ownership is comparable, subset is not") {
    assert(Bench.tiebreakComparable(1, 1))
    assert(Bench.tiebreakComparable(2, 1),
      "a fresh-reset retry that also rebuilt upstream memos did a work " +
        "SUPERSET: its time is an upper bound, accepting it is conservative " +
        "(the r12 graph_pagerank false divergent)")
    assert(!Bench.tiebreakComparable(0, 1),
      "a sample that found memos warm did LESS work — its fast time proves nothing")
  }

  test("tie-break replay: every earlier pass-2 build owner, in pass order, listed or not") {
    // pass order as the bench sorts it: rank-0 names alphabetically, then
    // the rank-1 consumers; none of the three owners ahead of
    // dedup_semantic has a rank of its own
    val names = Seq("corpus_dataset_card", "dedup_cosine_sparse", "q1_word_count",
      "similarity_ivf_sweep", "dedup_cosine_lsh", "dedup_semantic", "dedup_canonical")
    val builds = Map("corpus_dataset_card" -> 2L, "dedup_cosine_sparse" -> 1L,
      "q1_word_count" -> 0L, "similarity_ivf_sweep" -> 1L, "dedup_cosine_lsh" -> 0L,
      "dedup_semantic" -> 1L, "dedup_canonical" -> 0L)
    assert(Bench.replayBefore(names, "dedup_semantic", builds) ===
      Seq("corpus_dataset_card", "dedup_cosine_sparse", "similarity_ivf_sweep"))
    assert(Bench.replayBefore(names, "dedup_canonical", builds) ===
      Seq("corpus_dataset_card", "dedup_cosine_sparse", "similarity_ivf_sweep", "dedup_semantic"))
    assert(Bench.replayBefore(names, "corpus_dataset_card", builds) === Nil)
  }

  test("pair divergence needs BOTH the ratio and the absolute floor") {
    assert(Bench.pairDiverges(1.0, 5.0))
    assert(!Bench.pairDiverges(1.0, 2.5), "under the 3x ratio")
    assert(!Bench.pairDiverges(0.1, 0.9),
      "9x ratio but 0.8s spread is under the 1s floor — sub-second noise")
    assert(Bench.pairDiverges(5.0, 1.0), "order must not matter")
  }

  test("a third sample corroborating the best clears the divergent flag; one that doesn't, doesn't") {
    assert(Bench.uncorroborated(Seq(1.0, 5.0)), "a lone fast pass is a hope")
    assert(!Bench.uncorroborated(Seq(1.0, 5.0, 1.2)),
      "two agreeing fast runs bracketing one stall are a measurement")
    assert(Bench.uncorroborated(Seq(1.0, 5.0, 4.8)),
      "one fast run against two slow ones stays uncorroborated")
    assert(!Bench.uncorroborated(Seq(2.0)), "a single sample cannot diverge")
    assert(!Bench.uncorroborated(Seq.empty))
  }

  test("a monotone contracting decay train is warm-up, not divergence") {
    // the r13 events_props_json false positive: pure JIT warm-up decay —
    // every sample beats the last, gaps contract toward the floor
    assert(Bench.monotoneDecay(Seq(5.79, 1.59, 0.39)))
    // geometric decay with more samples still qualifies
    assert(Bench.monotoneDecay(Seq(8.0, 4.0, 2.2, 1.4)))
    // a LINEAR fall (gaps not contracting) proves no floor: stays divergent
    assert(!Bench.monotoneDecay(Seq(10.0, 7.0, 4.0)))
    // any increase breaks the decay read — this is the classic stall shape
    assert(!Bench.monotoneDecay(Seq(1.0, 5.0, 0.9)))
    assert(!Bench.monotoneDecay(Seq(5.0, 1.0, 1.2)))
    // a pair cannot show a decay shape
    assert(!Bench.monotoneDecay(Seq(5.0, 1.0)))
    assert(!Bench.monotoneDecay(Seq.empty))
  }
}
