package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round 9's streaming rows silently no-opped because nobody noticed a
  * gap between what exists and what gets measured. The README's claim
  * since round 11 is "every gated query runs in the bench except
  * `ann_cosine_pairs`" — this spec makes that structural: a new
  * `SparkEntry.queries` entry that is not added to `Bench.headline`
  * fails the build instead of going unbenched for a round.
  */
class BenchCoverageSpec extends AnyFunSuite {

  /** The deliberately-quadratic small-SF verifiers excluded by design. */
  private val excluded = Set("ann_cosine_pairs")

  test("the bench headline covers every gated query except the exclusions") {
    val missing = SparkEntry.queries.keySet -- Bench.headline.toSet -- excluded
    assert(missing.isEmpty,
      s"gated queries absent from Bench.headline (their perf would be " +
        s"invisible round-over-round): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("the headline names only real queries, each once") {
    val unknown = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"headline names unknown queries: $unknown")
    val dups = Bench.headline.diff(Bench.headline.distinct).distinct
    assert(dups.isEmpty, s"duplicated headline entries: $dups")
    assert(excluded.subsetOf(SparkEntry.queries.keySet),
      "the exclusion list names a query that no longer exists")
  }

  test("the artifact tag lists name only real benched queries") {
    // a stale name here would silently stop excluding a policy row from
    // A/B geomeans (tools/bench_ab.py keys on these artifact fields)
    for ((label, list) <- Seq("arith_float_rows" -> Bench.floatRows,
        "cached_structure_rows" -> Bench.cachedStructureRows)) {
      val unknown = list.toSet -- SparkEntry.queries.keySet
      assert(unknown.isEmpty, s"$label names unknown queries: $unknown")
      val unbenched = list.toSet -- Bench.headline.toSet
      assert(unbenched.isEmpty, s"$label names unbenched queries: $unbenched")
      assert(list.distinct == list, s"$label has duplicates")
    }
  }

  test("row-count markers stick: an error or drift is never overwritten") {
    def passes(ns: Long*): Long =
      ns.foldLeft(Option.empty[Long])((prev, n) =>
        Some(Bench.mergeRowCount(prev, n))).get
    assert(passes(-2L, 7L, 7L) == -2L, "error then ok must stay an error")
    assert(passes(7L, -2L, 7L) == -2L, "ok, error, ok must stay an error")
    assert(passes(7L, 8L, 8L) == -1L, "drift then stable must stay drift")
    assert(passes(7L, 8L, -2L) == -1L, "the first marker sticks")
    assert(passes(7L, 7L, 7L) == 7L, "ok-ok keeps the row count")
    assert(passes(0L, 0L) == 0L, "zero rows stay zero for the no-row guard")
  }
}
