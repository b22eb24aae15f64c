package graft

/**
 * Setup-budget coverage (r9 — the r8 verdict's #6): bench setup times
 * (index/layout builds, excluded from query medians) are guarded by
 * per-key budgets inside the bench itself, where the environment
 * matches the numbers. The index-backed keys ARE the budgeted keys
 * (`Bench.indexBackedKeys` is derived from the budgets); this spec pins
 * that every budget names a registered key, so a renamed key cannot
 * orphan its budget silently, and that each budget is sane.
 * (Wall-clock assertions live in the bench artifact: the driver's
 * BENCH_r{N}.json carries "setup_over_budget" when a build regresses
 * past ~2x its r8 median.)
 */
class SetupBudgetSpec extends SparkSpec {

  test("every index-backed key is a registered query") {
    val registered = SparkEntry.queries.keySet
    val missing = Bench.indexBackedKeys.diff(registered)
    assert(missing.isEmpty, s"budgeted keys not in the registry: $missing")
  }

  test("budgets are positive and none is absurdly loose (> 60 s at sf0.1)") {
    Bench.setupBudgets.foreach { case (k, b) =>
      assert(b > 0 && b <= 60.0, s"$k budget $b out of range")
    }
  }
}
