"""Physical-plan anti-pattern watchdog over EVERY declared query.

The scale failures that matter at 100 TB are visible in the executed
plan long before they are visible in a wall clock: a cartesian
product, a row-at-a-time Python UDF, or a wide text/payload column
riding a shuffle. This sweep pins all three across the full declared
inventory, so a regression in ANY query's plan shape fails loudly in
CI instead of surfacing as a mystery slowdown three rounds later.

Rules:
- no CartesianProduct / BroadcastNestedLoopJoin, except the
  explicitly whitelisted queries whose shape is documented-by-design;
- no BatchEvalPython anywhere (Arrow-batched pandas UDFs only);
- no text/payload/blob column inside an Exchange partitioning key
  list (hashes and ids shuffle; documents never should).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# documented-by-design nested-loop shapes; everything else must stay
# nested-loop-free. Justifications verified against the module docs.
NESTED_LOOP_OK = {
    # guarded quadratic cosine baseline (validation scale by contract;
    # the scale path is LSH/IVF/PQ candidates injected into the same
    # verify kernel) — similarity.py documents the cap
    "ann_cosine_topk",
    "embedding_cosine_pairs",
    # single-row uncorrelated scalar subquery (global avg acctbal)
    # broadcast against the table — a one-row BNLJ, not a cartesian
    "q22_idle_customers",
    # single-row broadcast of the min stratum count
    "sample_balanced_lang",
}


@pytest.fixture(scope="module")
def declared_plans(spark):
    """Executed plan of every declared query, planned once for both
    tests (planning the whole inventory is most of this module's cost)."""
    return {
        name: fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        for name, fn in entry_mod.queries().items()
    }


def test_declared_plans_have_no_antipatterns(declared_plans):
    bad: list[tuple[str, str]] = []
    for name, plan in declared_plans.items():
        if (
            "CartesianProduct" in plan
            or "BroadcastNestedLoopJoin" in plan
        ) and name not in NESTED_LOOP_OK:
            bad.append((name, "nested-loop/cartesian join"))
        if "BatchEvalPython" in plan:
            bad.append((name, "row-at-a-time Python UDF"))
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln or (
                "Exchange rangepartitioning" in ln
            ):
                if "text#" in ln or "payload#" in ln or "blob#" in ln:
                    bad.append((name, f"wide column in exchange: {ln[:120]}"))
                    break
    assert not bad, bad


def test_whitelist_is_not_stale(declared_plans):
    """Every whitelisted query must still EXHIBIT the shape it is
    whitelisted for — a fixed query must leave the list, not ride it."""
    plans = declared_plans
    missing = [n for n in NESTED_LOOP_OK if n not in plans]
    assert not missing, f"whitelisted but not declared: {missing}"
    stale = [
        n
        for n in NESTED_LOOP_OK
        if "CartesianProduct" not in plans[n]
        and "BroadcastNestedLoopJoin" not in plans[n]
    ]
    assert not stale, f"whitelist entries no longer needed: {stale}"
