"""Bench-to-registry pin (VERDICT r7 #1): the bench must cover every
registered query every round, the same structural guarantee
test_registry_sweep_pin.py gives the correctness sweep. The coverage
pass is COMPUTED from the live registry (registry − headline), so the
only ways the artifact could drift are (a) a stale/duplicate headline
name or (b) someone bypassing bench_plan() — both pinned here."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

from cse_datapipeline_and_mls_spark.queries import QUERIES  # noqa: E402


def test_headline_names_are_registered_and_unique():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate headline row"
    stale = set(bench.HEADLINE) - set(QUERIES)
    assert not stale, f"headline names not in the registry: {sorted(stale)}"


def test_bench_plan_partitions_the_registry():
    headline, coverage = bench.bench_plan()
    assert not set(headline) & set(coverage)
    assert set(headline) | set(coverage) == set(QUERIES), (
        "bench plan does not cover the registry"
    )


def test_production_legs_are_headline_rows():
    # every production-leg timing shadows a headline row of the same
    # name (the bracket-verdict pairs) — a renamed query must rename
    # its production leg too
    # "_cold" entries are SETUP legs (they time an ingest-side build the
    # memoized headline rows amortize away — VERDICT r12 #2), not
    # shadows of a query row, so they're exempt from the name pairing
    legs = {n for n in bench._production_legs() if not n.endswith("_cold")}
    assert legs <= set(bench.HEADLINE), legs - set(bench.HEADLINE)


def test_item_recs_leg_releases_its_checkpoints(spark, sf_dir):
    """The item-recs production leg pins its corpus state (DISK_ONLY
    local checkpoints) across its timed runs; its ``release`` must drop
    every persistent RDD the leg made, or the blocks outlive the leg for
    the rest of the sweep. Compared by RDD ID, as in test_graph.py."""

    def persistent_ids() -> set:
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = persistent_ids()
    leg = bench._production_legs()["ml_item_recs_incremental"]
    for _ in range(2):
        leg(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert persistent_ids() - before, "the leg pinned no state; test is stale"
    leg.release()
    leaked = persistent_ids() - before
    assert not leaked, f"item-recs leg left persistent RDDs: {leaked}"
