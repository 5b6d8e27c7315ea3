"""End-to-end invariants of the north-star LLM-data tour
(examples/llm_data_tour.py) — the training-data twin of
tests/test_reference_tour.py: one run at sf0.001 must thread
gate → scrub → exact dedup → near-dup survivors → decontamination →
ANN → pack → sample → land without losing the pipeline's invariants."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def tour(spark, sf_dir, tmp_path_factory):
    from examples.llm_data_tour import run_tour

    out = str(tmp_path_factory.mktemp("llm_tour_out"))
    return run_tour(spark, sf_dir, out)


def test_funnel_is_monotone_and_nonempty(tour):
    """Every curation stage can only DROP documents, and the corpus must
    survive the full funnel (a gate that empties the corpus is a config
    bug, not curation)."""
    assert tour["n_raw"] >= tour["n_gated"] >= tour["n_exact_deduped"]
    assert tour["n_exact_deduped"] >= tour["n_neardup_survivors"]
    # decontamination operates on the non-eval split only
    assert (
        tour["n_neardup_survivors"]
        == tour["n_eval_holdout"] + tour["n_decontaminated"] + tour["n_contaminated_dropped"]
    )
    assert tour["n_decontaminated"] > 0
    assert tour["n_contaminated_dropped"] >= 0


def test_ann_serving_leg(tour):
    """The embedding leg must answer k=5 neighbors for every probe."""
    assert tour["ann_queries"] == 3
    assert tour["ann_rows"] == 15


def test_packing_and_landing(tour):
    """Packing is integer-exact (no underfull non-final sequence), the
    sampled shard subset is a subset of what was packed, and the landed
    parquet reads back row-complete."""
    assert tour["n_fragments"] >= tour["n_sequences"] > 0
    assert tour["n_underfull_nonfinal"] == 0
    assert 0 < tour["n_shipped_fragments"] <= tour["n_fragments"]
    assert tour["n_readback"] == tour["n_shipped_fragments"]
    rep = tour["report"]
    assert rep["n_docs"] > 0 and rep["n_sources"] > 0
