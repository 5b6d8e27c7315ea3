"""Regression tests for the ADVICE r11 findings fixed in round 12:

1. round_close.py docstring no longer hardcodes a registry count
   (doc-only; covered by reading the file).
2. x_erasure_cascade_audit no longer FORCES a broadcast of the
   corpus-proportional victim set — AQE decides at runtime.
3. ivf_apply_tombstones docstring matches the code (no forced
   broadcast either way; doc-only).
4. x_multimodal_png_rgb fails LOUDLY on a non-ASCII fixture instead of
   silently hash-mismatching the char-based oracle.
"""

from __future__ import annotations

import inspect
import os

import pytest
from pyspark.sql import functions as F


def test_round_close_docstring_not_hardcoded():
    src = open(os.path.join(os.path.dirname(__file__), "..", "tools", "round_close.py")).read()
    assert "341-for-341" not in src
    assert "347-for-347" not in src  # don't trade one stale pin for another


def test_erasure_cascade_has_no_forced_victim_broadcast():
    from cse_datapipeline_and_mls_spark.queries import curation_q

    src = inspect.getsource(curation_q.x_erasure_cascade_audit)
    assert "F.broadcast(victims)" not in src


def test_png_rgb_guard_raises_on_non_ascii(spark, tmp_path):
    """A non-ASCII document must abort the engine job loudly (the
    byte-walking engine and char-walking oracle would otherwise
    silently diverge)."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    root = str(tmp_path / "bad_sf")
    docs = spark.createDataFrame(
        [(1, "plain ascii text here", "t", 21), (2, "café au lait", "t", 11)],
        "doc_id long, text string, source string, n_chars int",
    )
    docs.write.parquet(f"{root}/documents.parquet")
    with pytest.raises(Exception, match="pure-ASCII"):
        QUERIES["x_multimodal_png_rgb"](spark, root).collect()


def test_png_rgb_guard_tolerates_null_text(spark, tmp_path):
    """NULL text must pass the guard (octet_length(NULL)==length(NULL)
    is NULL, not false) and be dropped by the synth like a <3-byte doc
    — not abort the job with a misleading non-ASCII diagnosis."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    root = str(tmp_path / "null_sf")
    docs = spark.createDataFrame(
        [(1, "plain ascii text here", "t", 21), (2, None, "t", 0)],
        "doc_id long, text string, source string, n_chars int",
    )
    docs.write.parquet(f"{root}/documents.parquet")
    rows = QUERIES["x_multimodal_png_rgb"](spark, root).collect()
    assert [r["media_id"] for r in rows] == [1]


def test_connected_components_drops_null_endpoints(spark):
    """A pair row with a NULL endpoint carries no identity: both the
    fast path and the iterative path must drop it instead of crashing
    (union-find None comparison) or stranding a null node."""
    import cse_datapipeline_and_mls_spark.operators.dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "id_a long, id_b long"
    )
    fast = {r["node"]: r["label"] for r in D.connected_components(pairs).collect()}
    assert fast == {1: 1, 2: 1}
    iterative = {
        r["node"]: r["label"]
        for r in D.connected_components(pairs, small_graph_max_edges=0).collect()
    }
    assert iterative == fast


def test_png_rgb_guard_passes_ascii_through(spark, sf_dir):
    """The guard must be a no-op on the real (ASCII) fixture."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    out = QUERIES["x_multimodal_png_rgb"](spark, sf_dir)
    assert out.filter(F.col("n_pixels") <= 0).count() == 0
    assert out.count() > 0
