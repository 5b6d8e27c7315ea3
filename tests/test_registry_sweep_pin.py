"""Registry ↔ committed-sweep drift guard (VERDICT r6 #2).

Three consecutive rounds shipped queries whose correctness evidence
lagged the registry (r4, r5, r6 — and the r6 gap hid the round's one
real defect). This pin turns that drift class into a TEST FAILURE:
registering a query without regenerating `CORRECTNESS_local.json` in
the same change now fails CI, not the judge.

Regenerate with:

    python tools/check_correctness.py --keep-going \
        --json CORRECTNESS_local.json
"""

from __future__ import annotations

import json
import os

from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES

_SWEEP = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_local.json")


def _sweep() -> dict:
    assert os.path.exists(_SWEEP), (
        "CORRECTNESS_local.json is missing — run the full sweep "
        "(tools/check_correctness.py --keep-going --json CORRECTNESS_local.json)"
    )
    with open(_SWEEP) as fh:
        return json.load(fh)


def test_sweep_covers_every_registered_query():
    sweep = _sweep()
    missing = sorted(set(QUERIES) - set(sweep))
    stale = sorted(set(sweep) - set(QUERIES))
    assert not missing, (
        f"{len(missing)} registered queries have no committed correctness "
        f"evidence (regenerate the sweep): {missing}"
    )
    assert not stale, (
        f"sweep records queries no longer registered (regenerate): {stale}"
    )


def test_sweep_is_green():
    sweep = _sweep()
    bad = {
        name: rec
        for name, rec in sweep.items()
        if rec.get("err") is not None
        or rec.get("rows_match") is False
        or rec.get("schema_match") is False
        or (name in ORACLE and rec.get("hash_match") is not True)
    }
    assert not bad, f"committed sweep contains non-green rows: {sorted(bad)}"


def test_every_registered_query_has_an_oracle():
    """The '0 rows-only' property is a claim COVERAGE.md makes every
    round — pin it: a query registered with oracle=None silently
    downgrades the driver's hash gate to a rows-only check, which is
    exactly the evidence-weakening this file exists to prevent. If a
    genuinely non-SQL-expressible op ever needs rows-only status, list
    it here explicitly instead of letting the set drift."""
    rows_only_allowed: set[str] = set()
    missing = sorted(set(QUERIES) - set(ORACLE) - rows_only_allowed)
    assert not missing, (
        f"{len(missing)} registered queries have no DuckDB oracle twin: "
        f"{missing}"
    )


def test_coverage_md_totals_header_matches_registry():
    """COVERAGE.md's Totals header said 286 while the registry held 341
    at the r10 close (VERDICT r10 item 7) — prose drifts unless a test
    reads it. The header line is the single bolded sentence under
    '## Totals'; keep it in the exact '**N registered queries — N
    SQL-oracle-checked' shape so this regex stays honest."""
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(path) as fh:
        text = fh.read()
    m = re.search(
        r"\*\*(\d+) registered queries — (\d+) SQL-oracle-checked", text
    )
    assert m, "COVERAGE.md Totals header line not found"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md header says {m.group(1)} but the registry has "
        f"{len(QUERIES)} — update the Totals line"
    )
    assert int(m.group(2)) == len(ORACLE), (
        f"COVERAGE.md header claims {m.group(2)} oracle-checked but "
        f"{len(ORACLE)} queries have oracles"
    )


def test_new_query_scan_finds_every_registered_name():
    """`tools/check_correctness.py --new-since REV` reads registrations
    from source text, so a registration form its pattern misses makes
    every row of that form look new. Over the current query modules the
    scan must find the whole registry, ``register_sql`` rows included."""
    from tools.check_correctness import registered_names

    qdir = os.path.join(
        os.path.dirname(__file__), "..", "cse_datapipeline_and_mls_spark", "queries"
    )
    found: set[str] = set()
    for fname in os.listdir(qdir):
        if fname.endswith(".py"):
            with open(os.path.join(qdir, fname)) as fh:
                found |= registered_names(fh.read())
    missing = sorted(set(QUERIES) - found)
    assert not missing, f"new-query scan misses {len(missing)} rows: {missing}"
