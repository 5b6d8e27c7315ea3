"""Oracle-portability lint — stop env-sensitive oracle text from costing
one driver query per round.

Three rounds of driver correctness gates each lost exactly one query to
DuckDB-version- or pandas-conversion-sensitive oracle SQL while the Spark
plan was right (r1 agg_approx_percentile canonicalizer, r2
x_sequence_packing HUGEINT/float-floor, r3 x_duplicate_spans list-slice +
regex class). This lint bans the entire class instead of fixing instances:

Static rules (oracle SQL text):
  S1  no shorthand regex classes \\s \\S \\w \\W \\d \\D — Java regex and
      RE2 disagree at the edges (\\x0B is Java-\\s but not RE2-\\s); write
      explicit character classes instead.
  S2  no bracket list-slices ``xs[a:b]`` — end-inclusivity has shifted
      across DuckDB releases; use list_transform(range(a, b+1), ...).
  S3  no bare ``epoch(`` — DuckDB keeps sub-second parts where Spark's
      unix_timestamp truncates; write floor(epoch(ts)).

Known-unlintable hazard (documented, caught only by the sf0.1 sweep):
``round(x, 6)`` can disagree across engines even on IDENTICAL doubles
when x sits on/within 1 ulp of a .5 boundary at the rounding scale —
Spark rounds the shortest decimal string (BigDecimal of
Double.toString) where DuckDB rounds the binary value. Ratio chains of
2-decimal money values generate exactly such doubles (cent ratios have
power-of-two denominators). For those queries, quantize with the
explicit ``floor(x*1e6 + 0.5)/1e6`` on BOTH sides (pure IEEE ops) or
reformulate to avoid transcendentals (see w_compound_return,
w_rolling_mad_anomaly).

Dynamic rules (DuckDB DESCRIBE of the oracle vs the lazy Spark schema,
at sf0.001 — planning only, nothing executes on the Spark side):
  D1  every oracle output column's DuckDB type must be pandas-stable AND
      render-compatible with the Spark column's type:
        - HUGEINT/UHUGEINT are banned outright (windowed/grouped sum()
          over integers produces them; pandas converts to float64/object
          and the value hash silently diverges) -> CAST ... AS BIGINT.
        - DECIMAL is banned unless the Spark side is the same decimal —
          Decimal('5.00') renders '5.00' where double renders '5'.
        - int-family must pair with int-family, double with DOUBLE/FLOAT,
          and so on (a DOUBLE pairing with a Spark bigint is the
          float-division-feeds-integer-column bug).
  D2  oracle and Spark column-name sets must agree (sorted-by-name hash
      makes a name drift a silent full mismatch).
  D3  rows-only queries (no oracle) must not output array/map/struct
      columns — the driver's weaker rows-only check can't see inside
      them, so they'd never be value-checked at all.

Usage:
    python tools/lint_oracles.py [--sf /root/testdata/sf0.001] [name ...]

Exit 0 = clean.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# S1: a backslash-class inside the SQL text. ORACLE strings are already
# Python-parsed, so a regex class arrives as a literal backslash + letter.
RE_CLASS = re.compile(r"\\[sSwWdD]")
# S2: bracket slice — '[' ... ':' ... ']' with no quotes/brackets inside.
RE_SLICE = re.compile(r"\[[^\[\]'\"]*:[^\[\]'\"]*\]")
# S3: epoch( not wrapped by floor( — crude but effective: flag epoch(
# unless every occurrence is immediately preceded by 'floor('.
RE_EPOCH = re.compile(r"(?<!floor\()epoch\s*\(", re.IGNORECASE)

_INTS = {
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
}
_BANNED = {"HUGEINT", "UHUGEINT"}


def _spark_duck_ok(spark_t: str, duck_t: str) -> bool:
    """True when a DuckDB result type renders identically to the Spark
    type under both tuple-fetch and pandas conversion."""
    s = spark_t.lower()
    d = duck_t.upper().strip()
    if d in _BANNED:
        return False
    if s in ("tinyint", "smallint", "int", "bigint", "byte", "short", "integer", "long"):
        return d in _INTS
    if s in ("double", "float"):
        return d in ("DOUBLE", "FLOAT", "REAL")
    if s.startswith("decimal"):
        return d == s.upper().replace(" ", "")
    if s == "string":
        return d == "VARCHAR"
    if s == "date":
        return d == "DATE"
    if s.startswith("timestamp"):
        return d.startswith("TIMESTAMP")
    if s == "boolean":
        return d == "BOOLEAN"
    if s.startswith("array<"):
        return d.endswith("[]") and _spark_duck_ok(s[6:-1], d[:-2])
    if s == "binary":
        return d == "BLOB"
    return False  # anything exotic: force an explicit decision


def _is_nested(spark_t: str) -> bool:
    s = spark_t.lower()
    return s.startswith(("array<", "map<", "struct<"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--static-only",
        action="store_true",
        help="skip the Spark/DuckDB schema comparison (fast text lint)",
    )
    args = ap.parse_args()

    import duckdb

    from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES

    names = args.names or list(QUERIES)
    violations: list[str] = []

    # ---- static pass over oracle text -------------------------------
    for name in names:
        sql = ORACLE.get(name)
        if sql is None:
            continue
        for m in RE_CLASS.finditer(sql):
            violations.append(
                f"{name}: S1 shorthand regex class {m.group()!r} — use an explicit char class"
            )
        for m in RE_SLICE.finditer(sql):
            violations.append(
                f"{name}: S2 bracket list-slice {m.group()!r} — use list_transform(range(...))"
            )
        if RE_EPOCH.search(sql):
            violations.append(
                f"{name}: S3 bare epoch( — wrap as floor(epoch(...)) to match unix_timestamp"
            )

    if args.static_only:
        return _report(violations)

    # ---- dynamic pass: DuckDB DESCRIBE vs lazy Spark schema ---------
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("oracle-lint")
    for name in names:
        try:
            sdf = QUERIES[name](spark, args.sf)
            sfields = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: spark build error: {e}")
            continue
        sql = ORACLE.get(name)
        if sql is None:
            # D3: rows-only queries must be flat so the rows-only check
            # at least sees scalar-rendered values.
            for c, t in sfields.items():
                if _is_nested(t):
                    violations.append(
                        f"{name}: D3 rows-only query outputs nested column {c}:{t}"
                    )
            continue
        try:
            dfields = {
                r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
            }
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: duckdb describe error: {e}")
            continue
        if sorted(dfields) != sorted(sfields):
            violations.append(
                f"{name}: D2 column sets differ spark={sorted(sfields)} oracle={sorted(dfields)}"
            )
            continue
        for c in sfields:
            if not _spark_duck_ok(sfields[c], dfields[c]):
                violations.append(
                    f"{name}: D1 type drift on {c!r}: spark={sfields[c]} duckdb={dfields[c]}"
                )

    return _report(violations)


def _report(violations: list[str]) -> int:
    if violations:
        print(f"{len(violations)} violation(s):")
        for v in violations:
            print("  " + v)
        return 1
    print("clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
