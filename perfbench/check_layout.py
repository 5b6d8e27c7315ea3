"""Compare the generator's tables with a directory of recorded test data.

    python3 perfbench/check_layout.py --data <dir with region.parquet, ...> [--scale 0.01]

The benchmark cannot read the engine's recorded test data (a run reads only
its checkout), so ``perfbench/datagen.py`` re-draws it from the seed. This
tool checks that the re-drawn tables keep the recorded layout: the same row
counts and category sets, and for every numeric and time column the same
range, distinct count, mean and median up to sampling noise. It prints one
line per column and exits 1 on a mismatch.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
_TOLERANCE = 0.05


def _profile(con, path: str) -> dict[str, tuple]:
    out = {"rows": (con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0],)}
    for col, kind, *_ in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall():
        if kind in ("BIGINT", "INTEGER", "DOUBLE"):
            q = (
                f"min({col}), max({col}), count(DISTINCT {col}), avg({col}), median({col}),"
                f" quantile_cont({col}, 0.01), quantile_cont({col}, 0.99)"
            )
        elif kind == "TIMESTAMP":
            q = f"min({col})::DATE, max({col})::DATE, count(DISTINCT {col}::DATE)"
        else:
            q = f"count(DISTINCT {col}), min({col}), max({col})"
        out[col] = con.execute(f"SELECT {q} FROM '{path}'").fetchone()
    return out


def _same(want: tuple, got: tuple, rows: int) -> bool:
    """Row counts, key ranges and category sets match exactly. Other
    columns match up to sampling noise: the distinct count within 5%, and
    the mean, median and 1st and 99th percentiles within 5% of the range
    plus three standard errors of a uniform draw of ``rows`` values."""
    if len(want) == 1 or isinstance(want[0], str) or isinstance(got[1], str):
        return want == got
    if len(want) == 3:  # timestamp: first and last day, distinct days
        span = (want[1] - want[0]).days or 1
        return all(abs((g - w).days) <= _TOLERANCE * span for w, g in zip(want[:2], got[:2])) and (
            abs(got[2] - want[2]) <= _TOLERANCE * want[2]
        )
    lo, hi, distinct = want[:3]
    if distinct == rows == hi - lo + 1:  # a key: each value of a range once
        return want[:3] == got[:3]
    tol = (hi - lo) * (_TOLERANCE + 3 * 0.29 / rows**0.5)
    return abs(got[2] - distinct) <= _TOLERANCE * distinct and all(
        abs(g - w) <= tol for w, g in zip(want[3:], got[3:])
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True, help="directory of the recorded test data")
    ap.add_argument("--scale", type=float, default=0.01, help="its scale factor")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import duckdb

    con = duckdb.connect()
    out_dir = tempfile.mkdtemp(prefix="layout-")
    ok = True
    try:
        datagen.write_tables(out_dir, args.seed, args.scale, TABLES)
        for t in TABLES:
            want = _profile(con, os.path.join(args.data, f"{t}.parquet"))
            got = _profile(con, os.path.join(out_dir, f"{t}.parquet"))
            for col in want:
                same = col in got and _same(want[col], got[col], want["rows"][0])
                ok &= same
                print(f"{'ok ' if same else 'BAD'} {t}.{col}: recorded {want[col]} generated {got.get(col)}")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
