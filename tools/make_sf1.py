"""Generate an sf1-scale testdata dir (~6M lineitem rows) by replicating
/root/testdata/sf0.1 REPLICAS× with key offsets (VERDICT r12 #4: the
correctness sweep runs at sf0.01 and spot checks at sf0.1; nothing had
been hash-verified at sf1, where quantization-boundary discipline is
likeliest to break).

Replication preserves every value distribution and foreign-key
relationship: replica i shifts each table's surrogate keys by i×(key
range of the base), so joins stay consistent and per-key series (the
window queries' user_id groups) replicate as disjoint new keys.
Embedding vectors get a per-replica 1e-7 nudge on their first component
so distance ties across replicas don't depend on engine-specific
tiebreaks. Timestamps are cast to microseconds at generation time —
both engines then read the identical micros file, which is the same
truncation sources/loader.py applies to the driver's nanos files.

Usage:
    python tools/make_sf1.py [--out /tmp/sf1] [--replicas 10]
    python tools/check_correctness.py --sf /tmp/sf1 <names ...>
"""

from __future__ import annotations

import argparse
import os

import duckdb

SRC = "/root/testdata/sf0.1"

# table -> {column: base offset per replica}; key ranges of sf0.1
OFFSETS = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000, "l_partkey": 20_000, "l_suppkey": 1_000},
    "events": {"event_id": 100_000, "user_id": 15_000},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 2_000},
}
COPY_AS_IS = ("region", "nation")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument(
        "--stable-parts",
        action="store_true",
        help="keep ITEM identity stable across replicas for basket data "
        "(VERDICT r13 #3): part is copied once un-replicated and l_partkey "
        "is NOT shifted, so each replicated order basket holds the same "
        "item ids as its base order — per-itemset supports then scale "
        "with the corpus exactly like FP-Growth's minCount does, and the "
        "sf1 frequent set is the sf0.1 set with freq x replicas instead "
        "of empty. Use this corpus for basket-mining rows "
        "(ml_fpgrowth_itemsets); the default key-shifted corpus is the "
        "right one for everything else (part-side joins see 10x dims)",
    )
    ap.add_argument(
        "--disjoint-docs",
        action="store_true",
        help="tag every document word with the replica id so replica texts "
        "are content-DISJOINT (pair counts scale linearly — the right "
        "corpus for near-dup/minhash checks); the default exact-"
        "duplicate replication preserves text distributions but is "
        "ADVERSARIAL for banded near-dup oracles (every doc gains "
        "replicas-1 identical twins, so candidate pairs grow x replicas^2)",
    )
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()

    offsets = {t: dict(o) for t, o in OFFSETS.items()}
    copy_as_is = list(COPY_AS_IS)
    if args.stable_parts:
        copy_as_is.append("part")
        del offsets["part"]
        del offsets["lineitem"]["l_partkey"]

    for t in copy_as_is:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{args.out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "copied")

    for t, offs in offsets.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
            ).fetchall()
        ]
        exprs = []
        for c in cols:
            if c in offs:
                exprs.append(f"({c} + r.i * {offs[c]}) AS {c}")
            elif t == "events" and c == "ts":
                exprs.append("CAST(ts AS TIMESTAMP) AS ts")
            elif t == "documents" and c == "text" and args.disjoint_docs:
                exprs.append(
                    "CASE WHEN r.i = 0 THEN text ELSE array_to_string("
                    "list_transform(string_split(text, ' '), "
                    "x -> x || 'x' || CAST(r.i AS VARCHAR)), ' ') END AS text"
                )
            elif t == "documents" and c == "n_chars" and args.disjoint_docs:
                # recompute after the word tagging so the metadata column
                # stays consistent with the text
                exprs.append(
                    "CASE WHEN r.i = 0 THEN n_chars ELSE CAST(length("
                    "array_to_string(list_transform(string_split(text, ' '), "
                    "x -> x || 'x' || CAST(r.i AS VARCHAR)), ' ')) AS BIGINT) "
                    "END AS n_chars"
                )
            elif t == "embeddings" and c == "embedding":
                # break exact cross-replica distance ties deterministically
                exprs.append(
                    "list_concat([embedding[1] + CAST(r.i AS FLOAT) * 1e-7], "
                    "embedding[2:]) AS embedding"
                )
            else:
                exprs.append(c)
        sql = (
            f"COPY (SELECT {', '.join(exprs)} "
            f"FROM read_parquet('{SRC}/{t}.parquet'), "
            f"(SELECT unnest(range({args.replicas})) AS i) r "
            f"ORDER BY r.i) TO '{args.out}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.execute(sql)
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{args.out}/{t}.parquet')"
        ).fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
