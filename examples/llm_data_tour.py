"""North-star end-to-end tour: the LLM training-data pipeline on the
driver's `documents` + `embeddings` tables.

examples/reference_tour.py replays the REFERENCE's pipeline shape
(prices → features → GBT → serving); this is its twin for the
north-star surface — every stage a large-scale training-data build
runs between raw crawl and training shards, each step the same
registered, oracle-checked operator the correctness sweep pins:

  1. text stats + language ID + quality gate (Gopher-style bands);
  2. PII scrub (map-side regex redaction);
  3. exact dedup (content fingerprint, lowest-id survivor);
  4. near-dup survivor selection (MinHash-family pairs → connected
     components → best-quality survivor per cluster);
  5. decontamination against a held-out eval split (≥80% 5-gram
     containment drops the training doc);
  6. the embedding leg: IVF coarse quantizer over `embeddings`,
     ANN top-k for a probe set (the vector-store serving path);
  7. chunk + pack into fixed token-budget training sequences;
  8. mixture sample + corpus report (what actually ships).

Run:

    python examples/llm_data_tour.py [sf_dir] [out_dir]

Scale posture per step is documented on the operators themselves —
banded/bucketed near-dup (never all-pairs), shard-local packing
windows, cell-pruned ANN probes; nothing in this script collects more
than report-sized frames to the driver.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cse_datapipeline_and_mls_spark.operators import dedup as D  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import similarity as S  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import text as X  # noqa: E402
from cse_datapipeline_and_mls_spark.queries import QUERIES  # noqa: E402
from cse_datapipeline_and_mls_spark.session import get_spark  # noqa: E402
from cse_datapipeline_and_mls_spark.sources import load_table  # noqa: E402
from cse_datapipeline_and_mls_spark.sources.sinks import write_partitioned  # noqa: E402


def run_tour(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Run all eight stages; returns per-stage artifacts/counts so the
    pytest can assert the pipeline's invariants without re-deriving it."""
    art: dict = {}
    docs = load_table(spark, sf_dir, "documents")
    art["n_raw"] = docs.count()

    # 1. stats + language + quality gate — one map-side projection, no
    #    shuffle (with_text_stats attaches quality + lang_guess +
    #    fingerprint in one codegen'd block)
    stats = X.with_text_stats(docs, "text")
    gated = stats.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_guess") != "unknown")
    )
    art["n_gated"] = gated.count()

    # 2. PII scrub — map-side regex redaction, applied BEFORE dedup so
    #    fingerprints are computed over what would actually ship
    scrubbed = gated.withColumn("clean_text", X.scrub_text("text"))
    art["n_redacted_docs"] = scrubbed.filter(
        F.col("clean_text") != F.col("text")
    ).count()

    # 3. exact dedup — one shuffle on the 64-bit content fingerprint
    exact = D.exact_dedup_by_content(scrubbed, "clean_text", "doc_id")
    art["n_exact_deduped"] = exact.count()

    # 4. near-dup survivors — the registered pairs→clusters→survivor
    #    chain (banded candidates, never corpus×corpus)
    survivors = (
        QUERIES["x_dedup_survivors"](spark, sf_dir)
        .filter("is_survivor = 1")
        .select("doc_id")
    )
    neardup = exact.join(survivors, "doc_id", "left_semi")
    art["n_neardup_survivors"] = neardup.count()

    # 5. decontamination — drop any training doc containing >=80% of a
    #    held-out eval doc's 5-grams (eval split = src0/src1, the same
    #    fixture x_decontaminated_corpus pins under the oracle)
    ev = neardup.filter(F.col("source").isin("src0", "src1"))
    tr = neardup.filter(~F.col("source").isin("src0", "src1"))
    pairs = D.ngram_containment_pairs(ev, tr, "clean_text", "doc_id", n=5, min_shared=3)
    flagged = (
        pairs.filter(F.col("containment") >= 0.8)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    clean = tr.join(flagged, "doc_id", "left_anti")
    art["n_eval_holdout"] = ev.count()
    art["n_contaminated_dropped"] = tr.count() - clean.count()
    art["n_decontaminated"] = clean.count()

    # 6. embedding leg — IVF index (KMeans codebook, cell-pruned probe)
    #    answering top-5 neighbors for 3 probe vectors: the serving path
    #    of the vector store the curated corpus feeds
    emb = load_table(spark, sf_dir, "embeddings")
    book = S.fit_codebook(emb, k=16)
    probes = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = S.ivf_topk(emb, probes, book, k=5, nprobe=4)
    art["ann_rows"] = ann.count()
    art["ann_queries"] = ann.select("query_id").distinct().count()

    # 7. chunk + pack — shard-local token stream cut every 256 tokens
    packed = X.pack_sequences(
        clean.select("doc_id", F.col("clean_text").alias("text"), "source"),
        "text",
        "doc_id",
        shard_col="source",
        budget=256,
    )
    art["n_fragments"] = packed.count()
    art["n_sequences"] = packed.select("shard", "seq_id").distinct().count()
    # packing invariant: every non-final sequence in a shard totals the
    # exact budget (integer-exact, same assertion x_packing_efficiency
    # makes under the oracle)
    seq_tot = packed.groupBy("shard", "seq_id").agg(F.sum("frag_len").alias("tot"))
    last_seq = seq_tot.groupBy("shard").agg(F.max("seq_id").alias("last_id"))
    art["n_underfull_nonfinal"] = (
        seq_tot.join(last_seq, "shard")
        .filter((F.col("seq_id") != F.col("last_id")) & (F.col("tot") != 256))
        .count()
    )

    # 8. mixture sample + report + land it
    sample = QUERIES["x_mixture_sample"](spark, sf_dir).select("doc_id")
    shipped = packed.join(sample, "doc_id", "left_semi")
    art["n_shipped_fragments"] = shipped.count()
    write_partitioned(
        shipped, out_dir, partition_cols=["shard"], sort_cols=["seq_id"],
        max_records_per_file=100_000,
    )
    art["n_readback"] = spark.read.parquet(out_dir).count()
    art["report"] = QUERIES["x_corpus_report"](spark, sf_dir).collect()[0].asDict()
    return art


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="llm_tour_")
    spark = get_spark("llm_data_tour")
    art = run_tour(spark, sf_dir, out_dir)
    print(f"1. raw {art['n_raw']} -> gated {art['n_gated']}")
    print(f"2. PII-redacted docs: {art['n_redacted_docs']}")
    print(f"3. exact-deduped: {art['n_exact_deduped']}")
    print(f"4. near-dup survivors: {art['n_neardup_survivors']}")
    print(
        f"5. decontaminated: {art['n_decontaminated']} "
        f"(dropped {art['n_contaminated_dropped']} vs {art['n_eval_holdout']} eval docs)"
    )
    print(f"6. ANN: {art['ann_rows']} neighbor rows for {art['ann_queries']} probes")
    print(
        f"7. packed {art['n_fragments']} fragments into {art['n_sequences']} "
        f"sequences ({art['n_underfull_nonfinal']} underfull non-final)"
    )
    rep = art["report"]
    print(
        f"8. shipped {art['n_shipped_fragments']} fragments to {out_dir} "
        f"(read-back {art['n_readback']}); corpus report: "
        f"{rep['n_docs']} docs / {rep['n_sources']} sources, "
        f"dup rate {rep['exact_dup_rate']}, short-doc rate {rep['short_doc_rate']}"
    )


if __name__ == "__main__":
    main()
