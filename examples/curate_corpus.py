"""The LLM training-data curation pipeline end-to-end on the bundled
testdata: scrub → quality gate → dedup survivors → mixture sample →
chunk → pack → write partitioned parquet. Every step is the registered,
oracle-checked operator; this script just chains them the way a corpus
build would. Run:

    python examples/curate_corpus.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cse_datapipeline_and_mls_spark.queries import QUERIES  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import text as X  # noqa: E402
from cse_datapipeline_and_mls_spark.session import get_spark  # noqa: E402
from cse_datapipeline_and_mls_spark.sources import load_table  # noqa: E402
from cse_datapipeline_and_mls_spark.sources.sinks import write_partitioned  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="curated_")
    spark = get_spark("curate")

    docs = load_table(spark, sf_dir, "documents")
    print(f"raw corpus: {docs.count()} docs")

    # 1. Scrub + quality gate + exact dedup in ONE plan (x_curated_corpus).
    curated = QUERIES["x_curated_corpus"](spark, sf_dir)
    print(f"after scrub/quality/dedup: {curated.count()} docs")

    # 2. Near-dup survivor selection (3-gram Jaccard -> connected
    #    components -> keep best quality per cluster).
    survivors = QUERIES["x_dedup_survivors"](spark, sf_dir).filter("is_survivor = 1")
    curated = curated.join(survivors.select("doc_id"), "doc_id")
    print(f"after near-dup survivors: {curated.count()} docs")

    # 3. Rebalance sources (sqrt mixture, budget = half the corpus).
    sample = QUERIES["x_mixture_sample"](spark, sf_dir).select("doc_id")
    curated = curated.join(sample, "doc_id")
    print(f"after mixture sampling: {curated.count()} docs")

    # 4. Chunk into word windows, pack into fixed 512-token sequences.
    packed = X.pack_sequences(
        curated.select("doc_id", F.col("clean_text").alias("text"), "source"),
        "text",
        "doc_id",
        shard_col="source",
        budget=512,
    )
    print(f"packed fragments: {packed.count()} across "
          f"{packed.select('shard', 'seq_id').distinct().count()} sequences")

    # 5. Land it: partitioned by shard, bounded files, sorted for pruning.
    write_partitioned(
        packed, out_dir, partition_cols=["shard"], sort_cols=["seq_id"],
        max_records_per_file=100_000,
    )
    print(f"wrote curated training fragments to {out_dir}")
    back = spark.read.parquet(out_dir)
    assert back.count() == packed.count()
    print("read-back verified")


if __name__ == "__main__":
    main()
