"""LM quality-filter stack on the engine's public API.

The CCNet-shaped pipeline end to end: score the corpus with
self-trained language models of increasing order (unigram, add-k
bigram, interpolated Kneser-Ney bigram, Jelinek-Mercer and
Kneser-Ney trigram), split it into head/middle/tail terciles with
any scorer through ``perplexity_buckets``' scorer hook, measure how
the context-aware order RE-RANKS documents the unigram model cannot
tell apart (the migration matrix — the whole reason CCNet uses an
n-gram LM and not token frequencies), and close with DSIR importance
weights toward a target domain. Run it locally:

    python examples/lm_quality_stack.py [sf_dir]

Every stage is a DataFrame transformation; only the final small
report tables collect. Every scorer sums its model tables from one
per-doc n-gram table (``ngram_doc_counts`` at the scorer's order),
so each scorer folds the corpus text once.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import gpd_lite_toolbox_spark as G  # noqa: E402
from gpd_lite_toolbox_spark import fixtures as FX  # noqa: E402


def run(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )

    # 1. the scorer ladder: one row per order, corpus-mean NLL —
    # higher orders fit the corpus tighter so the mean falls with
    # order; the KN variants sit slightly above their raw-count
    # siblings BY DESIGN (discounted mass is reassigned by
    # continuation types, trading training-set fit for boilerplate
    # robustness)
    scorers = {
        "unigram": G.unigram_logprob,
        "bigram_addk": G.bigram_logprob,
        "bigram_kn": G.kn_bigram_logprob,
        "trigram_jm": G.trigram_logprob,
        "trigram_kn": G.kn_trigram_logprob,
    }
    ladder_rows = []
    for name, fn in scorers.items():
        ladder_rows.append(
            fn(docs).agg(
                F.lit(name).alias("scorer"),
                F.round(F.avg("avg_neg_logprob"), 4).alias("mean_nll"),
            )
        )
    ladder = ladder_rows[0]
    for r in ladder_rows[1:]:
        ladder = ladder.unionByName(r)

    # 2. tercile migration: where do docs move when the bucketing
    # scorer goes from unigram to KN trigram? The off-diagonal mass
    # is exactly the set a frequency-blind filter mis-buckets.
    b_uni = G.perplexity_buckets(docs).select(
        "id", F.col("bucket").alias("bucket_unigram")
    )
    b_tri = G.perplexity_buckets(docs, scorer=G.kn_trigram_logprob).select(
        "id", F.col("bucket").alias("bucket_trigram")
    )
    migration = (
        b_uni.join(b_tri, "id")
        .groupBy("bucket_unigram", "bucket_trigram")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket_unigram", "bucket_trigram")
    )

    # 3. DSIR importance weights toward the 'mirror' target domain
    # over the sourced corpus fixture: the resampling weights a
    # curation run draws against, summarized per decile
    scorpus = FX.fixture_df(spark, sf_dir, "scorpus")
    w = G.dsir_weights(scorpus)
    dsir = w.agg(
        F.count("*").alias("n_scored"),
        F.round(F.avg("logratio"), 4).alias("mean_logratio"),
        F.sum((F.col("logratio") > 0).cast("int")).alias("n_target_like"),
    )
    return ladder, migration, dsir


if __name__ == "__main__":
    from gpd_lite_toolbox_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    ladder, migration, dsir = run(spark, sf)
    ladder.show()
    migration.show()
    dsir.show()
