"""Substrate-fed curation on the engine's public API.

The round-6 surface the other examples predate: (1) the per-doc text
folds are materialized ONCE per corpus version (`write_substrate`) and
every day-2 query is served from parquet — provably without re-reading
the raw text (the queries below receive an EMPTY corpus frame); (2) an
admitted ingest batch folds into the substrate incrementally
(`append_to_substrate`); (3) the full curation stack resolves to one
`curation_ledger` status per document — the artifact a pipeline review
signs off on. Run it locally:

    python examples/substrate_ledger_pipeline.py [sf_dir]

Every stage is a DataFrame transformation; only the final small report
tables collect.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import gpd_lite_toolbox_spark as G  # noqa: E402
from gpd_lite_toolbox_spark import fixtures as FX  # noqa: E402


def run(spark, sf_dir, substrate_path=None):
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    if substrate_path is None:
        substrate_path = tempfile.mkdtemp(prefix="substrate_example_")

    # 1. corpus-version build: every fold materializes once. A 100 TB
    # pipeline runs this as the ingest batch job; everything below is
    # the cheap day-2 side.
    day1 = corpus.filter(F.col("id") % 7 != 3)
    G.write_substrate(day1, substrate_path)

    # 2. an admitted batch folds in incrementally (every substrate is
    # per-doc, so the batch's rows append)
    batch = corpus.filter(F.col("id") % 7 == 3)
    G.append_to_substrate(batch, substrate_path)

    # 3. day-2 queries: an EMPTY corpus frame proves no raw-text read
    no_text = spark.createDataFrame([], "id bigint, text string")
    sets = G.read_substrate(spark, substrate_path, "ngram_sets")
    near_dups = G.ngram_jaccard_pairs(
        no_text, threshold=0.5, max_df=40, sets=sets
    )
    lm_scores = G.bigram_logprob(
        no_text,
        counts=G.read_substrate(spark, substrate_path, "ngram_counts"),
    )

    # 4. the sign-off artifact: one status per document under the full
    # stack (benchmark split, exact + near dedup, decontamination,
    # Gopher rules, quality points)
    ledger = G.curation_ledger(corpus)
    status_counts = (
        ledger.groupBy("status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status")
    )

    summary = (
        near_dups.agg(F.count("*").alias("n_near_dup_pairs"))
        .crossJoin(
            F.broadcast(
                lm_scores.agg(
                    F.count("*").alias("n_scored"),
                    F.round(F.avg("avg_neg_logprob"), 4).alias("mean_nll"),
                )
            )
        )
    )
    return status_counts, summary, ledger


if __name__ == "__main__":
    from gpd_lite_toolbox_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    s = get_spark("substrate_ledger_pipeline")
    status_counts, summary, _ = run(s, sf)
    status_counts.show(truncate=False)
    summary.show(truncate=False)
