"""Star/trigram-era curation pipeline with per-stage accounting (the
r9 VERDICT item 8b end-to-end): the round-9/10 operator families
chained the way a production corpus refresh runs them —

    ingest
    -> near-dup clustering (banded MinHash LSH pairs, alternating-star
       components, quality-argmax retention: dup_groups_star +
       dedup_canonical)
    -> benchmark decontamination (broadcast Bloom sketch)
    -> blocklist gate (single-pass Aho-Corasick scan)
    -> LM quality bucketing (trigram scorer through the
       perplexity_buckets hook) + contamination audit artifact
    -> temperature mixture plan
    -> deterministic shard shuffle

Every stage records wall seconds and surviving rows; the run emits ONE
JSON artifact (stages + final accounting). Run it locally:

    python examples/star_trigram_pipeline.py [sf_dir] [out.json]

Nothing collects more than bounded summaries; each stage's survivor
set is localCheckpoint-ed so stage walls measure THAT stage, not a
re-evaluation of the whole upstream DAG.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import gpd_lite_toolbox_spark as G  # noqa: E402
from gpd_lite_toolbox_spark.text.analysis import (  # noqa: E402
    BANNED_FIXTURE_PHRASES,
)

BLOCKLIST = list(BANNED_FIXTURE_PHRASES)


def run(spark, sf_dir: str):
    stages: list[dict] = []

    def stage(name: str, df, materialize: bool = True):
        """Materialize ``df``, record (rows, sec), return the pinned
        frame so the next stage doesn't re-run this one's lineage."""
        t0 = time.perf_counter()
        out = df.localCheckpoint() if materialize else df
        n = out.count()
        stages.append(
            {"stage": name, "rows": n, "sec": round(time.perf_counter() - t0, 3)}
        )
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text", "source"
    )
    docs = stage("ingest", docs)

    # 1. near-dup clustering, star era: banded LSH candidate pairs
    # (never all-pairs), O(log^2 n) alternating-star components, and
    # the quality-argmax retention policy — keep the BEST copy of each
    # cluster, not the arbitrary min-id
    groups = G.dup_groups_star(docs)
    kept = G.dedup_canonical(docs, groups=groups)
    survivors = docs.join(
        kept.select(F.col("kept_id").alias("id")), "id"
    )
    survivors = stage("dedup_star_canonical", survivors)

    # 2. benchmark decontamination via the broadcast Bloom sketch (the
    # eval suite mocked as an id-sliced holdout, as in
    # training_data_pipeline.py). The synthetic fixture's vocabulary
    # is deliberately overlap-heavy, so dropping on ANY shared shingle
    # would empty the corpus — the drop bar here is substantial
    # overlap (>= 20 distinct shared shingles, the verbatim-copy
    # regime); light overlap stays and is audited by the
    # contamination_report stage instead.
    bench = docs.filter(F.col("id") % 101 == 0)
    train = survivors.filter(F.col("id") % 101 != 0)
    flagged = G.bloom_decontaminate(train, bench).filter(
        F.col("n_hits") >= 20
    )
    train = train.join(flagged.select("id"), "id", "left_anti")
    train = stage("bloom_decontaminate", train)

    # 3. blocklist gate: one Aho-Corasick scan per document regardless
    # of dictionary size/length spectrum
    hits = G.banned_phrase_hits(train, BLOCKLIST)
    train = train.join(hits.select("id").distinct(), "id", "left_anti")
    train = stage("blocklist_gate_ac", train)

    # 4. LM quality: CCNet-style terciles under the TRIGRAM scorer
    # (Jelinek-Mercer interpolation); drop the tail bucket
    buckets = G.perplexity_buckets(train, scorer=G.trigram_logprob)
    train = train.join(
        buckets.filter(F.col("bucket") != "tail").select("id"), "id"
    )
    train = stage("trigram_quality_gate", train)

    # 4b. contamination audit artifact over the SURVIVING set: the
    # per-doc join of duplicate-ngram coverage with cross-split
    # leakage (this is an audit output, not a filter — pipelines ship
    # it next to the shards)
    contam = G.contamination_report(
        train, G.split_corpus(train, seed=0), threshold=0.5
    )
    contam = stage("contamination_report", contam)

    # 5. temperature-scaled mixture plan over sources
    mixture = G.temperature_mixture(train, token_budget=100_000, alpha=0.5)
    mixture = stage("temperature_mixture", mixture)

    # 6. deterministic shard shuffle (hash-keyed, retry-stable)
    shards = G.shard_corpus(train, n_shards=8, seed=0)
    shards = stage("shard_corpus", shards)

    summary = {
        "stages": stages,
        "total_sec": round(sum(s["sec"] for s in stages), 3),
        "final_docs": stages[-1]["rows"],
        "leaked_docs": contam.filter(F.col("leaked")).count(),
        "repetitive_docs": contam.filter(F.col("repetitive")).count(),
        "n_sources": mixture.count(),
        "n_shards": shards.select("shard").distinct().count(),
    }
    return summary, contam, mixture, shards


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark = G.get_spark("star-trigram-pipeline")
    summary, _contam, _mixture, _shards = run(spark, sf_dir)
    line = json.dumps(summary)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
