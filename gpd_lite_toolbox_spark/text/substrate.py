"""Persisted corpus-substrate layer: pay each corpus-scale text fold
ONCE per corpus version, serve every later query from parquet.

The dedup/LM families each derive from a small set of per-doc tables
that are pure functions of the corpus text — char-shingle sets,
word-n-gram sets, minhash signatures, and the per-doc n-gram counts
every self-trained LM scorer sums its model tables from. One-shot
operators rebuild them per session (behind
``cache.tracked_persist``), which is right for exploratory use; a
production curation pipeline instead materializes them next to the
corpus and runs every day-2 query off the materialized form — the
same pattern ``write_minhash_index`` / ``write_ivf_index`` already
ship for their families (reference scope: an extension beyond
mthh/gpd_lite_toolbox, per the LLM-pipeline mandate).

Contract:
- ``write_substrate(corpus, path)`` builds each substrate with the
  IDENTICAL expression its one-shot operator uses and writes it as
  one part of a ``store.py`` store at ``path`` — so a query fed from
  the substrate is hash-identical to the one-shot form (pinned in
  tests/test_substrate.py).
- ``read_substrate(spark, path, name)`` returns the committed rows of
  that part; the consumers accept them via their ``sets= / sig= /
  verify_sets= / counts=`` parameters and then never touch the raw
  text.
- Every substrate is per-doc (rows keyed by doc id), so
  ``append_to_substrate`` admits a batch into any of them as one
  store batch: a retried append is a no-op, and ids another batch
  already committed raise ``ValueError``.

Scale shape: every substrate is one partial-combined pass over the
corpus (or a pure projection) and writes doc-sized or vocab-sized
rows; reads are plain columnar scans that prune to the columns each
consumer needs. At 100 TB this converts the per-query corpus fold —
the measured floor of the ngram/minhash/LM bench rows — into a
once-per-corpus-version batch cost, which is how curation pipelines
actually amortize (Dolma, RefinedWeb, CCNet all checkpoint shards of
exactly these tables between passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store


def _build_ngram_sets(corpus, id_col, text_col):
    from .dedup import ngram_doc_sets

    return ngram_doc_sets(corpus, id_col, text_col)


def _build_word_ngram_sets(corpus, id_col, text_col):
    from .dedup import ngram_doc_sets, word_ngram_array_expr

    return ngram_doc_sets(
        corpus, id_col, text_col, set_expr=word_ngram_array_expr
    )


def _build_minhash_sigs(corpus, id_col, text_col):
    from .dedup import minhash_signatures

    return minhash_signatures(corpus, id_col=id_col, text_col=text_col)


def _build_minhash_verify_sets(corpus, id_col, text_col):
    from ..parallelism import widen
    from .dedup import shingle_str_array_expr

    return widen(corpus).select(
        F.col(id_col).alias("id"),
        F.array_sort(shingle_str_array_expr(text_col)).alias("_ss"),
    )


def _build_ngram_counts(corpus, id_col, text_col):
    from .corpus import ngram_doc_counts

    return ngram_doc_counts(corpus, 3, id_col, text_col)


# name -> builder; each builder's output schema is the exact input
# schema of the consumer parameter it feeds (see module docstring)
SUBSTRATES = {
    "ngram_sets": _build_ngram_sets,  # ngram_jaccard(_prefix)_pairs sets=
    "word_ngram_sets": _build_word_ngram_sets,  # ngram_containment_pairs sets=
    "minhash_sigs": _build_minhash_sigs,  # minhash_lsh_pairs sig=
    "minhash_verify_sets": _build_minhash_verify_sets,  # ... verify_sets=
    # order 3: every LM scorer's counts= (unigram..trigram orders are
    # sums over it)
    "ngram_counts": _build_ngram_counts,
}
# the substrates' store description: one part per substrate
SUBSTRATE_STORE = {name: store.Part(id_col="id") for name in SUBSTRATES}


def _materialize(corpus, path, which, id_col, text_col, append):
    names = list(SUBSTRATES) if which is None else list(which)
    unknown = [n for n in names if n not in SUBSTRATES]
    if unknown:
        raise ValueError(
            f"unknown substrates {unknown}; available: {sorted(SUBSTRATES)}"
        )
    parts = {n: SUBSTRATES[n](corpus, id_col, text_col) for n in names}
    if append:
        store.append(path, SUBSTRATE_STORE, corpus, parts, id_col)
    else:
        store.write(path, SUBSTRATE_STORE, parts)
    return names


def write_substrate(
    corpus: DataFrame,
    path: str,
    which: list[str] | None = None,
    id_col: str = "id",
    text_col: str = "text",
) -> list[str]:
    """Materialize the named substrates (default: all) of ``corpus``
    as parts of the store at ``path``; returns the names written.
    Overwrite semantics per substrate — rewriting one name never
    touches the others, so incremental corpus-version bumps can
    refresh only the folds whose definition changed."""
    return _materialize(corpus, path, which, id_col, text_col, False)


def append_to_substrate(
    batch: DataFrame,
    path: str,
    which: list[str] | None = None,
    id_col: str = "id",
    text_col: str = "text",
) -> list[str]:
    """Admit an ingest batch into the materialized substrates (default:
    all) — the day-2 maintenance step after the batch survives dedup
    (mirrors ``append_to_minhash_index``). Every substrate is per-doc,
    keyed by doc id, so the batch's rows append cleanly as one store
    batch; ids another batch already committed raise ``ValueError``."""
    return _materialize(batch, path, which, id_col, text_col, True)


def read_substrate(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Scan one materialized substrate. Raises (AnalysisException)
    when it was never written — a silent empty fallback here would let
    a day-2 dedup pass admit everything."""
    if name not in SUBSTRATES:
        raise ValueError(
            f"unknown substrate {name!r}; available: {sorted(SUBSTRATES)}"
        )
    df = store.read(spark, path, name, missing_ok=True)
    if df is None:
        from pyspark.errors import AnalysisException

        raise AnalysisException(
            message=f"substrate {name!r} of {path} was never written"
        )
    return df
