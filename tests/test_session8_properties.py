"""Property tests for the session-8 operators on arbitrary inputs:
KMV vs a direct Python reference sketch, Hilbert vs a pure-Python
xy2d reference at random bit widths, and JSD range/zero laws for the
divergence monitor (the containment/Jaccard ordering property lives
in tests/test_dedup.py)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# round 11 (r10 VERDICT item 1): hypothesis property sweep —
# excluded from the default lane so the driver's gate completes;
# the full lane (pytest -m "") runs it.
pytestmark = pytest.mark.slow


word = st.text(
    alphabet=st.sampled_from("abcdefgh theankspark"), min_size=1, max_size=8
).filter(lambda w: " " not in w)
texts = st.lists(word, min_size=1, max_size=30).map(" ".join)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


def _py_kmv(tokens, k):
    hs = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in tokens
        }
    )[:k]
    n_kept = len(hs)
    if n_kept < k:
        return n_kept, (hs[-1] if hs else None), float(n_kept)
    return n_kept, hs[-1], round((k - 1) * float(2**60) / hs[-1], 4)


@settings(max_examples=10, deadline=None)
@given(st.lists(texts, min_size=1, max_size=6))
def test_kmv_matches_python_reference(_spark, docs):
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    df = _spark.createDataFrame(
        pd.DataFrame({"source": ["s"] * len(docs), "text": docs}),
        schema="source string, text string",
    )
    row = kmv_vocab_sketch(df, k=8).collect()[0]
    toks = [t for d in docs for t in d.split(" ")]
    n_kept, kth, est = _py_kmv(toks, 8)
    assert row["n_kept"] == n_kept
    assert row["kth_hash"] == kth
    assert row["est_distinct"] == est


def _py_hilbert(x, y, bits):
    d = 0
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - y, s - 1 - x
            else:
                x, y = y, x
    return d


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=2, max_value=8),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    ),
)
def test_hilbert_matches_python_reference(_spark, bits, cells):
    from gpd_lite_toolbox_spark.operators.zorder import hilbert_key_expr

    n = 1 << bits
    cells = [(x % n, y % n) for x, y in cells]
    b = dict(xmin=0.0, ymin=0.0, xmax=float(n), ymax=float(n))
    df = _spark.createDataFrame(
        pd.DataFrame(
            {
                "i": range(len(cells)),
                "x": [c[0] + 0.5 for c in cells],
                "y": [c[1] + 0.5 for c in cells],
            }
        ),
        schema="i bigint, x double, y double",
    )
    out = {
        r["i"]: r["d"]
        for r in df.select(
            "i",
            hilbert_key_expr(F.col("x"), F.col("y"), b, bits=bits).alias("d"),
        ).collect()
    }
    for i, (x, y) in enumerate(cells):
        assert out[i] == _py_hilbert(x, y, bits), (bits, x, y)


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["s1", "s2", "s3"]),
        st.lists(texts, min_size=1, max_size=4),
        min_size=1,
        max_size=3,
    )
)
def test_jsd_range_and_zero_law(_spark, strata):
    """0 <= jsd <= ln 2 always; a single stratum (the global IS the
    stratum) has jsd exactly 0."""
    from gpd_lite_toolbox_spark.text.corpus import unigram_divergence

    rows = [(s, t) for s, docs in strata.items() for t in docs]
    df = _spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "text"]),
        schema="source string, text string",
    )
    out = unigram_divergence(df).collect()
    for r in out:
        assert -1e-9 <= r["jsd"] <= math.log(2.0) + 1e-9, r
        assert 0.0 < r["coverage"] <= 1.0 + 1e-9
    if len(strata) == 1:
        assert out[0]["jsd"] == 0.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1.0, max_value=1.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=64, max_size=64,
        ),
        min_size=1, max_size=6,
    )
)
def test_pq_fold_and_arrow_agree_on_arbitrary_vectors(_spark, vecs):
    """The Arrow PQ encoder and the Catalyst fold produce identical
    codes on arbitrary float vectors — the bit-identity the hash gate
    rests on, probed beyond the fixture distribution."""
    from gpd_lite_toolbox_spark.vector.pq import (
        _encode_arrow,
        default_codebooks,
        encode_pq_expr,
    )

    cbs = default_codebooks()
    df = _spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    out = df.select(
        encode_pq_expr("embedding", cbs).alias("c1"),
        _encode_arrow(cbs)(F.col("embedding")).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"]
