"""store.py tests: one commit rule for the four on-disk store families.

A retried append equals a single append, ids committed by another
batch raise, a failure between two parts leaves the last committed
state, a partitioned part holds one file per partition value, and
only store.py writes or reads the families' files."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from gpd_lite_toolbox_spark import store

_PKG = Path(__file__).resolve().parents[1] / "gpd_lite_toolbox_spark"
_FAMILY_MODULES = [
    "text/dedup.py",
    "text/substrate.py",
    "text/pipeline.py",
    "vector/ann.py",
    "vector/pq.py",  # the PQ codec of the IVF index: no I/O of its own
]

_DOC3 = (
    "a distinctive ingest document about manifests and batch directories "
    "that commit last so that a retried append never duplicates rows"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def _index(spark, tmp_path):
    """A 2-doc minhash index (ids 1 and 2) at a fresh path."""
    from gpd_lite_toolbox_spark.text.dedup import write_minhash_index

    path = str(tmp_path / "mhidx")
    write_minhash_index(
        _docs(
            spark,
            [
                (1, "indexed filler row one with a vocabulary all its own"),
                (2, "a second indexed row that shares nothing with ingest"),
            ],
        ),
        path,
    )
    return path


def _pairs(spark, path, rows):
    from gpd_lite_toolbox_spark.text.dedup import ingest_near_dups

    out = ingest_near_dups(spark, path, _docs(spark, rows))
    return sorted(tuple(r) for r in out.collect())


def test_retried_minhash_append_reports_the_pair_once(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.dedup import append_to_minhash_index

    path = _index(spark, tmp_path)
    batch = _docs(spark, [(3, _DOC3)])
    append_to_minhash_index(batch, path)
    append_to_minhash_index(batch, path)  # the retried job
    assert store.read(spark, path, "docs").count() == 3
    got = _pairs(spark, path, [(4, _DOC3 + " again")])
    assert [(a, b) for a, b, _ in got] == [(3, 4)]


def test_retried_substrate_append_equals_single_append(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.corpus import trigram_logprob
    from gpd_lite_toolbox_spark.text.substrate import (
        append_to_substrate,
        read_substrate,
        write_substrate,
    )

    base = _docs(spark, [(1, "the cat sat on the mat"), (2, "a dog ran far")])
    batch = _docs(spark, [(3, "the cat ran on the mat again")])
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    for path, n in ((once, 1), (twice, 2)):
        write_substrate(base, path, which=["ngram_counts"])
        for _ in range(n):
            append_to_substrate(batch, path, which=["ngram_counts"])

    def rows(df):
        return sorted(map(repr, df.collect()))

    a = read_substrate(spark, once, "ngram_counts")
    b = read_substrate(spark, twice, "ngram_counts")
    assert rows(a) == rows(b)
    empty = _docs(spark, [])
    assert rows(trigram_logprob(empty, counts=a)) == rows(
        trigram_logprob(empty, counts=b)
    )


def test_partitioned_parts_hold_one_file_per_partition_value(spark, tmp_path):
    """Rows of one partition value spread over 8 input partitions are
    written as one file, for the minhash ``bands`` and IVF ``cells``."""
    from gpd_lite_toolbox_spark.text.dedup import write_minhash_index
    from gpd_lite_toolbox_spark.vector.ann import write_ivf_index
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    # 4 texts x 8 copies: every (band, bucket) is held by 8 documents
    texts = [_DOC3, _DOC3[::-1], _DOC3.upper(), _DOC3.replace("a", "o")]
    docs = _docs(spark, [(i, texts[i % 4]) for i in range(32)])
    write_minhash_index(docs.repartition(8, "id"), str(tmp_path / "mh"))
    c = default_coarse_centroids()
    vecs = spark.createDataFrame(
        [(i, [float(x) + 1e-3 * i for x in c[i % 2]]) for i in range(32)],
        "vec_id bigint, embedding array<float>",
    )
    write_ivf_index(
        vecs.repartition(8, "vec_id"), str(tmp_path / "ivf"), centroids=c
    )
    for leaves in ("mh/bands/_b=*/band=*/bucket=*", "ivf/cells/_b=*/cell=*"):
        dirs = list(tmp_path.glob(leaves))
        assert dirs, leaves
        n_files = {len(list(d.glob("*.parquet"))) for d in dirs}
        assert n_files == {1}, (leaves, n_files)


def test_append_of_ids_another_batch_committed_raises(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.dedup import append_to_minhash_index

    path = _index(spark, tmp_path)
    append_to_minhash_index(_docs(spark, [(3, _DOC3)]), path)
    clash = _docs(
        spark, [(2, "another text for id two"), (3, "and three"), (5, "new")]
    )
    with pytest.raises(ValueError, match=r"2 ids .* e\.g\. \[2, 3\]"):
        append_to_minhash_index(clash, path)
    assert store.read(spark, path, "docs").count() == 3


def test_failure_between_parts_keeps_the_committed_state(
    spark, tmp_path, monkeypatch
):
    """The second part's write fails: the index still reads as its
    last commit (a near-dup of doc 2 is found, doc 3 is absent), and
    the retry then commits doc 3 exactly once."""
    from gpd_lite_toolbox_spark.text.dedup import append_to_minhash_index

    path = _index(spark, tmp_path)
    batch = _docs(spark, [(3, _DOC3)])
    real, calls = store._write_part, []

    def flaky(df, target, partition_by):
        calls.append(target)
        if len(calls) == 2:
            raise OSError("injected failure on the second part")
        real(df, target, partition_by)

    monkeypatch.setattr(store, "_write_part", flaky)
    with pytest.raises(OSError, match="injected"):
        append_to_minhash_index(batch, path)
    monkeypatch.setattr(store, "_write_part", real)
    assert "/bands/" in calls[0] and "/docs/" in calls[1]

    for part in ("bands", "docs"):
        ids = {r.id for r in store.read(spark, path, part).collect()}
        assert ids == {1, 2}, part
    probe = "a second indexed row that shares nothing with ingest again"
    got = _pairs(spark, path, [(5, probe)])
    assert [(a, b) for a, b, _ in got] == [(2, 5)]

    append_to_minhash_index(batch, path)  # the retry
    got = _pairs(spark, path, [(4, _DOC3 + " again")])
    assert [(a, b) for a, b, _ in got] == [(3, 4)]


def test_store_states(spark, tmp_path):
    """Missing path: never written. A path without a manifest: not a
    committed store. A committed empty store reads as no rows."""
    never = str(tmp_path / "never")
    assert store.read(spark, never, "docs", missing_ok=True) is None
    with pytest.raises(FileNotFoundError, match="never written"):
        store.read(spark, never, "docs")
    bare = tmp_path / "bare"
    (bare / "docs").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        store.read(spark, str(bare), "docs", missing_ok=True)
    empty = spark.createDataFrame([], "id long, cell int")
    family = {"docs": store.Part(("cell",), id_col="id")}
    store.write(str(tmp_path / "empty"), family, {"docs": empty})
    got = store.read(spark, str(tmp_path / "empty"), "docs")
    assert got.count() == 0 and got.columns == ["id", "cell"]


# ---------------------------------------------------------------------------
# Structural guard: the four families write and read only through store.py
# ---------------------------------------------------------------------------


def _raw_io(source: str) -> list[tuple[int, str]]:
    """(line, attr) of every ``.write`` and ``.read`` attribute access
    other than the store verbs: DataFrame writers and ``spark.read``."""
    return [
        (node.lineno, node.attr)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute)
        and node.attr in ("write", "read")
        and not (isinstance(node.value, ast.Name) and node.value.id == "store")
    ]


def test_store_families_do_io_only_through_store_py():
    # a docstring or comment naming a call is not a call
    src = '"""``df.write``"""\n# spark.read\ndf.write.parquet(p)\n'
    src += "spark.read.parquet(p)\nstore.read(spark, p, 'docs')\n"
    assert _raw_io(src) == [(3, "write"), (4, "read")]
    offenders = [
        f"{mod}:{line}: .{attr}"
        for mod in _FAMILY_MODULES
        for line, attr in _raw_io((_PKG / mod).read_text(encoding="utf-8"))
    ]
    assert offenders == []


def test_streaming_ledger_reads_the_flags_index_through_store():
    tree = ast.parse(
        (_PKG / "streaming/grid_stream.py").read_text(encoding="utf-8")
    )
    (decide,) = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_decide"
    ]
    # the micro-batch probe reads the flags index; its one ``.read`` is
    # ``store.read``, never ``spark.read``
    readers = [
        n.value.id if isinstance(n.value, ast.Name) else ast.unparse(n.value)
        for n in ast.walk(decide)
        if isinstance(n, ast.Attribute) and n.attr == "read"
    ]
    assert readers == ["store"]
