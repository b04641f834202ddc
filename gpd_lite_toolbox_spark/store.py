"""The one module that writes and reads the package's on-disk stores.

Four families keep state between runs: the minhash index
(``text/dedup.py``), the corpus substrates (``text/substrate.py``),
the curation flags index (``text/pipeline.py``) and the IVF index
(``vector/ann.py``, raw-vector or PQ-coded cells). Each family is a
description, a dict of part name -> ``Part``: the part's partition
columns, the id column that must be unique across batches, and
whether the part holds tombstones. The builders stay in their
modules; only this module touches the files (guarded by
``tests/test_store.py``).

Layout: ``<path>/<part>/_b=<batch>/<pcol>=<v>/.../part-*.parquet``.
Every write, append, delete or compaction puts each part it changes
into a fresh batch directory, with the partition columns below it.

Commit rule: after every part is written, one new manifest version
``<path>/_manifest/v<version>.json`` is published in one step (a temp
file, then a rename, through Hadoop's ``FileSystem``, so ``file:``,
``hdfs:`` and ``s3a:`` paths resolve as the executors see them). It
lists each part's schema, partition columns and committed batches. A
reader scans only the committed batch directories of the latest
version, so a batch whose write failed part-way is invisible and a
retry overwrites it. The scan keeps static partition pruning: a filter
on a partition column still shows as ``PartitionFilters``.

Store states: a missing path was never written (the legal day-1 empty
state); a path with no manifest is not a committed store, and reading
or appending to it raises; a committed empty store is a manifest whose
batches hold no rows.

Batch ids: an append's batch id is derived from its rows (count and
sum of ``xxhash64`` over the input columns). A retried append of a
committed batch is a no-op; if another committed batch already holds
one of the batch's ids, the append raises ``ValueError``. That check
is one column-pruned semi-join of the batch ids against the part's id
column. Measured on a 4-vCPU VM (local[4]), appending the
``id % 13 == 0`` batch onto an index of the other documents, best of 3:
at sf0.1 (5000 docs, 385 in the batch) 0.12 s for the minhash index
and 0.34 s for all five substrates, within whole appends of 3.7 s and
2.9 s; at the 10x SF1 documents fixture (50000 docs, 3846 in the
batch) 0.14 s and 0.37 s, within 9.1 s and 4.7 s.

A manifest lists batch directories, not single files: Spark checks
and lists every path it is handed, and on the local filesystem that
cost 7.5-9.5 s for the 2048 files of an sf0.1 minhash ``bands`` part
written by 32 tasks, against 0.12-0.17 s for its one directory.
Compaction drops some partitions of committed batches; the manifest
records them and the reader filters them out until their files are
gone.

A partitioned part is clustered by its partition columns before the
write, so each partition value of a batch is one file: the sf0.1
``bands`` part above is 64 files, one per (band, bucket), where
written straight from the layout of 32 tasks it was 2048.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST = "_manifest"


@dataclass(frozen=True)
class Part:
    """One part of a store family: its partition columns, the column
    whose values must be unique across batches (None: no check), and
    whether it holds tombstones (cleared by ``write`` and ``compact``)."""

    partition_by: tuple[str, ...] = ()
    id_col: str | None = None
    tombstones: bool = False


class _FS:
    """One store root on the Hadoop filesystem its scheme names."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark.sparkContext._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self.root = root.rstrip("/")
        self.fs = self._path(self.root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def uri(self, rel: str = "") -> str:
        return f"{self.root}/{rel}" if rel else self.root

    def exists(self, rel: str = "") -> bool:
        return bool(self.fs.exists(self._path(self.uri(rel))))

    def ls(self, rel: str) -> list[str]:
        if not self.exists(rel):
            return []
        statuses = self.fs.listStatus(self._path(self.uri(rel)))
        return [s.getPath().getName() for s in statuses]

    def read_text(self, rel: str) -> str:
        stream = self.fs.open(self._path(self.uri(rel)))
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def publish_text(self, rel: str, text: str) -> None:
        """Write ``text`` to a temp file, then rename it to ``rel``."""
        tmp = self._path(self.uri(f"{rel}.tmp"))
        out = self.fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if not self.fs.rename(tmp, self._path(self.uri(rel))):
            raise OSError(f"could not publish {self.uri(rel)}")

    def delete(self, rel: str) -> None:
        self.fs.delete(self._path(self.uri(rel)), True)


def _load(fs: _FS) -> dict | None:
    """The latest manifest; None if the store was never written."""
    if not fs.exists():
        return None
    versions = sorted(n for n in fs.ls(_MANIFEST) if n.endswith(".json"))
    if not versions:
        raise FileNotFoundError(
            f"{fs.root} is not a committed store: it has no manifest (a "
            "write that never finished, or not a store of this package)"
        )
    return json.loads(fs.read_text(f"{_MANIFEST}/{versions[-1]}"))


def _version(manifest: dict | None) -> int:
    return 1 if manifest is None else manifest["version"] + 1


def _publish(fs: _FS, old: dict | None, parts: dict, drop=()) -> None:
    """Publish the next manifest: ``old``'s parts, with ``parts``
    replacing theirs and the names in ``drop`` removed. Keeps the
    previous version for readers still resolving it."""
    version = _version(old)
    kept = {} if old is None else old["parts"]
    merged = {n: e for n, e in {**kept, **parts}.items() if n not in drop}
    fs.publish_text(
        f"{_MANIFEST}/v{version:010d}.json",
        json.dumps({"version": version, "parts": merged}),
    )
    for name in fs.ls(_MANIFEST):
        if name.endswith(".json") and int(name[1:11]) < version - 1:
            fs.delete(f"{_MANIFEST}/{name}")


def _write_part(df: DataFrame, target: str, partition_by) -> None:
    """The only parquet write of the store families: one part of one
    batch, replacing what an earlier failed attempt left there. A
    partitioned part is first clustered by its partition columns, so
    each partition value is one task's and one file, not one file per
    task that holds it."""
    if partition_by:
        df = df.repartition(*partition_by)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(target)


def _entry(df: DataFrame, spec: Part, batches: dict) -> dict:
    """A part's manifest entry, its schema in read order: data
    columns, then partition columns."""
    fields = [f for f in df.schema if f.name not in spec.partition_by]
    fields += [df.schema[c] for c in spec.partition_by]
    return {
        "schema": StructType(fields).jsonValue(),
        "partition_by": list(spec.partition_by),
        "batches": batches,
    }


def _scan(spark, fs: _FS, part: str, entry: dict, skip=None) -> DataFrame:
    schema = StructType.fromJson(entry["schema"])
    batches = {b: d for b, d in entry["batches"].items() if b != skip}
    if not batches:
        return spark.createDataFrame([], schema)
    df = (
        spark.read.schema(schema)
        .option("basePath", fs.uri(part))
        .parquet(*[fs.uri(f"{part}/_b={b}") for b in batches])
    )
    for b, dropped in batches.items():
        if dropped:  # partitions a compaction replaced
            pcol = F.col(entry["partition_by"][0])
            df = df.filter(~((F.col("_b") == b) & pcol.isin(dropped)))
    return df.drop("_b")


def _batch_id(batch: DataFrame) -> str:
    """Id of an append: count plus the sum of ``xxhash64`` over every
    input column, so a retried batch maps to the same directory."""
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*batch.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return "a" + hashlib.sha1(f"{row.n}:{row.h}".encode()).hexdigest()[:16]


def read(
    spark: SparkSession, path: str, part: str, missing_ok: bool = False
) -> DataFrame | None:
    """The committed rows of one part. A store or part never written
    gives None with ``missing_ok``, else ``FileNotFoundError``; a path
    with no manifest always raises."""
    fs = _FS(spark, path)
    manifest = _load(fs)
    entry = None if manifest is None else manifest["parts"].get(part)
    if entry is None:
        if missing_ok:
            return None
        raise FileNotFoundError(f"{path}: part {part!r} was never written")
    return _scan(spark, fs, part, entry)


def write(path: str, family: dict, parts: dict[str, DataFrame]) -> None:
    """Replace ``parts`` (name -> rows) and clear the family's
    tombstones in one commit; other parts are kept. Batch directories
    the new manifest does not list are deleted after it is published."""
    spark = next(iter(parts.values())).sparkSession
    fs = _FS(spark, path)
    try:
        old = _load(fs)
    except FileNotFoundError:  # no manifest: written from scratch
        old = None
    bid = f"w{_version(old)}"
    entries = {}
    for name, df in parts.items():
        _write_part(df, fs.uri(f"{name}/_b={bid}"), family[name].partition_by)
        entries[name] = _entry(df, family[name], {bid: []})
    tombstones = [n for n, spec in family.items() if spec.tombstones]
    _publish(fs, old, entries, drop=tombstones)
    for name in parts:
        for child in fs.ls(name):
            if child != f"_b={bid}":
                fs.delete(f"{name}/{child}")
    for name in tombstones:
        fs.delete(name)


def append(
    path: str, family: dict, batch: DataFrame, parts: dict[str, DataFrame],
    id_col: str | None = None,
) -> None:
    """Admit ``batch`` as one more batch of ``parts`` (name -> the rows
    built from it). A never-written store is created. ``id_col`` names
    the batch's id column, checked against each part's ``Part.id_col``."""
    spark = batch.sparkSession
    fs = _FS(spark, path)
    old = _load(fs)
    committed = {} if old is None else old["parts"]
    bid = _batch_id(batch)
    todo = {
        n: df for n, df in parts.items()
        if bid not in committed.get(n, {}).get("batches", {})
    }
    if not todo:  # a retry of a committed batch
        return
    existing = [
        _scan(spark, fs, n, committed[n], skip=bid).select(
            F.col(family[n].id_col).alias("_id")
        )
        for n in todo
        if id_col is not None and family[n].id_col and n in committed
    ]
    if existing:
        hits = (
            batch.select(F.col(id_col).alias("_id"))
            .join(reduce(DataFrame.unionByName, existing), "_id", "left_semi")
            .distinct()
        )
        sample = sorted(r._id for r in hits.limit(5).collect())
        if sample:
            raise ValueError(
                f"{hits.count()} ids of this batch are already committed "
                f"to {path} by another batch, e.g. {sample}"
            )
    entries = {}
    for name, df in todo.items():
        _write_part(df, fs.uri(f"{name}/_b={bid}"), family[name].partition_by)
        prior = committed.get(name) or _entry(df, family[name], {})
        entries[name] = {**prior, "batches": {**prior["batches"], bid: []}}
    _publish(fs, old, entries)


def delete(path: str, family: dict, ids: DataFrame) -> None:
    """Logical delete: append ``ids`` to the family's tombstone part.
    Readers filter them out until ``compact`` applies them."""
    (part,) = [n for n, spec in family.items() if spec.tombstones]
    append(path, family, ids, {part: ids})


def compact(
    spark: SparkSession, path: str, family: dict, part: str, values: list,
    rows: DataFrame,
) -> None:
    """Replace the partitions ``values`` (of the part's first partition
    column) by ``rows`` and clear the family's tombstones in one
    commit, then delete the replaced files, so the cost tracks the
    affected partitions, not the store."""
    fs = _FS(spark, path)
    old = _load(fs)
    entry = old["parts"][part]
    pcol = entry["partition_by"][0]
    batches = {
        b: sorted(set(d) | set(values)) for b, d in entry["batches"].items()
    }
    if values:
        bid = f"c{_version(old)}"
        _write_part(rows, fs.uri(f"{part}/_b={bid}"), family[part].partition_by)
        batches[bid] = []
    tombstones = [n for n, spec in family.items() if spec.tombstones]
    _publish(fs, old, {part: {**entry, "batches": batches}}, drop=tombstones)
    for b in entry["batches"]:
        for v in values:
            fs.delete(f"{part}/_b={b}/{pcol}={v}")
    for name in tombstones:
        fs.delete(name)
