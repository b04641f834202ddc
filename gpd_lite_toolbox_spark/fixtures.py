"""Derived spatial fixtures, defined once in dialect-shared SQL.

The driver's testdata (TESTDATA.md) is TPC-H-ish with no geometry. Per
FIXTURES.md, spatial columns are derived deterministically from primary
keys. The derivation below is written in the SQL subset common to Spark
SQL and DuckDB (integer arithmetic, CAST/FLOOR, `||` concat) and executed
verbatim by BOTH engines, so Spark queries and DuckDB oracles see
bit-identical inputs by construction. Geometry (WKB) columns are attached
on the Spark side only — oracle queries compare scalar columns.

Fixture shapes (mirroring FIXTURES.md T1-T3):
- ``points``  (from customer): scattered Points with value/weight/category.
- ``polys``   (from supplier): an axis-aligned rectangle mosaic on a
  32-wide grid — rectangles tile edge-to-edge so borders/adjacency exist,
  and every spatial predicate has a closed-form SQL equivalent (interval
  arithmetic), which is what makes DuckDB-oracle checks possible without
  a spatial extension.
- ``polys_b`` (from supplier): the same mosaic shifted by a half-cell —
  the overlapping layer for area-of-intersection operators.
- ``mpolys``  (from nation): multi-part features (1-3 rectangle parts)
  for explode/dump operators.
- ``road_verts`` (from part): 4-vertex polyline vertex table; ``roads_b``
  is a jittered copy with 1-in-10 features deleted (match/no-match path).

Coordinates live in [0, 100000]^2 (planar, FIXTURES.md).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .geometry.functions import st_point, st_rect
from .session import configure

FRAME = 100_000.0
POLY_GRID = 32
POLY_CELL = 3125.0

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# A 4-row literal index table — the dialect-shared substitute for
# explode(sequence())/unnest(range()) where a tiny fan-out is needed.
J4 = (
    "(SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL "
    "SELECT 3) j4"
)

# 8-row variant for the ragged (3-7 vertex) line fixtures.
J8 = (
    "(SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL "
    "SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL "
    "SELECT 6 UNION ALL SELECT 7) j8"
)

# 32-row index table; cross-join twice for up to 1024 (grid-cell oracle).
N32 = (
    "(SELECT "
    + " UNION ALL SELECT ".join(str(i) for i in range(32))
    + ")"
)
N32 = N32.replace("(SELECT 0", "(SELECT 0 AS n", 1)

# Coordinates and weights are INTEGER-VALUED doubles by construction:
# integer-valued double products/sums are exact (until 2^53) in ANY
# summation order, so Spark's partial aggregation and DuckDB's serial
# aggregation produce bit-identical results — no rounding-tolerance
# games in the oracle comparison.
POINTS_SQL = """
SELECT c_custkey AS id,
       CAST((c_custkey * 2654435761) % 100000 AS DOUBLE) AS x,
       CAST((c_custkey * 2246822519) % 100000 AS DOUBLE) AS y,
       (c_custkey * 40503) % 86400 AS t_obs,
       CAST(1 + (c_custkey * 7919) % 100 AS DOUBLE) AS weight,
       'C' || CAST(c_custkey % 8 AS STRING) AS cat
FROM customer
"""

POLYS_SQL = f"""
SELECT s_suppkey AS id,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} AS x0,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} AS DOUBLE) AS y0,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL}
           + {POLY_CELL} AS x1,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {POLY_CELL} AS DOUBLE) AS y1,
       'U' || CAST(s_suppkey AS STRING) AS code,
       'CTY' || CAST(s_suppkey % 8 AS STRING) AS country,
       CAST(1 + (s_suppkey * 9973) % 5000 AS DOUBLE) AS size_mb,
       CASE WHEN s_suppkey % 7 = 0 THEN 0
            ELSE (s_suppkey * 104729) % 100000 END AS pop
FROM supplier
"""

# Same mosaic shifted by a half cell: overlap fixture for
# intersection_part / area-fraction operators.
POLYS_B_SQL = f"""
SELECT s_suppkey AS id,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL}
           + {POLY_CELL / 2} AS x0,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {POLY_CELL / 2} AS DOUBLE) AS y0,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL}
           + {POLY_CELL * 1.5} AS x1,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {POLY_CELL * 1.5} AS DOUBLE) AS y1
FROM supplier
"""

# Multi-part features: part k of feature i is a 400x400 square at
# (i*900, k*900); 1 + i%3 parts. Exploded (one row per part) in shared
# SQL; the Spark side reassembles a MultiPolygon geometry per feature.
MPOLY_PARTS_SQL = f"""
SELECT n_nationkey AS id,
       'N' || CAST(n_nationkey AS STRING) AS code,
       1 + n_nationkey % 3 AS n_parts,
       j AS part_idx,
       CAST(n_nationkey AS DOUBLE) * 900.0 AS x0,
       CAST(j AS DOUBLE) * 900.0 AS y0,
       CAST(n_nationkey AS DOUBLE) * 900.0 + 400.0 AS x1,
       CAST(j AS DOUBLE) * 900.0 + 400.0 AS y1
FROM nation CROSS JOIN {J4}
WHERE j < 1 + n_nationkey % 3
"""

# Road vertex tables: feature = 4-vertex polyline anchored by hashed key,
# mostly-horizontal with deterministic wiggle. roads_b jitters roads_a by
# <=1 unit per coordinate and removes every 10th feature.
ROAD_VERTS_SQL = f"""
SELECT p_partkey AS id,
       j AS vidx,
       CAST((p_partkey * 3266489917) % 90000
            + j * 40 AS DOUBLE) AS vx,
       CAST((p_partkey * 668265263) % 90000
            + (p_partkey * 31 + j * 17) % 100 AS DOUBLE) AS vy,
       CASE p_partkey % 4 WHEN 0 THEN 'motorway' WHEN 1 THEN 'primary'
            WHEN 2 THEN 'secondary' ELSE 'local' END AS road_class
FROM part CROSS JOIN {J4}
"""

ROAD_B_VERTS_SQL = f"""
SELECT p_partkey AS id,
       j AS vidx,
       CAST((p_partkey * 3266489917) % 90000 + j * 40
            + (p_partkey * 7 + j * 13) % 21 - 10 AS DOUBLE) AS vx,
       CAST((p_partkey * 668265263) % 90000
            + (p_partkey * 31 + j * 17) % 100
            + (p_partkey * 11 + j * 19) % 21 - 10 AS DOUBLE) AS vy
FROM part CROSS JOIN {J4}
WHERE p_partkey % 10 <> 0
"""

# Concave + holed polygon layers — the NON-rectangle fixture family.
# Feature = an L-shaped hexagon (union of two axis-aligned rectangles:
# R1 = [0,2000]x[0,1000], R2 = [0,1000]x[1000,2000] relative to the cell
# origin), with a square hole [200,700]^2 on a subset of features. The
# B layer is the same construction shifted by (+537, +613) so every
# overlap is a genuine concave/hole intersection. Because every shape
# is a signed union of axis-aligned rectangles, DuckDB oracles get
# closed-form area (signed rectangle inclusion-exclusion over the
# indicator identity 1_A = 1_R1 + 1_R2 - 1_hole) and perimeter
# (per-segment interval clipping) with exact integer arithmetic —
# while the Spark side decodes true concave-ring WKB. Coordinate
# residues differ between layers (A multiples of 100; B ends in 37/13)
# so the pair geometry is in generic position: no collinear shared
# edges, no vertex-on-edge contact.
L_BIG = 2000.0
L_ARM = 1000.0
L_HOLE0 = 200.0
L_HOLE1 = 700.0
L_B_DX = 537.0
L_B_DY = 613.0

CPOLYS_SQL = f"""
SELECT s_suppkey AS id,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} AS ox,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} AS DOUBLE) AS oy,
       CASE WHEN s_suppkey % 3 = 0 THEN 1 ELSE 0 END AS has_hole,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} AS x0,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} AS DOUBLE) AS y0,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} + {L_BIG} AS x1,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {L_BIG} AS DOUBLE) AS y1
FROM supplier
"""

CPOLYS_B_SQL = f"""
SELECT s_suppkey AS id,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} + {L_B_DX} AS ox,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {L_B_DY} AS DOUBLE) AS oy,
       CASE WHEN s_suppkey % 4 = 0 THEN 1 ELSE 0 END AS has_hole,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL} + {L_B_DX} AS x0,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {L_B_DY} AS DOUBLE) AS y0,
       CAST(s_suppkey % {POLY_GRID} AS DOUBLE) * {POLY_CELL}
           + {L_B_DX + L_BIG} AS x1,
       CAST((FLOOR(CAST(s_suppkey AS DOUBLE) / {POLY_GRID}) % {POLY_GRID})
           * {POLY_CELL} + {L_B_DY + L_BIG} AS DOUBLE) AS y1
FROM supplier
"""

# RAGGED polyline vertex tables — variable vertex counts for the
# generalized (chkl-subsampled) match_lines. A-lines carry 3/5/7
# vertices, the B counterpart of the SAME key carries a DIFFERENT
# count (cycles (3,5),(5,7),(7,3)), so every candidate pair exercises
# the longer/shorter index mapping. The subsample filter modulus (4)
# is COPRIME with the count modulus (3): a %3-based subsample would
# freeze the counts at (3,5) and leave the A-longer branch untested. Every line spans exactly 240 x
# units (3/5/7 vertices -> integer steps 120/60/40, keeping the
# integer-valued-double convention); B adds <=10-unit jitter.
ROAD_RAGGED_SQL = f"""
SELECT p_partkey AS id, j AS vidx,
       CAST((p_partkey * 3266489917) % 90000
            + j * (240.0 / (2 + 2 * (p_partkey % 3))) AS DOUBLE) AS vx,
       CAST((p_partkey * 668265263) % 90000
            + (p_partkey * 31 + j * 17) % 40 AS DOUBLE) AS vy
FROM part CROSS JOIN {J8}
WHERE p_partkey % 4 = 1 AND j < 3 + 2 * (p_partkey % 3)
"""

ROAD_RAGGED_B_SQL = f"""
SELECT p_partkey AS id, j AS vidx,
       CAST((p_partkey * 3266489917) % 90000
            + j * (240.0 / (2 + 2 * ((p_partkey + 1) % 3)))
            + (p_partkey * 7 + j * 13) % 21 - 10 AS DOUBLE) AS vx,
       CAST((p_partkey * 668265263) % 90000
            + (p_partkey * 31 + j * 17) % 40
            + (p_partkey * 11 + j * 19) % 21 - 10 AS DOUBLE) AS vy
FROM part CROSS JOIN {J8}
WHERE p_partkey % 4 = 1 AND j < 3 + 2 * ((p_partkey + 1) % 3)
"""

# Document corpus with PLANTED duplicates for the dedup operator family:
# the driver's documents are all-distinct, so exact duplicates (1 in 10)
# and near-duplicates (1 in 17, a token appended) are derived
# deterministically. id offsets keep provenance recoverable.
CORPUS_SQL = """
SELECT doc_id AS id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS id, text || ' zq extra' AS text
FROM documents WHERE doc_id % 17 = 0
"""

# Sourced corpus for cross-source overlap reports: the derived copies
# land in a synthetic 'mirror' source, so the overlap matrix has
# planted cross-source rows (srcN x mirror) on top of the natural
# diagonal. Same derivation arithmetic as CORPUS_SQL.
SCORPUS_SQL = """
SELECT doc_id AS id, text, source FROM documents
UNION ALL
SELECT doc_id + 1000000 AS id, text, 'mirror' AS source
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + 2000000 AS id, text, 'mirror' AS source
FROM documents WHERE doc_id % 35 = 0
UNION ALL
SELECT doc_id + 3000000 AS id, text || ' zq extra' AS text,
       'mirror' AS source
FROM documents WHERE doc_id % 17 = 0
"""

# Mocked OSRM travel-time matrix (FIXTURES.md T5): one row per grid
# point, with the reference's sentinel values (2147483647 unreachable,
# 0 self) planted for the filter path (core.py:916).
OSRM_SQL = """
SELECT c_custkey AS pt_id,
       CAST((c_custkey * 2654435761) % 100000 AS DOUBLE) AS x,
       CAST((c_custkey * 2246822519) % 100000 AS DOUBLE) AS y,
       CASE WHEN c_custkey % 23 = 0 THEN 2147483647
            WHEN c_custkey % 29 = 0 THEN 0
            ELSE (c_custkey * 7919) % 7200 END AS time_s
FROM customer
"""

_FIXTURE_SQL = {
    "corpus": CORPUS_SQL,
    "scorpus": SCORPUS_SQL,
    "cpolys": CPOLYS_SQL,
    "cpolys_b": CPOLYS_B_SQL,
    "osrm_matrix": OSRM_SQL,
    "points": POINTS_SQL,
    "polys": POLYS_SQL,
    "polys_b": POLYS_B_SQL,
    "mpoly_parts": MPOLY_PARTS_SQL,
    "road_verts": ROAD_VERTS_SQL,
    "road_b_verts": ROAD_B_VERTS_SQL,
    "road_ragged_verts": ROAD_RAGGED_SQL,
    "road_ragged_b_verts": ROAD_RAGGED_B_SQL,
}


def oracle_ctes(*names: str) -> str:
    """WITH-clause body declaring the requested fixtures for DuckDB."""
    return ", ".join(f"{n} AS ({_FIXTURE_SQL[n]})" for n in names)


# last-registered sf_dir per SparkSession (temp views live in the
# SESSION catalog — a newSession() shares the context but has an empty
# catalog): only a repeat of the SAME dir on the SAME session may skip;
# switching dirs (even back to an earlier one) must re-register.
_last_registered: dict[int, str] = {}


def register_base_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (idempotent,
    memoized per session+dir — the driver calls every query function in
    one session and re-reading 10 parquet schemas per query is waste).

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark reads as
    int64 nanos (``spark.sql.legacy.parquet.nanosAsLong``); normalize to
    a microsecond timestamp so Spark and DuckDB agree on the value.
    """
    from pyspark.sql import functions as F

    configure(spark)
    key = id(spark)
    if _last_registered.get(key) == sf_dir:
        return
    for name in TPCH_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # integer div, not /1000 via double: ~1.7e18 ns exceeds
                # double precision and would round microseconds off by ±1
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif ts_type == "timestamp_ntz":
                # parquet timestamp[us] without tz reads as TIMESTAMP_NTZ
                # on Spark 4; unix_micros/watermarks need TIMESTAMP. The
                # session tz is pinned to UTC, so the cast preserves the
                # wall-clock value and matches DuckDB's epoch_us.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
    # mark AFTER all views registered so a mid-loop failure retries
    _last_registered[key] = sf_dir


def fixture_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Build a derived fixture on the Spark side from the shared SQL."""
    register_base_tables(spark, sf_dir)
    return spark.sql(_FIXTURE_SQL[name])


def points(spark: SparkSession, sf_dir: str, with_geometry: bool = True) -> DataFrame:
    df = fixture_df(spark, sf_dir, "points")
    if with_geometry:
        df = df.withColumn("geometry", st_point("x", "y"))
    return df


def polys(spark: SparkSession, sf_dir: str, with_geometry: bool = True) -> DataFrame:
    df = fixture_df(spark, sf_dir, "polys")
    if with_geometry:
        df = df.withColumn("geometry", st_rect("x0", "y0", "x1", "y1"))
    return df


def polys_b(spark: SparkSession, sf_dir: str, with_geometry: bool = True) -> DataFrame:
    df = fixture_df(spark, sf_dir, "polys_b")
    if with_geometry:
        df = df.withColumn("geometry", st_rect("x0", "y0", "x1", "y1"))
    return df


def _lshape_wkb_udf():
    """Pandas UDF building the L-shaped (optionally holed) Polygon WKB.

    Constructed lazily (not at import) so importing fixtures stays
    session-free; the closure captures only module constants."""
    from pyspark.sql import functions as F

    from .geometry import wkb as W

    big, arm, h0, h1 = L_BIG, L_ARM, L_HOLE0, L_HOLE1

    @F.pandas_udf("binary")
    def _build(ox: pd.Series, oy: pd.Series, has_hole: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for x, y, h in zip(ox, oy, has_hole):
            ring = np.array(
                [
                    [x, y],
                    [x + big, y],
                    [x + big, y + arm],
                    [x + arm, y + arm],
                    [x + arm, y + big],
                    [x, y + big],
                    [x, y],
                ],
                dtype="<f8",
            )
            rings = [ring]
            if int(h):
                rings.append(
                    np.array(
                        [
                            [x + h0, y + h0],
                            [x + h1, y + h0],
                            [x + h1, y + h1],
                            [x + h0, y + h1],
                            [x + h0, y + h0],
                        ],
                        dtype="<f8",
                    )
                )
            out.append(W.polygon_wkb(rings))
        return pd.Series(out)

    return _build


def cpolys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen BELOW the WKB derivation: the layer scans as one file, so
    # without it the Arrow L-shape builder (and everything fused into
    # that first stage) runs on one task
    from .parallelism import widen

    df = widen(fixture_df(spark, sf_dir, "cpolys"))
    return df.withColumn("geometry", _lshape_wkb_udf()("ox", "oy", "has_hole"))


def cpolys_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parallelism import widen

    df = widen(fixture_df(spark, sf_dir, "cpolys_b"))
    return df.withColumn("geometry", _lshape_wkb_udf()("ox", "oy", "has_hole"))


def mpoly_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixture_df(spark, sf_dir, "mpoly_parts")


def mpolys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assembled multi-part features: one row per nation id with a real
    MultiPolygon WKB geometry built from its rectangle parts (exercises
    the decode->explode path end-to-end).

    Assembled DISTRIBUTEDLY via a grouped-map: the previous driver-side
    ``createDataFrame(pandas)`` build became a pickled python-RDD scan
    that re-spawned Python workers and cost ~5 s on EVERY downstream
    action — the Arrow grouped-map path stays warm. ``coalesce(1)``
    afterwards: 25-49 rows across 32 partitions would cost 32 Python
    workers per downstream UDF stage."""
    import numpy as np

    from .geometry import wkb as W

    parts = mpoly_parts(spark, sf_dir)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("part_idx")
        rings = [
            [
                np.array(
                    [
                        [r.x0, r.y0],
                        [r.x1, r.y0],
                        [r.x1, r.y1],
                        [r.x0, r.y1],
                        [r.x0, r.y0],
                    ],
                    dtype="<f8",
                )
            ]
            for r in pdf.itertuples()
        ]
        first = pdf.iloc[0]
        return pd.DataFrame(
            {
                "id": [int(first.id)],
                "code": [str(first.code)],
                "n_parts": [int(first.n_parts)],
                "geometry": [W.multipolygon_wkb(rings)],
            }
        )

    return (
        parts.groupBy("id")
        .applyInPandas(
            assemble,
            schema="id bigint, code string, n_parts int, geometry binary",
        )
        .coalesce(1)
    )


def road_verts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixture_df(spark, sf_dir, "road_verts")


def road_b_verts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixture_df(spark, sf_dir, "road_b_verts")
