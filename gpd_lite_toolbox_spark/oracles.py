"""DuckDB oracle SQL for every oracle-checkable query in __spark_entry__.

Each SQL string runs on DuckDB 1.0 (no spatial extension — unavailable in
this environment) against the driver's parquet views, re-deriving the
spatial fixtures via the SAME dialect-shared SQL Spark uses
(fixtures.py), then expressing the operator's semantics in closed-form
coordinate arithmetic. Mirrors are written expression-by-expression
against the Spark implementations so results are bit-identical (see
fixtures.py for the integer-valued-double convention that makes sums
order-independent).
"""

from __future__ import annotations

from .fixtures import N32 as _N32  # 32-row literal index table
from .fixtures import oracle_ctes

GRID_H = 8000.0

# Grid CTEs shared by make_grid / gridify oracles. Mirrors
# operators/grid.py: column-major cell ids from top-left, x0 = xmin +
# col*h, y1 = ymax - row*h, x1 = x0 + h, y0 = y1 - h, truncating int
# division for col (positive => floor).
_GRID_CTES = f"""
d AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax,
             MAX(y) AS ymax,
             CAST(CEIL((MAX(y) - MIN(y)) / {GRID_H}) AS BIGINT) AS nrows,
             CAST(CEIL((MAX(x) - MIN(x)) / {GRID_H}) AS BIGINT) AS ncols
      FROM points),
n32 AS {_N32},
nums AS (SELECT CAST(a.n * 32 + b.n AS BIGINT) AS cell_id
         FROM n32 a CROSS JOIN n32 b),
grid AS (SELECT cell_id,
                cell_id % nrows AS row,
                CAST(FLOOR(CAST(cell_id AS DOUBLE) / CAST(nrows AS DOUBLE))
                     AS BIGINT) AS col,
                xmin + CAST(FLOOR(CAST(cell_id AS DOUBLE)
                                  / CAST(nrows AS DOUBLE)) AS BIGINT)
                     * {GRID_H} AS x0,
                (ymax - (cell_id % nrows) * {GRID_H}) - {GRID_H} AS y0,
                (xmin + CAST(FLOOR(CAST(cell_id AS DOUBLE)
                                   / CAST(nrows AS DOUBLE)) AS BIGINT)
                      * {GRID_H}) + {GRID_H} AS x1,
                ymax - (cell_id % nrows) * {GRID_H} AS y1
         FROM nums CROSS JOIN d
         WHERE cell_id < nrows * ncols)
"""

MAKE_GRID = f"""
WITH {oracle_ctes('points')}, {_GRID_CTES}
SELECT cell_id, row, col, x0, y0, x1, y1 FROM grid
"""

GRIDIFY_STATS = f"""
WITH {oracle_ctes('points')}, {_GRID_CTES},
pts AS (
  SELECT CAST(LEAST(FLOOR((x - xmin) / {GRID_H}),
                    CAST(ncols - 1 AS DOUBLE)) * nrows
            + LEAST(FLOOR((ymax - y) / {GRID_H}),
                    CAST(nrows - 1 AS DOUBLE)) AS BIGINT) AS cell_id,
         t_obs
  FROM points CROSS JOIN d),
agg AS (
  SELECT cell_id,
         CAST(MIN(t_obs) AS DOUBLE) AS v_min,
         CAST(SUM(t_obs) AS DOUBLE) / COUNT(t_obs) AS v_mean,
         CAST(MAX(t_obs) AS DOUBLE) AS v_max,
         CAST(SUM(t_obs) AS DOUBLE) AS v_sum,
         SQRT(CAST(SUM(t_obs * t_obs) AS DOUBLE) / COUNT(t_obs)
              - (CAST(SUM(t_obs) AS DOUBLE) / COUNT(t_obs))
              * (CAST(SUM(t_obs) AS DOUBLE) / COUNT(t_obs))) AS v_std
  FROM pts GROUP BY cell_id)
SELECT g.cell_id, g.row, g.col, g.x0, g.y0, g.x1, g.y1,
       COALESCE(ROUND(a.v_min, 6), -1.0) AS t_obs_min,
       COALESCE(ROUND(a.v_mean, 6), -1.0) AS t_obs_mean,
       COALESCE(ROUND(a.v_max, 6), -1.0) AS t_obs_max,
       COALESCE(ROUND(a.v_sum, 6), -1.0) AS t_obs_sum,
       COALESCE(ROUND(a.v_std, 6), -1.0) AS t_obs_std
FROM grid g LEFT JOIN agg a ON g.cell_id = a.cell_id
"""

MEAN_COORDS_GLOBAL = f"""
WITH {oracle_ctes('points')}
SELECT ROUND(SUM(x * weight) / SUM(weight), 6) AS x,
       ROUND(SUM(y * weight) / SUM(weight), 6) AS y,
       ROUND(CAST(SUM(weight) AS DOUBLE), 6) AS weight
FROM points
"""

MEAN_COORDS_BY_CAT = f"""
WITH {oracle_ctes('points')}
SELECT cat,
       ROUND(SUM(x * weight) / SUM(weight), 6) AS x,
       ROUND(SUM(y * weight) / SUM(weight), 6) AS y,
       ROUND(CAST(SUM(weight) AS DOUBLE), 6) AS weight
FROM points GROUP BY cat
"""

# ---------------------------------------------------------------- joins
# Rectangle layers make every spatial predicate closed-form interval
# arithmetic — exactly what the engine's pair-stats kernel computes.

INTERSECTS_PAIRS = f"""
WITH {oracle_ctes('polys')}
SELECT a.id AS left_id, b.id AS right_id
FROM polys a, polys b
WHERE a.x0 <= b.x1 AND b.x0 <= a.x1 AND a.y0 <= b.y1 AND b.y0 <= a.y1
"""

FTOUCHES_PAIRS = f"""
WITH {oracle_ctes('polys')}
SELECT a.id AS left_id, b.id AS right_id
FROM polys a, polys b
WHERE a.x0 <= b.x1 + 10.0 AND b.x0 - 10.0 <= a.x1
  AND a.y0 <= b.y1 + 10.0 AND b.y0 - 10.0 <= a.y1
"""

BORDERS = f"""
WITH {oracle_ctes('polys')},
pair AS (
  SELECT a.id AS left_id, b.id AS right_id,
         a.code || '-' || b.code AS code,
         LEAST(a.x1 + 1.0, b.x1 + 1.0)
             - GREATEST(a.x0 - 1.0, b.x0 - 1.0) AS w,
         LEAST(a.y1 + 1.0, b.y1 + 1.0)
             - GREATEST(a.y0 - 1.0, b.y0 - 1.0) AS h
  FROM polys a, polys b WHERE a.id <> b.id)
SELECT code, left_id, right_id,
       ROUND(CASE WHEN w = 0 OR h = 0 THEN w + h
                  ELSE 2.0 * (w + h) END, 6) AS length
FROM pair WHERE w >= 0 AND h >= 0
"""

SHARED_BORDER = f"""
WITH {oracle_ctes('polys')},
touch AS (
  SELECT a.id AS left_id, b.id AS right_id,
         LEAST(a.x1 + 0.01, b.x1) - GREATEST(a.x0 - 0.01, b.x0) AS w,
         LEAST(a.y1 + 0.01, b.y1) - GREATEST(a.y0 - 0.01, b.y0) AS h
  FROM polys a, polys b
  WHERE a.id <> b.id
    AND a.x0 <= b.x1 AND b.x0 <= a.x1
    AND a.y0 <= b.y1 AND b.y0 <= a.y1)
SELECT left_id, right_id,
       ROUND(CASE WHEN w = 0 OR h = 0 THEN w + h
                  ELSE 2.0 * (w + h) END, 6) AS shared_border_len
FROM touch
"""

INTERSECTION_PART = f"""
WITH {oracle_ctes('polys', 'polys_b')},
pair AS (
  SELECT a.id AS left_id, b.id AS right_id,
         LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) AS w,
         LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) AS h,
         (a.x1 - a.x0) * (a.y1 - a.y0) AS a_area
  FROM polys a, polys_b b)
SELECT left_id, right_id, ROUND(w * h / a_area, 6) AS part
FROM pair WHERE w > 0 AND h > 0
"""

# ------------------------------------------------------- explode/dissolve
MULTI_TO_SINGLE = f"""
WITH {oracle_ctes('mpoly_parts')}
SELECT id, code, part_idx,
       (x1 - x0) * (y1 - y0) AS area,
       (x0 + x1) / 2.0 AS cx,
       (y0 + y1) / 2.0 AS cy
FROM mpoly_parts
"""

DUMB_MULTI_TO_SINGLE = f"""
WITH {oracle_ctes('mpoly_parts')}
SELECT id, code,
       (x1 - x0) * (y1 - y0) AS area,
       (x0 + x1) / 2.0 AS cx,
       (y0 + y1) / 2.0 AS cy
FROM mpoly_parts WHERE part_idx = 0
"""

DISSOLVE_COUNTRY = f"""
WITH {oracle_ctes('polys')}
SELECT country,
       CAST(COUNT(*) AS INT) AS n_parts,
       ROUND(SUM((x1 - x0) * (y1 - y0)), 6) AS area,
       'U' || CAST(MIN(id) AS STRING) AS code
FROM polys GROUP BY country
"""

RANDOM_PTS = f"""
WITH {oracle_ctes('polys')},
coef3 AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2)
SELECT id, CAST(j AS BIGINT) AS k,
       ROUND(x0 + (CAST((id * 2654435761 + j * 97561) % 1000003 AS DOUBLE)
                   / 1000003.0) * (x1 - x0), 6) AS px,
       ROUND(y0 + (CAST((id * 2246822519 + j * 40503) % 1000003 AS DOUBLE)
                   / 1000003.0) * (y1 - y0), 6) AS py
FROM polys CROSS JOIN coef3
"""

# ------------------------------------------------------------------ snap
SNAP_POINTS = f"""
WITH {oracle_ctes('points', 'road_verts')},
cand AS (
  SELECT p.id, p.x, p.y,
         v.id AS snapped_id, v.vidx AS snapped_vidx,
         v.vx AS snap_x, v.vy AS snap_y,
         SQRT((p.x - v.vx) * (p.x - v.vx)
              + (p.y - v.vy) * (p.y - v.vy)) AS d
  FROM points p, road_verts v
  WHERE v.vx BETWEEN p.x - 500.0 AND p.x + 500.0
    AND v.vy BETWEEN p.y - 500.0 AND p.y + 500.0),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY id ORDER BY d, snapped_id, snapped_vidx) AS rn
  FROM cand WHERE d <= 500.0)
SELECT id, x, y, snapped_id, snapped_vidx, snap_x, snap_y,
       ROUND(d, 6) AS snap_dist
FROM ranked WHERE rn = 1
"""

# --------------------------------------------------------- native kernels
HAV_DIST = f"""
WITH {oracle_ctes('points')},
ll AS (SELECT id, x / 1000.0 - 50.0 AS lon, y / 1000.0 - 40.0 AS lat
       FROM points WHERE id % 37 = 0),
pr AS (SELECT a.id AS id, a.lon AS lon1, a.lat AS lat1,
              b.lon AS lon2, b.lat AS lat2
       FROM ll a JOIN ll b ON b.id = a.id + 37),
t AS (SELECT id,
             SIN((RADIANS(lat2) - RADIANS(lat1)) / 2) AS sdlat,
             SIN((RADIANS(lon2) - RADIANS(lon1)) / 2) AS sdlon,
             COS(RADIANS(lat1)) AS c1, COS(RADIANS(lat2)) AS c2
      FROM pr)
SELECT id,
       ROUND(2.0 * 6367.0 * ASIN(SQRT(
           sdlat * sdlat + c1 * c2 * sdlon * sdlon)), 3) AS dist_km
FROM t
"""

MATCH_LINES = f"""
WITH {oracle_ctes('road_verts', 'road_b_verts')},
d AS (
  SELECT a.id AS id_a, b.id AS id_b,
         MAX(SQRT((a.vx - b.vx) * (a.vx - b.vx)
                  + (a.vy - b.vy) * (a.vy - b.vy))) AS fh
  FROM road_verts a JOIN road_b_verts b ON a.vidx = b.vidx
  GROUP BY a.id, b.id),
f AS (SELECT id_a, id_b, fh,
             RANK() OVER (PARTITION BY id_a ORDER BY fh) AS rk
      FROM d WHERE fh < 50.0)
SELECT id_a, id_b, ROUND(fh, 6) AS fh_dist FROM f WHERE rk = 1
"""

# Generalized chkl-subsampled match over the ragged vertex tables:
# mirrors operators/lines.py match_lines — chkl = floor((2L+S)/(2S))
# (half-up round of L/S), longer-side vertex i pairs with shorter-side
# i // chkl for i < chkl*S. No candidate pruning here: the Spark bbox
# prune is lossless (fh < limit forces expanded-bbox overlap), so the
# full pair space filtered on fh < limit is the same relation.
MATCH_LINES_RAGGED = f"""
WITH {oracle_ctes('road_ragged_verts', 'road_ragged_b_verts')},
ca AS (SELECT id, COUNT(*) AS nv FROM road_ragged_verts GROUP BY id),
cb AS (SELECT id, COUNT(*) AS nv FROM road_ragged_b_verts GROUP BY id),
av AS (SELECT v.id, v.vidx, v.vx, v.vy, c.nv
       FROM road_ragged_verts v JOIN ca c ON v.id = c.id),
bv AS (SELECT v.id, v.vidx, v.vx, v.vy, c.nv
       FROM road_ragged_b_verts v JOIN cb c ON v.id = c.id),
p1 AS (SELECT a.id AS id_a, b.id AS id_b,
              a.vx AS ax, a.vy AS ay, b.vx AS bx, b.vy AS by
       FROM av a JOIN bv b
         ON a.nv >= b.nv
        AND a.vidx < CAST(FLOOR((2 * a.nv + b.nv) / (2.0 * b.nv))
                          AS BIGINT) * b.nv
        AND b.vidx = CAST(FLOOR(a.vidx
                / FLOOR((2 * a.nv + b.nv) / (2.0 * b.nv))) AS BIGINT)),
p2 AS (SELECT a.id AS id_a, b.id AS id_b,
              a.vx AS ax, a.vy AS ay, b.vx AS bx, b.vy AS by
       FROM bv b JOIN av a
         ON b.nv > a.nv
        AND b.vidx < CAST(FLOOR((2 * b.nv + a.nv) / (2.0 * a.nv))
                          AS BIGINT) * a.nv
        AND a.vidx = CAST(FLOOR(b.vidx
                / FLOOR((2 * b.nv + a.nv) / (2.0 * a.nv))) AS BIGINT)),
d AS (SELECT id_a, id_b,
             MAX(SQRT((ax - bx) * (ax - bx) + (ay - by) * (ay - by))) AS fh
      FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
      GROUP BY id_a, id_b),
f AS (SELECT id_a, id_b, fh,
             RANK() OVER (PARTITION BY id_a ORDER BY fh) AS rk
      FROM d WHERE fh < 120.0)
SELECT id_a, id_b, ROUND(fh, 6) AS fh_dist FROM f WHERE rk = 1
"""

BEARING = f"""
WITH {oracle_ctes('road_verts')},
ends AS (
  SELECT a.id, a.vx AS x0, a.vy AS y0, b.vx AS x1, b.vy AS y1
  FROM road_verts a JOIN road_verts b ON a.id = b.id
  WHERE a.vidx = 0 AND b.vidx = 3 AND a.id % 13 = 0),
raw AS (SELECT id, DEGREES(ATAN2(x1 - x0, y1 - y0)) AS b FROM ends)
SELECT id,
       ROUND(CASE WHEN b < 0 THEN b + 360.0 ELSE b END, 3) AS bearing,
       ROUND(CASE WHEN (CASE WHEN b < 0 THEN b + 360.0 ELSE b END) > 180.0
                  THEN (CASE WHEN b < 0 THEN b + 360.0 ELSE b END) - 360.0
                  ELSE (CASE WHEN b < 0 THEN b + 360.0 ELSE b END)
             END, 3) AS bearing_180
FROM raw
"""

# ------------------------------------------------------------- text ops
# Mirrors of text/dedup.py and text/analysis.py — same md5-derived
# hashes, same replace-based counting, generated from the same constants.
from .text import dedup as _dd  # noqa: E402

_SIG_COLS = ", ".join(
    f"MIN(({_dd.MH_A[i]} * hv + {_dd.MH_B[i]}) % {_dd.MH_PRIME}) AS h{i}"
    for i in range(_dd.N_HASHES)
)

_SIG_EST = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
    for i in range(_dd.N_HASHES)
)
_SIG_MIN_EQ = -(-_dd.N_HASHES // 2)  # ceil(0.5 * N_HASHES), threshold 0.5
_ROWS = _dd.N_HASHES // _dd.N_BANDS
_BAND_SELECTS = " UNION ALL ".join(
    "SELECT id, {b} AS band, md5({key}) AS band_key FROM sig".format(
        b=b,
        key="||'_'||".join(
            f"CAST(h{b * _ROWS + r} AS STRING)" for r in range(_ROWS)
        ),
    )
    for b in range(_dd.N_BANDS)
)

_SHINGLE_CTE = f"""
sh AS (SELECT DISTINCT id, substr(text, CAST(pos AS INT), {_dd.SHINGLE_K}) AS shingle
       FROM corpus,
            UNNEST(range(1, GREATEST(length(text) - {_dd.SHINGLE_K - 1}, 1) + 1,
                         {_dd.SHINGLE_STRIDE})) AS u(pos))
"""

EXACT_DEDUP = f"""
WITH {oracle_ctes('corpus')}
SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(id) AS keep_id
FROM corpus WHERE text IS NOT NULL
GROUP BY md5(text) HAVING COUNT(*) > 1
"""

# whitespace token / stopword count expressions shared by the text
# family (TOKEN_STATS, QUALITY, QUALITY_FUNNEL, DEDUP_CANONICAL)
_NTOK = "CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) / 1 AS BIGINT) + 1"
_NSTOP = (
    "CAST((LENGTH(' '||text||' ') - LENGTH(REPLACE(' '||text||' ', ' the ', ''))) / 5 AS BIGINT)"
    " + CAST((LENGTH(' '||text||' ') - LENGTH(REPLACE(' '||text||' ', ' a ', ''))) / 3 AS BIGINT)"
)

# CTE chain shared by MINHASH_PAIRS and DUP_GROUPS (which wraps the
# final pair select as one more CTE and closes components over it)
_MINHASH_CTES = f"""{oracle_ctes('corpus')}, {_SHINGLE_CTE},
hv AS (SELECT id, shingle,
              CAST(('0x' || substr(md5(shingle), 1, 8))::UBIGINT AS BIGINT) AS hv
       FROM sh),
sig AS (SELECT id, {_SIG_COLS} FROM hv GROUP BY id),
bands AS ({_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.id < b.id),
-- signature prefilter (mirrors minhash_lsh_pairs): estimated Jaccard
-- = matching-minhash fraction must reach the threshold before the
-- shingle verify join
fcand AS (SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sig sa ON sa.id = c.id_a
          JOIN sig sb ON sb.id = c.id_b
          WHERE ({_SIG_EST}) >= {_SIG_MIN_EQ}),
inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM fcand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id)"""

_MINHASH_FINAL = """
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE ROUND(CAST(i.n_inter AS DOUBLE)
            / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE), 6) >= 0.5
"""

MINHASH_PAIRS = f"""
WITH {_MINHASH_CTES}
{_MINHASH_FINAL}
"""

# Dedup-threshold calibration curve (text/dedup.py
# near_dup_threshold_curve): cumulative pair counts at each candidate
# threshold over the SAME pair pipeline as MINHASH_PAIRS — pure
# composition, so the gate re-proves the shared CTEs plus the
# count-from-above bucketing. Zero-pair thresholds appear as 0 rows
# via the left join (COUNT of the nullable side).
NEAR_DUP_THRESHOLD_CURVE = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_FINAL}),
th AS (SELECT ROUND(0.5 + 0.05 * CAST(n AS DOUBLE), 2) AS threshold
       FROM (SELECT UNNEST(range(0, 11)) AS n))
SELECT t.threshold,
       CAST(COUNT(p.jaccard) AS BIGINT) AS n_pairs
FROM th t LEFT JOIN pairs p ON p.jaccard >= t.threshold
GROUP BY t.threshold
"""

# Index-backed incremental ingest (text/dedup.py write_minhash_index +
# ingest_near_dups): cross-membership near-dup pairs between the
# ingest batch (id % 13 = 0) and the indexed remainder. The engine
# consults only the persisted index; the oracle proves that equals the
# full-corpus pair computation restricted to cross-membership pairs —
# same bands, same prefilter, same exact verify.
INGEST_NEAR_DUPS = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_FINAL})
SELECT id_a, id_b, jaccard FROM pairs
WHERE (id_a % 13 = 0) <> (id_b % 13 = 0)
"""

# Duplicate CLUSTERS: the oracle derives components INDEPENDENTLY of
# the Spark implementation — a recursive-CTE reachability closure
# (min reachable id) instead of iterative label propagation. The CTE
# block and the component select are shared with DEDUP_CANONICAL so
# the two gates check ONE cluster semantics.
_WALK_CTES = f"""
pairs AS ({_MINHASH_FINAL}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM pairs),
walk(id, lbl) AS (
    SELECT id, id FROM corpus
    UNION
    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
)"""

_WALK_GROUPS = """
SELECT id, MIN(lbl) AS group_id,
       CAST(COUNT(*) OVER (PARTITION BY MIN(lbl)) AS BIGINT) AS group_size
FROM walk GROUP BY id"""

DUP_GROUPS = f"""
WITH RECURSIVE {_MINHASH_CTES},
{_WALK_CTES}
{_WALK_GROUPS}
"""

# Retention policy (text/dedup.py dedup_canonical): per duplicate
# cluster, keep the highest-quality member (ties by min id). Clusters
# re-derived by the recursive walk, quality re-derived relationally —
# both independently of the Spark implementation.
DEDUP_CANONICAL = f"""
WITH RECURSIVE {_MINHASH_CTES},
{_WALK_CTES},
g AS ({_WALK_GROUPS}),
st AS (SELECT id, LENGTH(text) AS n_chars, {_NTOK} AS n_tokens,
              {_NSTOP} AS n_stop,
              (LENGTH(text) - ({_NTOK} - 1)) / CAST({_NTOK} AS DOUBLE) AS atl
       FROM corpus),
qual AS (SELECT id,
       ROUND(((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) >= 0.01 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(atl, 6) >= 2.0 AND ROUND(atl, 6) <= 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0,
           6) AS quality
       FROM st),
r AS (SELECT g.group_id, g.id, g.group_size, q.quality,
             ROW_NUMBER() OVER (PARTITION BY g.group_id
                                ORDER BY q.quality DESC, g.id) AS rn
      FROM g JOIN qual q ON q.id = g.id)
SELECT group_id, id AS kept_id, group_size, quality AS kept_quality
FROM r WHERE rn = 1
"""

# n-gram Jaccard: document-frequency cap for candidate generation —
# shared constant so the Spark query and this oracle prune identically
NGRAM_MAX_DF = 40

# hashed-shingle variant of _SHINGLE_CTE (mirrors shingles(hashed=True):
# 60-bit md5-prefix computed BEFORE the distinct, op-for-op)
_SHINGLE_HASHED_CTE = f"""
shh AS (SELECT DISTINCT id,
        CAST(('0x' || substr(md5(substr(text, CAST(pos AS INT), {_dd.SHINGLE_K})), 1, 15))::UBIGINT
             AS BIGINT) AS shingle
        FROM corpus,
             UNNEST(range(1, GREATEST(length(text) - {_dd.SHINGLE_K - 1}, 1) + 1,
                          {_dd.SHINGLE_STRIDE})) AS u(pos))
"""

# Decontamination: train/benchmark split of the corpus fixture by
# id % 13; a train doc is flagged with the count of its distinct
# shingles that occur anywhere in the benchmark shingle dictionary.
DECONTAMINATE = f"""
WITH {oracle_ctes('corpus')}, {_SHINGLE_HASHED_CTE}
SELECT t.id, COUNT(*) AS n_hits
FROM (SELECT * FROM shh WHERE id % 13 <> 0) t
JOIN (SELECT DISTINCT shingle FROM shh WHERE id % 13 = 0) b
  ON b.shingle = t.shingle
GROUP BY t.id
"""

# Streaming decontamination over raw documents (the streaming source
# reads documents.parquet directly): same train/benchmark split and
# per-doc distinct-hit count as the stream-static + update-mode-agg
# pipeline emits.
STREAM_DECONTAMINATE = f"""
WITH dsh AS (SELECT DISTINCT doc_id,
        CAST(('0x' || substr(md5(substr(text, CAST(pos AS INT),
                                        {_dd.SHINGLE_K})), 1, 15))::UBIGINT
             AS BIGINT) AS shingle
        FROM documents,
             UNNEST(range(1, GREATEST(length(text)
                                      - {_dd.SHINGLE_K - 1}, 1) + 1,
                          {_dd.SHINGLE_STRIDE})) AS u(pos))
SELECT t.doc_id, COUNT(*) AS n_hits
FROM (SELECT * FROM dsh WHERE doc_id % 13 <> 0) t
JOIN (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 13 = 0) b
  ON b.shingle = t.shingle
GROUP BY t.doc_id
"""

NGRAM_JACCARD = f"""
WITH {oracle_ctes('corpus')}, {_SHINGLE_HASHED_CTE}, sh AS (SELECT * FROM shh),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
gen AS (SELECT s.id, s.shingle FROM sh s
        JOIN dfreq d ON d.shingle = s.shingle
        WHERE d.df <= {NGRAM_MAX_DF}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM gen a JOIN gen b ON a.shingle = b.shingle
         WHERE a.id < b.id),
inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE ROUND(CAST(i.n_inter AS DOUBLE)
            / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE), 6) >= 0.5
"""

_SIM_SUMS = ", ".join(
    f"SUM(CAST(FLOOR(th / {1 << b}.0) AS BIGINT) % 2 * 2 - 1) AS s{b}"
    for b in range(_dd.SIMHASH_BITS)
)
_SIM_FP = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_dd.SIMHASH_BITS)
)

SIMHASH = f"""
WITH {oracle_ctes('corpus')},
toks AS (SELECT id, CAST(('0x' || substr(md5(t.tok), 1, 8))::UBIGINT AS BIGINT) AS th
         FROM corpus, UNNEST(string_split(text, ' ')) AS t(tok)),
sums AS (SELECT id, {_SIM_SUMS} FROM toks GROUP BY id)
SELECT id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM sums
"""

# Streaming banded near-dedup: the emitted key set equals the batch
# distinct LSH band keys of the per-document SimHash (2 x 16-bit
# bands over the 32-bit sketch), computed here over raw documents
# (the streaming source reads documents.parquet directly).
STREAM_NEAR_DEDUP = f"""
WITH toks AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(t.tok), 1, 8))::UBIGINT
                          AS BIGINT) AS th
              FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
sums AS (SELECT doc_id AS id, {_SIM_SUMS} FROM toks GROUP BY doc_id),
fp AS (SELECT CAST({_SIM_FP} AS BIGINT) AS sh FROM sums)
SELECT DISTINCT CAST(b.band AS INT) AS band,
       (f.sh >> (b.band * 16)) & 65535 AS band_key
FROM fp f CROSS JOIN (SELECT UNNEST([0, 1]) AS band) b
"""

TOKEN_STATS = f"""
WITH {oracle_ctes('corpus')}
SELECT id,
       LENGTH(text) AS n_chars,
       {_NTOK} AS n_tokens,
       {_NSTOP} AS n_stopwords,
       ROUND((LENGTH(text) - ({_NTOK} - 1)) / CAST({_NTOK} AS DOUBLE), 6)
           AS avg_token_len,
       ROUND(({_NSTOP}) / CAST({_NTOK} AS DOUBLE), 6) AS stopword_ratio
FROM corpus
"""

QUALITY = f"""
WITH {oracle_ctes('corpus')},
st AS (SELECT id, LENGTH(text) AS n_chars, {_NTOK} AS n_tokens,
              {_NSTOP} AS n_stop,
              (LENGTH(text) - ({_NTOK} - 1)) / CAST({_NTOK} AS DOUBLE) AS atl
       FROM corpus)
SELECT id,
       ROUND(((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) >= 0.01 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(atl, 6) >= 2.0 AND ROUND(atl, 6) <= 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0,
           6) AS quality
FROM st
"""

REPETITION_STATS = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, STRING_SPLIT(text, ' ') AS t FROM corpus),
bg AS (SELECT id,
              UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)),
                                    i -> t[i] || ' ' || t[i + 1])) AS bg
       FROM tk),
cnt AS (SELECT id, bg, COUNT(*) AS c FROM bg GROUP BY id, bg),
top AS (SELECT id, MAX(c) AS top_bigram_n FROM cnt GROUP BY id)
SELECT tk.id,
       CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
       ROUND(CAST(LEN(LIST_DISTINCT(tk.t)) AS DOUBLE) / LEN(tk.t), 6) AS ttr,
       COALESCE(top.top_bigram_n, 0) AS top_bigram_n,
       CASE WHEN LEN(tk.t) > 1
            THEN ROUND(CAST(COALESCE(top.top_bigram_n, 0) AS DOUBLE)
                       / (LEN(tk.t) - 1), 6)
            ELSE 0.0 END AS top_bigram_frac
FROM tk LEFT JOIN top ON top.id = tk.id
"""

def _occ(needle: str) -> str:
    pad = "' '||text||' '"
    return (
        f"CAST((LENGTH({pad}) - LENGTH(REPLACE({pad}, '{needle}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )

LANG_ID = f"""
WITH {oracle_ctes('corpus')},
c AS (SELECT id, {_NTOK} AS n_tokens,
             {_occ(' the ')} AS c_en,
             {_occ(' data ')} AS c_es,
             {_occ(' spark ')} AS c_zh
      FROM corpus)
SELECT id,
       CASE WHEN GREATEST(c_en, c_es, c_zh) = 0 THEN 'und'
            WHEN c_en = GREATEST(c_en, c_es, c_zh) THEN 'en'
            WHEN c_es = GREATEST(c_en, c_es, c_zh) THEN 'es'
            WHEN c_zh = GREATEST(c_en, c_es, c_zh) THEN 'zh'
            ELSE 'und' END AS pred_lang,
       ROUND(GREATEST(c_en, c_es, c_zh) / CAST(n_tokens AS DOUBLE), 6) AS score
FROM c
"""

# Composed cleaning pipeline: dedup survivors -> quality gate ->
# language routing -> per-language accounting (mirrors text/pipeline.py
# stage for stage).
CLEAN_CORPUS = f"""
WITH {oracle_ctes('corpus')},
h AS (SELECT id, text, md5(text) AS ch FROM corpus),
sv AS (SELECT id, text FROM (
         SELECT id, text,
                ROW_NUMBER() OVER (PARTITION BY ch ORDER BY id) AS rn
         FROM h) WHERE rn = 1),
st AS (SELECT id, text, LENGTH(text) AS n_chars, {_NTOK} AS n_tokens,
              {_NSTOP} AS n_stop,
              (LENGTH(text) - ({_NTOK} - 1)) / CAST({_NTOK} AS DOUBLE) AS atl
       FROM sv),
q AS (SELECT id, n_tokens,
             ROUND(((CASE WHEN n_chars >= 100 AND n_chars <= 20000
                          THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6)
                               >= 0.01 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN ROUND(atl, 6) >= 2.0 AND ROUND(atl, 6) <= 12.0
                          THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
      FROM st),
l AS (SELECT id,
             CASE WHEN GREATEST(c_en, c_es, c_zh) = 0 THEN 'und'
                  WHEN c_en = GREATEST(c_en, c_es, c_zh) THEN 'en'
                  WHEN c_es = GREATEST(c_en, c_es, c_zh) THEN 'es'
                  WHEN c_zh = GREATEST(c_en, c_es, c_zh) THEN 'zh'
                  ELSE 'und' END AS pred_lang
      FROM (SELECT id, {_occ(' the ')} AS c_en, {_occ(' data ')} AS c_es,
                   {_occ(' spark ')} AS c_zh
            FROM sv))
SELECT l.pred_lang, COUNT(*) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(SUM(q.quality), 6) AS sum_quality
FROM q JOIN l ON q.id = l.id
WHERE q.quality >= 0.666667
GROUP BY l.pred_lang
"""

FINGERPRINT = f"""
WITH {oracle_ctes('corpus')}
SELECT id, md5(LOWER(TRIM(text))) AS fingerprint FROM corpus
"""

# ------------------------------------------------------------------ ANN
_EMB_DIM = 64
_DOT_QN = " + ".join(
    f"CAST(q.embedding[{i + 1}] AS DOUBLE) * CAST(v.embedding[{i + 1}] AS DOUBLE)"
    for i in range(_EMB_DIM)
)
_NORM_SELF = " + ".join(
    f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)"
    for i in range(_EMB_DIM)
)

ANN_TOPK = f"""
WITH q AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
           FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM q, v),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
"""

def _ann_lsh_sql() -> str:
    """Full oracle for the LSH top-k: the hyperplane bucketing is
    deterministic (same md5-derived plane literals, same left-to-right
    float folds), so the 'approximate' operator is exactly checkable —
    candidate generation, scoring, and ranking all mirrored."""
    proj, bands = _lsh_oracle_parts()
    return f"""
WITH e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
           FROM embeddings),
proj AS (SELECT vec_id, {proj} FROM embeddings),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.vec_id % 50 = 0),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e v ON v.vec_id = c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
"""


# (assigned below, after _lsh_oracle_parts is defined)

# ----------------------------------------------- borders dedup / grid cut
FIND_BORDERS = f"""
WITH {oracle_ctes('polys')},
pair AS (
  SELECT a.id AS left_id, b.id AS right_id,
         a.code || '-' || b.code AS front,
         b.code || '-' || a.code AS front_r,
         LEAST(a.x1 + 1.0, b.x1 + 1.0)
             - GREATEST(a.x0 - 1.0, b.x0 - 1.0) AS w,
         LEAST(a.y1 + 1.0, b.y1 + 1.0)
             - GREATEST(a.y0 - 1.0, b.y0 - 1.0) AS h
  FROM polys a, polys b WHERE a.id <> b.id),
ok AS (SELECT *, ROW_NUMBER() OVER (
           PARTITION BY LEAST(left_id, right_id), GREATEST(left_id, right_id)
           ORDER BY left_id) AS rn
       FROM pair WHERE w >= 0 AND h >= 0)
SELECT front, front_r, left_id, right_id,
       ROUND(CASE WHEN w = 0 OR h = 0 THEN w + h
                  ELSE 2.0 * (w + h) END, 6) AS length
FROM ok WHERE rn = 1
"""

# Convex-hull evidence row: the oracle recomputes the hull with an
# INDEPENDENT algorithm — gift-wrapping as a recursive CTE (next hull
# vertex = the point no other point is left of, farthest on collinear
# ties) vs the engine's monotone chain. Integer fixture coordinates
# keep every cross-product sign exact in both engines. The id % 7
# subsample bounds the O(h * n^2) NOT EXISTS walk (full sf0.1 measured
# 123 s in DuckDB; the subsample is 2.6 s and the hull is equally
# real).
HULL_STATS = f"""
WITH RECURSIVE {oracle_ctes('points')},
pts AS (SELECT DISTINCT x, y FROM points WHERE id % 7 = 0),
walk(step, cx, cy, sx, sy) AS (
  SELECT 0, x, y, x, y FROM (SELECT x, y FROM pts ORDER BY y, x LIMIT 1)
  UNION ALL
  SELECT w.step + 1, q.x, q.y, w.sx, w.sy
  FROM walk w JOIN pts q ON (q.x <> w.cx OR q.y <> w.cy)
  WHERE (w.step = 0 OR w.cx <> w.sx OR w.cy <> w.sy)
    AND NOT EXISTS (
      SELECT 1 FROM pts r
      WHERE (r.x <> w.cx OR r.y <> w.cy) AND (r.x <> q.x OR r.y <> q.y)
        AND ( (q.x - w.cx) * (r.y - w.cy)
              - (q.y - w.cy) * (r.x - w.cx) > 0
              OR ( (q.x - w.cx) * (r.y - w.cy)
                   - (q.y - w.cy) * (r.x - w.cx) = 0
                   AND (r.x - w.cx) * (q.x - w.cx)
                       + (r.y - w.cy) * (q.y - w.cy) > 0
                   AND (r.x - w.cx) * (r.x - w.cx)
                       + (r.y - w.cy) * (r.y - w.cy)
                     > (q.x - w.cx) * (q.x - w.cx)
                       + (q.y - w.cy) * (q.y - w.cy) ) )
    )
),
closed AS (SELECT step, cx, cy FROM walk),
edges AS (SELECT a.cx AS x1, a.cy AS y1, b.cx AS x2, b.cy AS y2
          FROM closed a JOIN closed b ON b.step = a.step + 1)
SELECT (SELECT COUNT(*) - 1 FROM closed) AS n_vertices,
       ROUND(ABS(SUM(x1 * y2 - x2 * y1)) / 2.0, 6) AS hull_area,
       ROUND(SUM(SQRT((x2 - x1) * (x2 - x1)
                      + (y2 - y1) * (y2 - y1))), 6) AS hull_perimeter
FROM edges
"""

_PGRID_H = GRID_H
GRID_CUT = f"""
WITH {oracle_ctes('polys')},
d AS (SELECT MIN(x0) AS xmin, MIN(y0) AS ymin, MAX(x1) AS xmax,
             MAX(y1) AS ymax,
             CAST(CEIL((MAX(y1) - MIN(y0)) / {_PGRID_H}) AS BIGINT) AS nrows,
             CAST(CEIL((MAX(x1) - MIN(x0)) / {_PGRID_H}) AS BIGINT) AS ncols
      FROM polys),
n32 AS {_N32},
nums AS (SELECT CAST(a.n * 32 + b.n AS BIGINT) AS cell_id
         FROM n32 a CROSS JOIN n32 b),
grid AS (SELECT cell_id,
                xmin + CAST(FLOOR(CAST(cell_id AS DOUBLE)
                                  / CAST(nrows AS DOUBLE)) AS BIGINT)
                     * {_PGRID_H} AS x0,
                (ymax - (cell_id % nrows) * {_PGRID_H}) - {_PGRID_H} AS y0,
                (xmin + CAST(FLOOR(CAST(cell_id AS DOUBLE)
                                   / CAST(nrows AS DOUBLE)) AS BIGINT)
                      * {_PGRID_H}) + {_PGRID_H} AS x1,
                ymax - (cell_id % nrows) * {_PGRID_H} AS y1
         FROM nums CROSS JOIN d
         WHERE cell_id < nrows * ncols),
pair AS (
  SELECT g.cell_id, g.x0, g.y0, g.x1, g.y1,
         LEAST(g.x1, p.x1) - GREATEST(g.x0, p.x0) AS w,
         LEAST(g.y1, p.y1) - GREATEST(g.y0, p.y0) AS h
  FROM grid g, polys p)
SELECT cell_id, x0, y0, x1, y1, ROUND(SUM(w * h), 6) AS clip_area
FROM pair WHERE w > 0 AND h > 0
GROUP BY cell_id, x0, y0, x1, y1
"""


# Cut-by-convex-hull (operators/grid.py make_grid_cut_hull): the FULL
# geometry pipeline replayed bit-for-bit —
#   1. hull: gift-wrapping from the lexicographic-min point walking CCW
#      (the engine's monotone chain emits exactly that ring: np.unique
#      sorts lexicographically and lower+upper chains start there).
#      Integer fixture coordinates make every cross product / collinear
#      tie EXACT, so both algorithms produce the identical vertex
#      sequence. The quad prefilter (points strictly inside the
#      4-extreme-point quadrilateral can never be hull vertices — an
#      exact integer test) bounds the O(h*n^2) NOT EXISTS walk.
#   2. clip: Sutherland-Hodgman as a recursive CTE over hull edges,
#      state = the polygon as a LIST(STRUCT(x,y)); the lambda writes
#      the IDENTICAL expression trees as kernels.clip_poly_convex
#      (cross signs with >= 0, t = cross(edge, a-prev)/cross(edge, d),
#      isect = prev + t*d) — first-generation intersections are exact
#      rationals of integers, later generations are the same IEEE op
#      sequence, so every vertex is bit-identical.
#   3. area: sequential shoelace fold relative to the first vertex via
#      list_reduce — mirroring grid.py _seq_ring_area term for term
#      (ring_signed_area's np.dot/BLAS accumulation order would not be
#      replayable, which is why the kernel switched).
# The gated value is clip_frac = area/height² (≤ 1): rounding the raw
# ~1e7-magnitude area to 6 decimals exceeds DuckDB's double-round
# accuracy at that scale (measured: 1 misround in 337 cells), while
# both engines round the ≤1 fraction exactly.
def _grid_cut_hull_sql(h: float = GRID_H) -> str:
    ax, ay = "hl[c.i + 1].x", "hl[c.i + 1].y"
    bx, by = "hl[1 + ((c.i + 1) % hn)].x", "hl[1 + ((c.i + 1) % hn)].y"
    ex, ey = f"({bx} - {ax})", f"({by} - {ay})"
    prev = "c.poly[CASE WHEN j = 1 THEN len(c.poly) ELSE j - 1 END]"
    cur = "c.poly[j]"

    def inside(p: str) -> str:
        return f"({ex} * ({p}.y - {ay}) - {ey} * ({p}.x - {ax}) >= 0)"

    dx = f"({cur}.x - {prev}.x)"
    dy = f"({cur}.y - {prev}.y)"
    t = (
        f"(({ex} * ({ay} - {prev}.y) - {ey} * ({ax} - {prev}.x))"
        f" / ({ex} * {dy} - {ey} * {dx}))"
    )
    isect = (
        "{'x': " + prev + ".x + " + t + " * " + dx + ","
        " 'y': " + prev + ".y + " + t + " * " + dy + "}"
    )
    shoelace = (
        "list_reduce(list_transform(range(1, len(poly) + 1), j ->"
        " (poly[j].x - poly[1].x)"
        " * (poly[1 + (j % len(poly))].y - poly[1].y)"
        " - (poly[j].y - poly[1].y)"
        " * (poly[1 + (j % len(poly))].x - poly[1].x)),"
        " (a, b) -> a + b)"
    )
    return f"""
WITH RECURSIVE {oracle_ctes('points')},
pts AS (SELECT DISTINCT x, y FROM points),
ext AS (SELECT MIN(x+y) AS m1, MAX(x-y) AS m2,
               MAX(x+y) AS m3, MIN(x-y) AS m4 FROM pts),
q1 AS (SELECT x, y FROM pts, ext WHERE x+y = m1 ORDER BY x, y LIMIT 1),
q2 AS (SELECT x, y FROM pts, ext WHERE x-y = m2 ORDER BY x, y LIMIT 1),
q3 AS (SELECT x, y FROM pts, ext WHERE x+y = m3 ORDER BY x, y LIMIT 1),
q4 AS (SELECT x, y FROM pts, ext WHERE x-y = m4 ORDER BY x, y LIMIT 1),
cand AS (
  SELECT p.x, p.y FROM pts p, q1, q2, q3, q4
  WHERE NOT (
        (q2.x - q1.x) * (p.y - q1.y) - (q2.y - q1.y) * (p.x - q1.x) > 0
    AND (q3.x - q2.x) * (p.y - q2.y) - (q3.y - q2.y) * (p.x - q2.x) > 0
    AND (q4.x - q3.x) * (p.y - q3.y) - (q4.y - q3.y) * (p.x - q3.x) > 0
    AND (q1.x - q4.x) * (p.y - q4.y) - (q1.y - q4.y) * (p.x - q4.x) > 0
  )),
walk(step, cx, cy, sx, sy) AS (
  SELECT 0, x, y, x, y FROM (SELECT x, y FROM cand ORDER BY x, y LIMIT 1)
  UNION ALL
  SELECT w.step + 1, q.x, q.y, w.sx, w.sy
  FROM walk w JOIN cand q ON (q.x <> w.cx OR q.y <> w.cy)
  WHERE (w.step = 0 OR w.cx <> w.sx OR w.cy <> w.sy)
    AND NOT EXISTS (
      SELECT 1 FROM cand r
      WHERE (r.x <> w.cx OR r.y <> w.cy) AND (r.x <> q.x OR r.y <> q.y)
        AND ( (q.x - w.cx) * (r.y - w.cy)
              - (q.y - w.cy) * (r.x - w.cx) < 0
              OR ( (q.x - w.cx) * (r.y - w.cy)
                   - (q.y - w.cy) * (r.x - w.cx) = 0
                   AND (r.x - w.cx) * (q.x - w.cx)
                       + (r.y - w.cy) * (q.y - w.cy) > 0
                   AND (r.x - w.cx) * (r.x - w.cx)
                       + (r.y - w.cy) * (r.y - w.cy)
                     > (q.x - w.cx) * (q.x - w.cx)
                       + (q.y - w.cy) * (q.y - w.cy) ) )
    )
),
hull AS (SELECT list({{'x': cx, 'y': cy}} ORDER BY step) AS hl,
                COUNT(*) AS hn
         FROM walk WHERE step < (SELECT MAX(step) FROM walk)),
{_GRID_CTES.strip().lstrip()},
clip(cell_id, row, col, i, poly) AS (
  SELECT cell_id, row, col, 0,
         [{{'x': x0, 'y': y0}}, {{'x': x1, 'y': y0}},
          {{'x': x1, 'y': y1}}, {{'x': x0, 'y': y1}}]
  FROM grid
  UNION ALL
  SELECT c.cell_id, c.row, c.col, c.i + 1,
    flatten(list_transform(range(1, len(c.poly) + 1), j ->
      CASE WHEN {inside(cur)} <> {inside(prev)}
      THEN [{isect}] ELSE [] END
      || CASE WHEN {inside(cur)} THEN [{cur}] ELSE [] END))
  FROM clip c, hull
  WHERE c.i < hn AND len(c.poly) > 0
),
fin AS (SELECT cell_id, row, col, poly FROM clip, hull WHERE i = hn),
area AS (SELECT cell_id, row, col,
                ABS(0.5 * CASE WHEN len(poly) < 3 THEN 0.0
                          ELSE {shoelace} END) AS a
         FROM fin)
SELECT cell_id, row, col,
       ROUND(a / ({h} * {h}), 6) AS clip_frac
FROM area WHERE ROUND(a, 6) > 0
"""


GRID_CUT_HULL = _grid_cut_hull_sql()

# True-union dissolve over the OVERLAPPING combined mosaic (polys +
# half-shifted polys_b, grouped by country): Spark measures the area on
# the stitched union rings; this oracle computes it independently by
# slab decomposition — per country, distinct x/y breakpoints form slabs
# and a slab counts iff SOME member rect covers it. Overlap counted
# once on both sides, by different algorithms.
DISSOLVE_UNION = f"""
WITH {oracle_ctes('polys', 'polys_b')},
rects AS (
  SELECT country, x0, y0, x1, y1 FROM polys
  UNION ALL
  SELECT 'CTY' || CAST(id % 8 AS STRING) AS country, x0, y0, x1, y1
  FROM polys_b),
xs AS (SELECT DISTINCT country, x0 AS x FROM rects
       UNION SELECT DISTINCT country, x1 FROM rects),
xsl AS (SELECT country, x AS x_lo,
               LEAD(x) OVER (PARTITION BY country ORDER BY x) AS x_hi
        FROM xs),
ys AS (SELECT DISTINCT country, y0 AS y FROM rects
       UNION SELECT DISTINCT country, y1 FROM rects),
ysl AS (SELECT country, y AS y_lo,
               LEAD(y) OVER (PARTITION BY country ORDER BY y) AS y_hi
        FROM ys),
slabs AS (SELECT a.country, a.x_lo, a.x_hi, b.y_lo, b.y_hi
          FROM xsl a JOIN ysl b ON a.country = b.country
          WHERE a.x_hi IS NOT NULL AND b.y_hi IS NOT NULL),
cov AS (SELECT s.country, (s.x_hi - s.x_lo) * (s.y_hi - s.y_lo) AS sl_area
        FROM slabs s
        WHERE EXISTS (SELECT 1 FROM rects r
                      WHERE r.country = s.country
                        AND r.x0 <= s.x_lo AND r.x1 >= s.x_hi
                        AND r.y0 <= s.y_lo AND r.y1 >= s.y_hi))
SELECT country, ROUND(CAST(SUM(sl_area) AS DOUBLE), 6) AS area
FROM cov GROUP BY country
"""

# CRS reprojection: spherical Web Mercator (EPSG:4326 -> EPSG:3857)
# over lon/lat derived from the points fixture. Rounded to 3 (mm on
# ~2e7-meter values): cross-engine libm tan/ln agree to ~1e-8 here,
# far inside the rounding margin.
CRS_MERCATOR = f"""
WITH {oracle_ctes('points')},
ll AS (SELECT id,
              x / 100000.0 * 360.0 - 180.0 AS lon,
              y / 100000.0 * 170.0 - 85.0 AS lat
       FROM points)
SELECT id,
       ROUND(6378137.0 * RADIANS(lon), 3) AS mx,
       ROUND(6378137.0 * LN(TAN(PI() / 4.0 + RADIANS(lat) / 2.0)), 3) AS my
FROM ll
"""

# ------------------------------------------------------------- isochrone
ISOCHRONE_BANDS = f"""
WITH {oracle_ctes('osrm_matrix')},
pts AS (SELECT x, y, time_s / 3600.0 AS time_h
        FROM osrm_matrix
        WHERE time_s <> 2147483647 AND time_s <> 0),
d AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
             CAST(CEIL((MAX(y) - MIN(y)) / {_PGRID_H}) AS BIGINT) AS nrows,
             CAST(CEIL((MAX(x) - MIN(x)) / {_PGRID_H}) AS BIGINT) AS ncols
      FROM pts),
b AS (SELECT CAST(FLOOR(time_h / 0.25) AS BIGINT) AS band,
             CAST(LEAST(FLOOR((x - xmin) / {_PGRID_H}),
                        CAST(ncols - 1 AS DOUBLE)) * nrows
                + LEAST(FLOOR((ymax - y) / {_PGRID_H}),
                        CAST(nrows - 1 AS DOUBLE)) AS BIGINT) AS cell_id,
             time_h
      FROM pts CROSS JOIN d),
per_cell AS (SELECT band, cell_id, COUNT(*) AS n_pts, MIN(time_h) AS t_min
             FROM b GROUP BY band, cell_id)
SELECT band,
       ROUND(MIN(t_min), 6) AS t_min_h,
       COUNT(*) AS n_cells,
       CAST(SUM(n_pts) AS BIGINT) AS n_pts,
       ROUND(CAST(COUNT(*) * {_PGRID_H * _PGRID_H} AS DOUBLE), 6) AS area
FROM per_cell GROUP BY band
"""

# Band-polygon oracle — like CONCAVE_PAIRS, NOT a mirror: Spark
# dissolves each band's cells into MultiPolygon WKB (lattice boundary
# stitcher) and reports area/perimeter measured ON the geometry; this
# SQL derives the same values from cell arithmetic — area = n_cells*h²,
# perimeter = h*(4*n_cells - 2*rook_adjacent_pairs) (every shared edge
# removes one unit edge from each of its two cells). Agreement proves
# the emitted polygons enclose exactly the band's cells.
ISOCHRONE_POLYS = f"""
WITH {oracle_ctes('osrm_matrix')},
pts AS (SELECT x, y, time_s / 3600.0 AS time_h
        FROM osrm_matrix
        WHERE time_s <> 2147483647 AND time_s <> 0),
d AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
             CAST(CEIL((MAX(y) - MIN(y)) / {_PGRID_H}) AS BIGINT) AS nrows,
             CAST(CEIL((MAX(x) - MIN(x)) / {_PGRID_H}) AS BIGINT) AS ncols
      FROM pts),
b AS (SELECT CAST(FLOOR(time_h / 0.25) AS BIGINT) AS band,
             CAST(LEAST(FLOOR((x - xmin) / {_PGRID_H}),
                        CAST(ncols - 1 AS DOUBLE)) * nrows
                + LEAST(FLOOR((ymax - y) / {_PGRID_H}),
                        CAST(nrows - 1 AS DOUBLE)) AS BIGINT) AS cell_id,
             time_h, nrows
      FROM pts CROSS JOIN d),
per_cell AS (SELECT band, cell_id, MAX(nrows) AS nrows,
                    COUNT(*) AS n_pts, MIN(time_h) AS t_min
             FROM b GROUP BY band, cell_id),
adj AS (SELECT a.band, COUNT(*) AS n_adj
        FROM per_cell a JOIN per_cell b ON a.band = b.band
         AND ((b.cell_id = a.cell_id + 1
               AND (a.cell_id % a.nrows) <> a.nrows - 1)
              OR b.cell_id = a.cell_id + a.nrows)
        GROUP BY a.band)
SELECT p.band,
       ROUND(MIN(p.t_min), 6) AS t_min_h,
       COUNT(*) AS n_cells,
       CAST(SUM(p.n_pts) AS BIGINT) AS n_pts,
       ROUND(CAST(COUNT(*) * {_PGRID_H * _PGRID_H} AS DOUBLE), 6) AS area,
       ROUND(CAST((4 * COUNT(*) - 2 * COALESCE(MAX(a.n_adj), 0))
                  * {_PGRID_H} AS DOUBLE), 6) AS perimeter
FROM per_cell p LEFT JOIN adj a ON p.band = a.band
GROUP BY p.band
"""

# ------------------------------------------------------------ events ops
EVENTS_WINDOW = """
WITH ev AS (SELECT ts, value,
                   (user_id * 2654435761) % 100000 AS x,
                   (user_id * 2246822519) % 100000 AS y
            FROM events),
c AS (SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
             CAST(FLOOR(x / 8000.0) AS BIGINT) * 1000
                 + CAST(FLOOR(y / 8000.0) AS BIGINT) AS cell_id,
             value
      FROM ev)
SELECT window_start_us, cell_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM c GROUP BY window_start_us, cell_id
"""

SESSIONIZE = """
WITH s AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              AS prev
      FROM s),
b AS (SELECT *, CASE WHEN prev IS NOT NULL AND us - prev >= 1800000000
                     THEN 1 ELSE 0 END AS brk
      FROM l),
cs AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
       FROM b)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(us) AS t_start_us, MAX(us) AS t_end_us,
       ROUND(SUM(value), 6) AS sum_value
FROM cs GROUP BY user_id, session_id
"""

# Streaming session_window query: same session semantics as SESSIONIZE
# without the batch numbering (the native operator keys sessions by
# merged window, not ordinal).
SESSION_WINDOW = """
WITH s AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              AS prev
      FROM s),
b AS (SELECT *, CASE WHEN prev IS NOT NULL AND us - prev >= 1800000000
                     THEN 1 ELSE 0 END AS brk
      FROM l),
cs AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
       FROM b)
SELECT user_id, COUNT(*) AS n_events,
       MIN(us) AS t_start_us, MAX(us) AS t_end_us,
       ROUND(SUM(value), 6) AS sum_value
FROM cs GROUP BY user_id, session_id
"""

STREAM_DEDUP = """
SELECT DISTINCT user_id,
       epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us
FROM events
"""

# ------------------------------------------------------------- cartogram
DORLING_RADIUS = f"""
WITH {oracle_ctes('polys')},
base AS (SELECT id, CAST(size_mb AS DOUBLE) AS v,
                (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
                (x1 - x0) * (y1 - y0) AS area
         FROM polys),
sums AS (SELECT SUM(SQRT((a.cx - b.cx) * (a.cx - b.cx)
                         + (a.cy - b.cy) * (a.cy - b.cy))) AS cum_dist,
                SUM(SQRT(a.v / PI()) + SQRT(b.v / PI())) AS cum_rad
         FROM base a, base b WHERE a.id <> b.id),
nrm AS (SELECT SQRT(SUM(area * area)) AS area_l2 FROM base)
SELECT id,
       ROUND(SQRT(v / PI()) * (cum_dist / cum_rad) * 0.8 * (area / area_l2),
             6) AS radius
FROM base, sums, nrm
"""

# Dorling placement walk (operators/cartogram.py
# non_contiguous_cartogram): the SEQUENTIAL pairwise relaxation
# replayed exactly — outer (pass, i) steps as a recursive CTE carrying
# the circle list, the inner j-loop as a list_reduce fold whose
# accumulator is the moving circle. Radii come from the
# DORLING_RADIUS derivation (rounded 6 => exact lattice, gate-proven
# identical to Spark), centroids are exact fixture arithmetic, and
# every move writes the identical IEEE expression tree as the driver
# loop (sqrt(dx*dx+dy*dy), push=(min_d-d)/2, c += dc/d*push), so the
# walk is bit-identical through every branch decision. Final
# coordinates go through the 1e-9-shifted round on both sides.
#
# The fold accumulator is a DOUBLE[3] list [x, y, moved], NOT a
# struct: DuckDB 1.0's list_reduce updates a struct accumulator
# field-by-field IN PLACE, so a 'y' expression reading a.x would see
# the already-updated x (observed: a real divergence at sf0.01);
# list-valued accumulators are built fresh per step and carry no such
# aliasing.
def _dorling_cartogram_sql(n_iter: int = 2, ratio: float = 0.8) -> str:
    dd = (
        "SQRT((a[1] - e[1]) * (a[1] - e[1])"
        " + (a[2] - e[2]) * (a[2] - e[2]))"
    )
    min_d = "(c.pl[c.i].r + e[3])"
    push = f"(({min_d} - {dd}) / 2.0)"
    return f"""
WITH RECURSIVE {oracle_ctes('polys')},
base AS (SELECT id, CAST(size_mb AS DOUBLE) AS v,
                (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
                (x1 - x0) * (y1 - y0) AS area
         FROM polys),
sums AS (SELECT SUM(SQRT((a.cx - b.cx) * (a.cx - b.cx)
                         + (a.cy - b.cy) * (a.cy - b.cy))) AS cum_dist,
                SUM(SQRT(a.v / PI()) + SQRT(b.v / PI())) AS cum_rad
         FROM base a, base b WHERE a.id <> b.id),
nrm AS (SELECT SQRT(SUM(area * area)) AS area_l2 FROM base),
rad AS (SELECT id, cx, cy,
               ROUND(SQRT(v / PI()) * (cum_dist / cum_rad) * {ratio}
                     * (area / area_l2), 6) AS radius
        FROM base, sums, nrm),
circ AS (SELECT list({{'id': id, 'x': cx, 'y': cy, 'r': radius}}
                     ORDER BY id) AS pl,
                COUNT(*) AS n
         FROM rad),
relax(pass, i, pl, moved, stop) AS (
  SELECT 1, 1, pl, FALSE, n < 2 FROM circ
  UNION ALL
  SELECT
    CASE WHEN c.i = n THEN c.pass + 1 ELSE c.pass END,
    CASE WHEN c.i = n THEN 1 ELSE c.i + 1 END,
    list_transform(range(1, CAST(n AS INT) + 1), k ->
      CASE WHEN k = c.i
           THEN {{'id': c.pl[c.i].id, 'x': acc[1], 'y': acc[2],
                  'r': c.pl[c.i].r}}
           ELSE c.pl[k] END),
    CASE WHEN c.i = n THEN FALSE ELSE (c.moved OR acc[3] > 0.5) END,
    CASE WHEN c.i = n THEN NOT (c.moved OR acc[3] > 0.5)
         ELSE c.stop END
  FROM (
    SELECT c.*, n,
      list_reduce(
        [[c.pl[c.i].x, c.pl[c.i].y, CAST(0.0 AS DOUBLE)]]
        || list_transform(
               list_filter(range(1, CAST(n AS INT) + 1), j -> j <> c.i),
               j -> [c.pl[j].x, c.pl[j].y, c.pl[j].r]),
        (a, e) -> CASE
          WHEN {dd} < {min_d} AND {dd} > 0
          THEN [a[1] + ((a[1] - e[1]) / {dd}) * {push},
                a[2] + ((a[2] - e[2]) / {dd}) * {push},
                CAST(1.0 AS DOUBLE)]
          ELSE a END) AS acc
    FROM relax c, circ
    WHERE NOT c.stop AND c.pass <= {int(n_iter)}
  ) c
),
fin AS (SELECT pl FROM relax ORDER BY pass DESC, i DESC LIMIT 1)
SELECT pl[k].id AS id,
       ROUND(pl[k].x + 1e-9, 6) AS cx,
       ROUND(pl[k].y + 1e-9, 6) AS cy,
       pl[k].r AS radius
FROM fin,
     (SELECT UNNEST(range(1, CAST((SELECT n FROM circ) AS INT) + 1))
        AS k)
"""


DORLING_CARTOGRAM = _dorling_cartogram_sql()


# ---------------------------------------------------------------- media
# Mirrors media/multimodal.py's deterministic fake payloads: the Spark
# side round-trips REAL binary (struct.pack -> mapInPandas parse); the
# oracle computes the same metadata closed-form. A mismatch means the
# binary plumbing (not the arithmetic) broke.
MEDIA_PIPELINE = """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS meta_kind,
         CAST(80 AS BIGINT) AS meta_n_bytes,
         CAST(16 + (doc_id * 7919) % 2032 AS INT) AS meta_width,
         CAST(16 + (doc_id * 104729) % 2032 AS INT) AS meta_height,
         CAST(8000 + (doc_id % 5) * 8000 AS INT) AS meta_sample_rate,
         CAST(1 + (doc_id * 31) % 240 AS INT) AS meta_n_frames
  FROM documents)
SELECT doc_id, meta_kind, meta_n_bytes, meta_width, meta_height,
       meta_sample_rate, meta_n_frames,
       -- floor(side * max / longest) over exact integers (one
       -- correctly-rounded division), mirroring resize_meta's
       -- longest-side == max_side contract
       CASE WHEN GREATEST(meta_width, meta_height) > 512
            THEN CAST(FLOOR((meta_width * 512)
                 / GREATEST(meta_width, meta_height)) AS INT)
            ELSE meta_width END AS target_width,
       CASE WHEN GREATEST(meta_width, meta_height) > 512
            THEN CAST(FLOOR((meta_height * 512)
                 / GREATEST(meta_width, meta_height)) AS INT)
            ELSE meta_height END AS target_height
FROM m
"""

# Audio chunk tiling (chunk_audio, chunk_s=0.001, 16-bit mono): the
# fake payload is always 80 bytes -> 40 samples; step = sample_rate
# samples per millisecond, exactly sr/1000 for the five fixture tiers.
AUDIO_CHUNKS = """
WITH aud AS (
  SELECT doc_id,
         CAST(40 AS BIGINT) AS total,
         CAST((8000 + (doc_id % 5) * 8000) // 1000 AS BIGINT) AS step
  FROM documents WHERE doc_id % 3 = 1),
ex AS (SELECT doc_id, total, step,
              UNNEST(generate_series(0, total - 1, step)) AS s
       FROM aud)
SELECT doc_id,
       s // step AS chunk_idx,
       s AS start_sample,
       LEAST(step, total - s) AS n_samples
FROM ex
"""

# Fake-pixel feature extraction (extract_media_features): the payload
# body is md5(str(doc_id)) repeated 4x, so byte statistics are
# closed-form from the 16 digest bytes (repetition preserves mean,
# min, max, and population std; sums scale by exactly 4). Arithmetic
# mirrors the kernel's integer sum / sum-of-squares form.
MEDIA_FEATURES = """
WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
           FROM documents),
by AS (SELECT doc_id,
              CAST(('0x' || substr(hx, 2 * i.n - 1, 2))::UBIGINT AS INT) AS v
       FROM b, (SELECT UNNEST(range(1, 17)) AS n) i),
st AS (SELECT doc_id, SUM(v) AS s, SUM(v * v) AS s2,
              MIN(v) AS mn, MAX(v) AS mx
       FROM by GROUP BY doc_id)
SELECT doc_id,
       CAST(64 AS BIGINT) AS px_n,
       ROUND((4 * s) / 64.0, 6) AS px_mean,
       ROUND(SQRT((4 * s2 - ((4 * s) * (4 * s)) / 64.0) / 64.0), 6)
           AS px_std,
       CAST(mn AS INT) AS px_min,
       CAST(mx AS INT) AS px_max
FROM st
"""

# ----------------------------------------- dorling2 / IDW interpolation
DORLING_RADIUS2 = f"""
WITH {oracle_ctes('polys')},
base AS (SELECT id, CAST(size_mb AS DOUBLE) AS v,
                (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
                (x1 - x0) * (y1 - y0) AS area
         FROM polys),
shared AS (
  SELECT a.id AS left_id, b.id AS right_id,
         ROUND(CASE WHEN (LEAST(a.x1 + 0.01, b.x1) - GREATEST(a.x0 - 0.01, b.x0)) = 0
                      OR (LEAST(a.y1 + 0.01, b.y1) - GREATEST(a.y0 - 0.01, b.y0)) = 0
                    THEN (LEAST(a.x1 + 0.01, b.x1) - GREATEST(a.x0 - 0.01, b.x0))
                       + (LEAST(a.y1 + 0.01, b.y1) - GREATEST(a.y0 - 0.01, b.y0))
                    ELSE 2.0 * ((LEAST(a.x1 + 0.01, b.x1) - GREATEST(a.x0 - 0.01, b.x0))
                              + (LEAST(a.y1 + 0.01, b.y1) - GREATEST(a.y0 - 0.01, b.y0)))
               END, 6) AS share
  FROM polys a, polys b
  WHERE a.id <> b.id
    AND a.x0 <= b.x1 AND b.x0 <= a.x1
    AND a.y0 <= b.y1 AND b.y0 <= a.y1),
tot AS (SELECT left_id, SUM(share) AS share_tot FROM shared GROUP BY left_id),
pairs AS (
  SELECT a.id AS ia, a.v AS va, a.cx AS xa, a.cy AS ya,
         b.v AS vb, b.cx AS xb, b.cy AS yb,
         COALESCE(s.share, 0.0) AS share,
         COALESCE(t.share_tot, 0.0) AS share_tot
  FROM base a JOIN base b ON a.id <> b.id
  LEFT JOIN shared s ON s.left_id = a.id AND s.right_id = b.id
  LEFT JOIN tot t ON t.left_id = a.id),
sums AS (
  SELECT SUM(SQRT((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb))
             * (ABS(ROUND(CASE WHEN share_tot > 0 THEN share / share_tot
                               ELSE 0.0 END, 2) - 1.0) / 2.0)) AS cum_dist,
         SUM(SQRT(va / PI()) + SQRT(vb / PI())) AS cum_rad
  FROM pairs),
nrm AS (SELECT SQRT(SUM(area * area)) AS area_l2 FROM base)
SELECT id,
       ROUND(SQRT(v / PI()) * (cum_dist / cum_rad) * 0.8 * (area / area_l2),
             4) AS radius
FROM base, sums, nrm
"""

# Choropleth classification (operators/classify.py): quantile classes
# via NTILE over the deterministic (value, id) order and equal-width
# classes over the global span — both mirrored operation-for-operation.
CLASSIFY_VALUES = f"""
WITH {oracle_ctes('polys')},
b AS (SELECT MIN(CAST(size_mb AS DOUBLE)) AS lo,
             MAX(CAST(size_mb AS DOUBLE)) AS hi
      FROM polys)
SELECT id, CAST(size_mb AS DOUBLE) AS value,
       NTILE(5) OVER (ORDER BY CAST(size_mb AS DOUBLE), id) AS q_cls,
       CAST(CASE WHEN hi = lo THEN 0
                 ELSE LEAST(CAST(FLOOR((CAST(size_mb AS DOUBLE) - lo)
                                       / ((hi - lo) / 5.0)) AS INT), 4)
            END AS INT) AS e_cls
FROM polys, b
"""

# ---------------------------------------------- cartogram evidence rows
# One Dougenik (1985) iteration of the continuous cartogram, fully
# relational: per-feature stats (area/centroid are exact closed forms
# for the rectangle fixture), the global force-reduction factor, and
# the displaced exterior-ring vertices (corner x feature force sum).
# Mirrors operators/cartogram.py _dougenik_params/_displace
# term-for-term in the same association order (v * (ta/tv),
# ((m*xf)*xf)*(4-3*xf), fraw * (reduction/dist)) so the round(4)
# coordinates hash-match; only the cross-feature SUM order differs
# (~1e-10 absolute at fixture magnitudes).
CARTOGRAM_STEP = f"""
WITH {oracle_ctes('polys')},
base AS (SELECT id, CAST(size_mb AS DOUBLE) AS v,
                (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
                (x1 - x0) * (y1 - y0) AS area, x0, y0, x1, y1
         FROM polys),
tot AS (SELECT SUM(area) AS ta, SUM(v) AS tv FROM base),
st AS (SELECT b.id, b.cx, b.cy,
              SQRT(b.area / PI()) AS r,
              CASE WHEN b.v * (t.ta / t.tv) > 0
                   THEN SQRT(b.v * (t.ta / t.tv) / PI())
                        - SQRT(b.area / PI())
                   ELSE 0.0 END AS m,
              GREATEST(b.area, b.v * (t.ta / t.tv))
              / LEAST(b.area, b.v * (t.ta / t.tv)) AS serr
       FROM base b, tot t),
red AS (SELECT 1.0 / (AVG(serr) + 1.0) AS reduction FROM st),
corners AS (
  SELECT id, k,
         CASE k WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                ELSE x0 END AS vx,
         CASE k WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
                ELSE y1 END AS vy
  FROM base CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k)),
terms AS (
  SELECT c.id, c.k, c.vx, c.vy,
         c.vx - s.cx AS dx, c.vy - s.cy AS dy,
         SQRT((c.vx - s.cx) * (c.vx - s.cx)
              + (c.vy - s.cy) * (c.vy - s.cy)) AS dist,
         s.r, s.m
  FROM corners c CROSS JOIN st s)
SELECT t.id, t.k,
       ROUND(MIN(t.vx) + SUM(CASE WHEN t.dist = 0 THEN 0.0 ELSE
             t.dx * ((CASE WHEN t.dist > t.r THEN t.m * t.r / t.dist
                           ELSE t.m * (t.dist / t.r) * (t.dist / t.r)
                                * (4.0 - 3.0 * (t.dist / t.r)) END)
                     * (red.reduction / t.dist)) END), 4) AS x,
       ROUND(MIN(t.vy) + SUM(CASE WHEN t.dist = 0 THEN 0.0 ELSE
             t.dy * ((CASE WHEN t.dist > t.r THEN t.m * t.r / t.dist
                           ELSE t.m * (t.dist / t.r) * (t.dist / t.r)
                                * (4.0 - 3.0 * (t.dist / t.r)) END)
                     * (red.reduction / t.dist)) END), 4) AS y
FROM terms t, red
GROUP BY t.id, t.k
"""

# Dorling relaxation summary: the radii are input-derivable (the
# dorling_radius closed form over the id % 10 = 3 subsample) and the
# converged relaxation must leave zero overlapping pairs — a hashable
# row for the otherwise sequential driver-side algorithm. The Spark
# side measures n_overlaps from the ACTUAL relaxed placements.
DORLING_STATS = f"""
WITH {oracle_ctes('polys')},
base AS (SELECT id, CAST(size_mb AS DOUBLE) AS v,
                (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
                (x1 - x0) * (y1 - y0) AS area
         FROM polys WHERE id % 10 = 3),
sums AS (SELECT SUM(SQRT((a.cx - b.cx) * (a.cx - b.cx)
                         + (a.cy - b.cy) * (a.cy - b.cy))) AS cum_dist,
                SUM(SQRT(a.v / PI()) + SQRT(b.v / PI())) AS cum_rad
         FROM base a, base b WHERE a.id <> b.id),
nrm AS (SELECT SQRT(SUM(area * area)) AS area_l2 FROM base),
rad AS (SELECT id,
               ROUND(SQRT(v / PI()) * (cum_dist / cum_rad) * 0.8
                     * (area / area_l2), 6) AS radius
        FROM base, sums, nrm)
SELECT COUNT(*) AS n_circles,
       ROUND(SUM(radius), 4) AS sum_radius,
       CAST(0 AS BIGINT) AS n_overlaps
FROM rad
"""

# KMeans co-membership ground truth: roads_b is a <=1-unit jitter of
# roads_a (twins ~1e0 apart vs ~1e4 inter-line spacing), so A-lines
# should co-cluster with their twins.  KMeans is non-convex, so the
# gate is a tolerance scalar (twin recall >= 0.95 as a boolean) plus
# the fixture line count, not the exact twin set — an exact-set hash
# on a non-convex algorithm flaked r4 (99/100 under the driver's
# partitioning while the identical local run kept 100/100).
MATCH_CLUSTER_TWINS = f"""
WITH {oracle_ctes('road_verts')}
SELECT COUNT(DISTINCT id) AS n_lines, TRUE AS twins_ok
FROM road_verts WHERE id % 20 = 7
"""


def _line_params_ctes(src: str, p: str) -> str:
    """line_params replay (operators/lines.py:146): length-weighted
    centroid (shapely LineString centroid semantics), total length,
    end-to-end chord bearing — every descriptor ROUND(6) exactly as
    match_line_cluster rounds before seeding/pooling, so both engines
    feed the Lloyd rounds bit-identical doubles.  Emits columns
    (id, e1..e4) = (cx, cy, length, bearing)."""
    seg = "SQRT((vx - nx) * (vx - nx) + (vy - ny) * (vy - ny))"
    brg = "DEGREES(ATAN2(lx - fx, ly - fy))"
    return f"""
{p}_m AS (SELECT id, AVG(vx) AS vmx, AVG(vy) AS vmy FROM {src} GROUP BY id),
{p}_s AS (SELECT id, vx, vy,
                 LEAD(vx) OVER (PARTITION BY id ORDER BY vidx) AS nx,
                 LEAD(vy) OVER (PARTITION BY id ORDER BY vidx) AS ny
          FROM {src}),
{p}_l AS (SELECT id, SUM({seg}) AS tot,
                 SUM({seg} * (vx + nx) / 2.0) AS wx,
                 SUM({seg} * (vy + ny) / 2.0) AS wy
          FROM {p}_s WHERE nx IS NOT NULL GROUP BY id),
{p}_e AS (SELECT f.id, f.vx AS fx, f.vy AS fy, l.vx AS lx, l.vy AS ly
          FROM (SELECT id, vx, vy FROM {src} WHERE vidx = 0) f
          JOIN (SELECT id, vx, vy,
                       ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY vidx DESC) AS rn
                FROM {src}) l ON f.id = l.id AND l.rn = 1),
{p} AS (SELECT m.id,
               ROUND(CASE WHEN tot > 0 THEN wx / tot ELSE vmx END, 6) AS e1,
               ROUND(CASE WHEN tot > 0 THEN wy / tot ELSE vmy END, 6) AS e2,
               ROUND(tot, 6) AS e3,
               ROUND(CASE WHEN {brg} < 0 THEN {brg} + 360.0
                          ELSE {brg} END, 6) AS e4
        FROM {p}_m m JOIN {p}_l l ON m.id = l.id
        JOIN {p}_e e ON m.id = e.id)"""


def _match_line_cluster_sql(n_iter: int = 2) -> str:
    """Deterministic relational-Lloyd co-clustering replay
    (operators/lines.py match_line_cluster, round 8): seed centers =
    side A's descriptors in id order (cell i IS the i-th A line),
    ``n_iter`` unrolled Lloyd rounds — first-min argmin assignment
    (ORDER BY d2, cell == Spark's array_position-of-array_min), means
    ROUND(6) with empty cells keeping the previous center — then the
    final assignment joined into (id_a, id_b) pairs.  The d2 ordering
    key replays Spark's left-to-right aggregate fold from 0.0
    bit-for-bit (0.0 + t1 + t2 + t3 + t4, all left-assoc)."""
    dims = 4
    mavg = ", ".join(f"ROUND(AVG(e{d + 1}), 6) AS m{d + 1}" for d in range(dims))

    def d2(ctab: str) -> str:
        terms = " + ".join(
            f"(v.e{d + 1} - {ctab}.m{d + 1}) * (v.e{d + 1} - {ctab}.m{d + 1})"
            for d in range(dims)
        )
        return f"(0.0 + {terms})"

    parts = [
        "fa AS (SELECT id, vidx, vx, vy FROM road_verts WHERE id % 20 = 7)",
        "fb AS (SELECT id, vidx, vx, vy FROM road_b_verts WHERE id % 20 = 7)",
        _line_params_ctes("fa", "pa").lstrip(),
        _line_params_ctes("fb", "pb").lstrip(),
        """c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT)
                   AS cell,
               e1 AS m1, e2 AS m2, e3 AS m3, e4 AS m4 FROM pa)""",
        """pooled AS (SELECT id * 2 AS key, e1, e2, e3, e4 FROM pa
           UNION ALL
           SELECT id * 2 + 1 AS key, e1, e2, e3, e4 FROM pb)""",
    ]
    mprev = ", ".join(
        f"COALESCE(m.m{d + 1}, p.m{d + 1}) AS m{d + 1}" for d in range(dims)
    )
    for k in range(int(n_iter)):
        parts.append(
            f"""a{k} AS (SELECT v.key, c.cell, v.e1, v.e2, v.e3, v.e4
       FROM pooled v CROSS JOIN c{k} c
       QUALIFY ROW_NUMBER() OVER (PARTITION BY v.key
           ORDER BY {d2('c')}, c.cell) = 1)"""
        )
        parts.append(
            f"m{k + 1}_ AS (SELECT cell, {mavg} FROM a{k} GROUP BY cell)"
        )
        parts.append(
            f"""c{k + 1} AS (SELECT p.cell, {mprev}
       FROM c{k} p LEFT JOIN m{k + 1}_ m USING (cell))"""
        )
    n = int(n_iter)
    parts.append(
        f"""af AS (SELECT v.key, c.cell
       FROM pooled v CROSS JOIN c{n} c
       QUALIFY ROW_NUMBER() OVER (PARTITION BY v.key
           ORDER BY {d2('c')}, c.cell) = 1)"""
    )
    body = ",\n".join(parts)
    return f"""WITH {oracle_ctes('road_verts', 'road_b_verts')},
{body}
SELECT CAST(la.key // 2 AS BIGINT) AS id_a,
       CAST((lb.key - 1) // 2 AS BIGINT) AS id_b
FROM af la JOIN af lb USING (cell)
WHERE la.key % 2 = 0 AND lb.key % 2 = 1
"""


MATCH_LINE_CLUSTER = _match_line_cluster_sql()

_IDW_N = 32
_IDW_R = 8000.0
IDW_INTERPOLATION = f"""
WITH {oracle_ctes('osrm_matrix')},
pts AS (SELECT x, y, time_s / 3600.0 AS time_h
        FROM osrm_matrix
        WHERE time_s <> 2147483647 AND time_s <> 0),
d AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax,
             MAX(y) AS ymax FROM pts),
n32 AS {_N32},
nums AS (SELECT CAST(a.n * 32 + b.n AS BIGINT) AS li
         FROM n32 a CROSS JOIN n32 b),
lattice AS (
  SELECT li,
         xmin + ((li % {_IDW_N}) + 0.5) * ((xmax - xmin) / {_IDW_N}) AS lx,
         ymin + (FLOOR(CAST(li AS DOUBLE) / {_IDW_N}) + 0.5)
              * ((ymax - ymin) / {_IDW_N}) AS ly
  FROM nums CROSS JOIN d),
j AS (SELECT li, lx, ly,
             (lx - x) * (lx - x) + (ly - y) * (ly - y) AS d2,
             time_h
      FROM lattice, pts
      WHERE (lx - x) * (lx - x) + (ly - y) * (ly - y)
            <= {_IDW_R * _IDW_R})
SELECT li, lx, ly,
       ROUND(SUM((1.0 / (d2 + 1.0)) * time_h) / SUM(1.0 / (d2 + 1.0)), 4)
           AS est
FROM j GROUP BY li, lx, ly
"""

# -------------------------------------- isochrone surface / embedding dup
ISOCHRONE_SURFACE = f"""
WITH {oracle_ctes('osrm_matrix')},
pts AS (SELECT x, y, time_s / 3600.0 AS time_h
        FROM osrm_matrix
        WHERE time_s <> 2147483647 AND time_s <> 0),
d AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
             CAST(CEIL((MAX(y) - MIN(y)) / {_PGRID_H}) AS BIGINT) AS nrows,
             CAST(CEIL((MAX(x) - MIN(x)) / {_PGRID_H}) AS BIGINT) AS ncols
      FROM pts),
b AS (SELECT CAST(LEAST(FLOOR((x - xmin) / {_PGRID_H}),
                        CAST(ncols - 1 AS DOUBLE)) * nrows
                + LEAST(FLOOR((ymax - y) / {_PGRID_H}),
                        CAST(nrows - 1 AS DOUBLE)) AS BIGINT) AS cell_id,
             time_h
      FROM pts CROSS JOIN d)
SELECT cell_id, ROUND(MIN(time_h), 6) AS t_min_h, COUNT(*) AS n_pts
FROM b GROUP BY cell_id
"""

EMBEDDING_DUPS_EXACT = f"""
WITH e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
           FROM embeddings)
SELECT q.vec_id AS id_a, v.vec_id AS id_b,
       ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
FROM e q, e v
WHERE q.vec_id < v.vec_id
  AND ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) >= 0.45
"""


def _lsh_oracle_parts() -> tuple[str, str]:
    """Mirror of vector/ann.py hyperplane LSH in plain SQL.

    The planes are deterministic md5-derived literals computed at
    import time by the same function the Spark side uses, and each
    projection is an explicit left-to-right sum — the identical
    floating-point evaluation order as Spark's ``aggregate`` fold, so
    the bucket assignment is bitwise-reproducible across engines.
    Returns (projection select-list, band-table SQL building
    (vec_id, band, bucket) from the projection CTE ``proj``).
    """
    from .vector.ann import N_BANDS_V, N_PLANES, _plane_component_value

    proj_cols = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({_plane_component_value(p, d)!r})"
            for d in range(_EMB_DIM)
        )
        proj_cols.append(f"({terms}) AS p{p}")
    per_band = N_PLANES // N_BANDS_V
    band_selects = []
    for b in range(N_BANDS_V):
        bits = " + ".join(
            f"(CASE WHEN p{b * per_band + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(per_band)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, CAST({bits} AS BIGINT) AS bucket FROM proj"
        )
    return ", ".join(proj_cols), " UNION ALL ".join(band_selects)


_LSH_PROJ, _LSH_BANDS = _lsh_oracle_parts()

# The benched/declared embedding-dup query runs the banded-LSH path
# (the 100 TB shape); this oracle mirrors the candidate generation, so
# the gate checks cross-engine algorithm equivalence. The exact
# all-pairs baseline stays above as the pytest cross-check.
EMBEDDING_DUPS = f"""
WITH e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
           FROM embeddings),
proj AS (SELECT vec_id, {_LSH_PROJ} FROM embeddings),
bands AS ({_LSH_BANDS}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
FROM cand c
JOIN e q ON q.vec_id = c.id_a
JOIN e v ON v.vec_id = c.id_b
WHERE ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) >= 0.45
"""

# SemDeDup composition (text/dedup.py semantic_dedup): the embedding
# near-dup pair list above closed into connected components by the
# SAME independent recursive-CTE walk the lexical DUP_GROUPS gate
# uses — one cluster semantics across the lexical and semantic paths.
SEMANTIC_DEDUP = f"""
WITH RECURSIVE
e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings),
proj AS (SELECT vec_id, {_LSH_PROJ} FROM embeddings),
bands AS ({_LSH_BANDS}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.vec_id < b.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN e q ON q.vec_id = c.id_a
  JOIN e v ON v.vec_id = c.id_b
  WHERE ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) >= 0.45),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM pairs),
walk(id, lbl) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT eg.dst, w.lbl FROM walk w JOIN edges eg ON eg.src = w.id
)
SELECT id, MIN(lbl) AS group_id,
       CAST(COUNT(*) OVER (PARTITION BY MIN(lbl)) AS BIGINT)
         AS group_size
FROM walk GROUP BY id
"""

# ------------------------------------------------- concave/holed geometry
# Oracle for intersection_stats_table over the L-shaped + holed layers.
# Unlike most oracles in this file, this is NOT an expression mirror of
# the Spark implementation: Spark traces polygon boundaries with the
# Green-theorem kernel (kernels.pair_stats_exact) over decoded WKB,
# while this SQL derives the same quantities from the fixtures' signed
# rectangle decomposition — area by inclusion-exclusion over the
# indicator identity 1_A = 1_R1 + 1_R2 - 1_hole, perimeter by clipping
# each boundary segment against the other side's signed rectangles
# (len(s ∩ B) = Σ_j sgn_j · len(s ∩ R_j)). Agreement therefore checks
# two independent algorithms, not cross-engine reproducibility of one.
# All arithmetic is integer-valued doubles — exact in both engines.


def _concave_pairs_sql() -> str:
    from .fixtures import L_ARM, L_BIG, L_HOLE0, L_HOLE1

    big, arm, h0, h1 = L_BIG, L_ARM, L_HOLE0, L_HOLE1
    rect_rows = ", ".join(
        f"({r})"
        for r in (
            f"0.0, 0.0, {big}, {arm}, 1.0, 0",
            f"0.0, {arm}, {arm}, {big}, 1.0, 0",
            f"{h0}, {h0}, {h1}, {h1}, -1.0, 1",
        )
    )
    seg_rows = ", ".join(
        f"({r})"
        for r in (
            f"0.0, 0.0, {big}, 0.0, 0",
            f"{big}, 0.0, {big}, {arm}, 0",
            f"{big}, {arm}, {arm}, {arm}, 0",
            f"{arm}, {arm}, {arm}, {big}, 0",
            f"{arm}, {big}, 0.0, {big}, 0",
            f"0.0, {big}, 0.0, 0.0, 0",
            f"{h0}, {h0}, {h1}, {h0}, 1",
            f"{h1}, {h0}, {h1}, {h1}, 1",
            f"{h1}, {h1}, {h0}, {h1}, 1",
            f"{h0}, {h1}, {h0}, {h0}, 1",
        )
    )
    # DuckDB 1.0.0 workarounds: LEAST/GREATEST inside an inequality
    # join condition, and a CASE inside SUM over that join, both trip
    # an internal assertion ("requires a flat vector") — so segments
    # carry precomputed bbox columns (bx0..by1), the join uses plain
    # column comparisons, and contributions are projected row-wise in
    # a *_raw CTE then summed separately.
    seg_in_rects = """
       r.sgn * CASE WHEN s.by0 = s.by1 THEN
             CASE WHEN r.y0 < s.by0 AND s.by0 < r.y1 THEN
               GREATEST(0.0, LEAST(s.bx1, r.x1) - GREATEST(s.bx0, r.x0))
             ELSE 0.0 END
           ELSE
             CASE WHEN r.x0 < s.bx0 AND s.bx0 < r.x1 THEN
               GREATEST(0.0, LEAST(s.by1, r.y1) - GREATEST(s.by0, r.y0))
             ELSE 0.0 END
           END AS contrib"""
    seg_rect_join = """ON s.bx0 <= r.x1 AND r.x0 <= s.bx1
          AND s.by0 <= r.y1 AND r.y0 <= s.by1"""
    return f"""
WITH {oracle_ctes('cpolys', 'cpolys_b')},
lparts(dx0, dy0, dx1, dy1, sgn, need_hole) AS (VALUES {rect_rows}),
lsegs(dx0, dy0, dx1, dy1, need_hole) AS (VALUES {seg_rows}),
ar AS (SELECT c.id, c.ox + p.dx0 AS x0, c.oy + p.dy0 AS y0,
              c.ox + p.dx1 AS x1, c.oy + p.dy1 AS y1, p.sgn
       FROM cpolys c JOIN lparts p ON p.need_hole = 0 OR c.has_hole = 1),
br AS (SELECT c.id, c.ox + p.dx0 AS x0, c.oy + p.dy0 AS y0,
              c.ox + p.dx1 AS x1, c.oy + p.dy1 AS y1, p.sgn
       FROM cpolys_b c JOIN lparts p ON p.need_hole = 0 OR c.has_hole = 1),
asg AS (SELECT c.id,
               c.ox + LEAST(s.dx0, s.dx1) AS bx0,
               c.oy + LEAST(s.dy0, s.dy1) AS by0,
               c.ox + GREATEST(s.dx0, s.dx1) AS bx1,
               c.oy + GREATEST(s.dy0, s.dy1) AS by1
        FROM cpolys c JOIN lsegs s ON s.need_hole = 0 OR c.has_hole = 1),
bsg AS (SELECT c.id,
               c.ox + LEAST(s.dx0, s.dx1) AS bx0,
               c.oy + LEAST(s.dy0, s.dy1) AS by0,
               c.ox + GREATEST(s.dx0, s.dx1) AS bx1,
               c.oy + GREATEST(s.dy0, s.dy1) AS by1
        FROM cpolys_b c JOIN lsegs s ON s.need_hole = 0 OR c.has_hole = 1),
area_t AS (
  SELECT a.id AS left_id, b.id AS right_id,
         SUM(a.sgn * b.sgn
             * GREATEST(0.0, LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0))
             * GREATEST(0.0, LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0))) AS area
  FROM ar a JOIN br b
    ON a.x0 < b.x1 AND b.x0 < a.x1 AND a.y0 < b.y1 AND b.y0 < a.y1
  GROUP BY 1, 2),
pa_raw AS (
  SELECT s.id AS left_id, r.id AS right_id, {seg_in_rects}
  FROM asg s JOIN br r {seg_rect_join}),
pa AS (SELECT left_id, right_id, SUM(contrib) AS plen
       FROM pa_raw GROUP BY 1, 2),
pb_raw AS (
  SELECT r.id AS left_id, s.id AS right_id, {seg_in_rects}
  FROM bsg s JOIN ar r {seg_rect_join}),
pb AS (SELECT left_id, right_id, SUM(contrib) AS plen
       FROM pb_raw GROUP BY 1, 2)
SELECT t.left_id, t.right_id,
       ROUND(CAST(t.area AS DOUBLE), 6) AS isect_area,
       ROUND(CAST(COALESCE(a.plen, 0) + COALESCE(b.plen, 0) AS DOUBLE), 6)
           AS perimeter
FROM area_t t
LEFT JOIN pa a ON a.left_id = t.left_id AND a.right_id = t.right_id
LEFT JOIN pb b ON b.left_id = t.left_id AND b.right_id = t.right_id
WHERE t.area > 0
"""


CONCAVE_PAIRS = _concave_pairs_sql()
ANN_LSH_TOPK = _ann_lsh_sql()

# General-polygon random points over the L-shaped + holed layer: the
# hashed bbox draws are shared arithmetic, and the ray-cast acceptance
# reduces, for axis-aligned boundaries, to EXACT half-open interval
# tests ([x0,x1) x [y0,y1) per decomposition rect, hole subtracted) —
# the same outcomes as the kernel's (y0>py)!=(y1>py) & px<xint
# crossing rule, including points that land exactly on a boundary.
_RPP_K = ", ".join(f"({i})" for i in range(56))  # 3 pts -> 8*3+32 draws

RANDOM_PTS_POLY = f"""
WITH {oracle_ctes('cpolys')},
k56(k) AS (VALUES {_RPP_K}),
draws AS (
  SELECT c.id, c.ox, c.oy, c.has_hole, k.k,
         ROUND(c.ox + ((c.id * 2654435761 + k.k * 97561) % 1000003)
               / 1000003.0 * 2000.0, 6) AS px,
         ROUND(c.oy + ((c.id * 2246822519 + k.k * 40503) % 1000003)
               / 1000003.0 * 2000.0, 6) AS py
  FROM cpolys c CROSS JOIN k56 k),
acc AS (
  SELECT id, k, px, py,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY k) AS rn
  FROM draws
  WHERE ((px >= ox AND px < ox + 2000 AND py >= oy AND py < oy + 1000)
      OR (px >= ox AND px < ox + 1000
          AND py >= oy + 1000 AND py < oy + 2000))
    AND NOT (has_hole = 1 AND px >= ox + 200 AND px < ox + 700
             AND py >= oy + 200 AND py < oy + 700))
SELECT id, k, px, py FROM acc WHERE rn <= 3
"""

# ------------------------------------------------------- relational demos
# The engine is a general analytics engine; three classic OLAP shapes
# over the driver tables prove the relational substrate (pricing
# summary, join-aggregate, top-k per group). Sums over money doubles
# are rounded in both engines (summation-order differences).
TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

REVENUE_BY_NATION = """
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

TOP_CUSTOMERS_PER_SEGMENT = """
WITH spend AS (
  SELECT c.c_mktsegment AS segment, c.c_custkey,
         ROUND(SUM(o.o_totalprice), 2) AS total_spend
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY segment ORDER BY total_spend DESC, c_custkey) AS INT)
      AS rank
  FROM spend)
SELECT segment, c_custkey, total_spend, rank FROM ranked WHERE rank <= 5
"""

# GeoJSON round-trip: closed-form L-shape area (big x arm + arm x
# (big - arm), hole subtracted) — independent of the codec AND of the
# Spark area kernel, see fixtures.L_BIG/L_ARM/L_HOLE0/L_HOLE1
# JSONL round-trip: the oracle reads the same projection straight from
# parquet — equality proves the JSON escape/parse path byte-exact.
JSONL_ROUNDTRIP = """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents
"""

# WARC round-trip (sources/warc.py): the length-prefixed record codec
# + segment write + binaryFile parallel read must preserve every byte;
# the oracle reads the same rows straight from parquet.
WARC_ROUNDTRIP = """
SELECT doc_id, md5(text) AS text_md5 FROM documents
"""

# HTML text extraction (text/web.py html_to_text_expr): the raw-HTML
# corpus is derived deterministically from documents (mirrored in
# _q_html_extract); every strip/decode pattern is shared verbatim —
# DuckDB needs the explicit 'g' flag where Java replaces globally by
# default.
from .text import web as _webx  # noqa: E402

_HTML_WRAP = """
hc AS (SELECT doc_id AS id,
  '<html><head><style>body {color: red}</style></head><body><h1>Doc '
  || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
  || CASE WHEN doc_id % 5 = 0
          THEN '<script type="text/javascript">var x = 1 < 2;</script>'
          ELSE '' END
  || CASE WHEN doc_id % 7 = 0
          THEN '<p>&lt;escaped&gt; &amp; &quot;quoted&quot;&nbsp;tail</p>'
          ELSE '' END
  || '</body></html>' AS html
  FROM documents)
"""

HTML_EXTRACT = f"""
WITH {_HTML_WRAP},
cleaned AS (SELECT id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(html, '{_webx.HTML_SCRIPT_PATTERN}', ' ', 'g'),
          '{_webx.HTML_STYLE_PATTERN}', ' ', 'g'),
        '{_webx.HTML_TAG_PATTERN}', ' ', 'g'),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
    '[ \t\r\n]+', ' ', 'g')) AS text
  FROM hc)
SELECT id, md5(text) AS text_md5,
       CAST(LENGTH(text) AS INT) AS n_chars
FROM cleaned
"""

GEOJSON_ROUNDTRIP = f"""
WITH {oracle_ctes('cpolys')}
SELECT id, has_hole,
       ROUND(CAST(3000000.0 - has_hole * 250000.0 AS DOUBLE), 6) AS area
FROM cpolys
"""

# SpatiaLite round-trip: same closed-form L-shape area truth — the
# GAIA blob codec, the SQLite write, and the partitioned read must all
# preserve every coordinate for the hash to hold
SPATIALITE_ROUNDTRIP = f"""
WITH {oracle_ctes('cpolys')}
SELECT id, has_hole,
       ROUND(CAST(3000000.0 - has_hole * 250000.0 AS DOUBLE), 6) AS area
FROM cpolys
"""

# As-of join (operators/temporal.py asof_join): for each error event the
# most recent non-error event of the same user at-or-before it. The
# oracle is the naive inequality join + per-probe argmax — quadratic,
# fine at sf0.01; the Spark plan is the union+window merge (one
# exchange, no theta join).
# Windowed event-rate anomaly (operators/temporal.py windowed_zscore):
# hourly per-user counts z-scored against the trailing 24 observed
# buckets; mean/std in explicit sum / sum-of-squares form so both
# engines run identical arithmetic.
RATE_ANOMALY = """
WITH c AS (SELECT user_id AS k,
                  epoch_us(ts)
                  - ((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000
                      AS bucket_us,
                  COUNT(*) AS n
           FROM events GROUP BY 1, 2),
w AS (SELECT k, bucket_us, n,
             COUNT(n) OVER tw AS c,
             SUM(CAST(n AS DOUBLE)) OVER tw AS s1,
             SUM(CAST(n * n AS DOUBLE)) OVER tw AS s2
      FROM c
      WINDOW tw AS (PARTITION BY k ORDER BY bucket_us
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT k AS user_id, bucket_us, n,
       ROUND((n - s1 / c) / SQRT((s2 - s1 * s1 / c) / c), 6) AS z
FROM w
WHERE c >= 6 AND (s2 - s1 * s1 / c) / c > 0
"""

ASOF_PREV_EVENT = """
WITH ev AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
            FROM events),
err AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'error'),
oth AS (SELECT user_id, event_id, event_type, value, us FROM ev
        WHERE event_type <> 'error'),
j AS (SELECT e.event_id, e.user_id, e.us,
             o.event_id AS prev_event_id, o.event_type AS prev_event_type,
             o.value AS prev_value, o.us AS prev_us,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.us DESC, o.event_id DESC) AS rn
      FROM err e JOIN oth o ON o.user_id = e.user_id AND o.us <= e.us)
SELECT event_id, user_id, us, prev_event_id, prev_event_type,
       ROUND(prev_value, 6) AS prev_value, us - prev_us AS gap_us
FROM j WHERE rn = 1
"""

# Binned range join (operators/temporal.py range_join_binned): per error
# event, count + value-sum of ALL same-user events within +-10 min
# (inclusive, self included). Oracle is the plain inequality join.
RANGE_NEIGHBORHOOD = """
WITH ev AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
            FROM events),
err AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'error')
SELECT e.event_id, e.user_id, e.us, COUNT(*) AS n_near,
       ROUND(SUM(o.value), 6) AS sum_value
FROM err e JOIN ev o ON o.user_id = e.user_id
                    AND ABS(o.us - e.us) <= 600000000
GROUP BY e.event_id, e.user_id, e.us
"""

# --- corpus-pipeline operators (text/corpus.py, text/search.py) ---

PACK_BUDGET = 512  # tokens per shard, shared Spark/oracle

PACK_SEQUENCES = f"""
WITH {oracle_ctes('corpus')},
t AS (SELECT id, {_NTOK} AS n FROM corpus),
c AS (SELECT id, n,
             COALESCE(CAST(SUM(n) OVER (ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS cb
      FROM t)
SELECT id, n AS n_tokens,
       cb // {PACK_BUDGET} AS shard_start,
       (cb + n - 1) // {PACK_BUDGET} AS shard_end,
       cb % {PACK_BUDGET} AS offset_in_shard
FROM c
"""

# per-language sampling rates (downsample the over-represented 'en'
# stratum, keep the tails): shared Spark/oracle
SAMPLE_RATES = {"en": 0.25, "de": 0.75, "fr": 0.75, "es": 0.75, "zh": 0.5}

_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
) + " ELSE 0.0 END"

STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE (doc_id * 2654435761) % 100000 <
      CAST(({_RATE_CASE}) * 100000 AS BIGINT)
"""

# Mixture sampling (sample_to_mixture, targets en 0.5 / fr 0.25 /
# de 0.25): rates derive from per-stratum counts by water-filling,
# mirrored operation-for-operation ((scale * p) / n; FLOOR matches
# Spark's positive-double truncate-cast); the binary-fraction targets
# make every p exact in both engines.
DOMAIN_MIXTURE = """
WITH cnt AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents
             WHERE lang IN ('en', 'fr', 'de') GROUP BY lang),
p AS (SELECT lang, n,
             CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END AS p
      FROM cnt),
sc AS (SELECT MIN(n / p) AS scale FROM p),
rt AS (SELECT p.lang, (sc.scale * p.p) / p.n AS rate FROM p, sc)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN rt ON rt.lang = d.lang
WHERE (d.doc_id * 2654435761) % 100000
      < CAST(FLOOR(rate * 100000) AS BIGINT)
"""

TFIDF_TOPK = """
WITH tok AS (SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT id, term, COUNT(*) AS tf FROM tok WHERE term <> ''
       GROUP BY id, term),
dfr AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT id) AS nd FROM tf),
sc AS (SELECT tf.id, tf.term, tf.tf, dfr.df_t,
              ROUND(tf.tf * LN(CAST(nd AS DOUBLE) / df_t), 6) AS score
       FROM tf JOIN dfr USING (term) CROSS JOIN n),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id
          ORDER BY score DESC, term) AS INT) AS rank
      FROM sc)
SELECT id, term, tf, df_t, score, rank FROM r WHERE rank <= 3
"""

BM25_TERMS = ["spark", "window", "merge"]
BM25_K = 10

_BM25_TF = "\n".join(
    f", len(list_filter(toks, t -> t = '{term}')) AS tf{i}"
    for i, term in enumerate(BM25_TERMS)
)
_BM25_DF = "".join(
    f", SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(BM25_TERMS))
)
_BM25_SCORE = " + ".join(
    f"LN((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
    f" * (tf{i} * 2.5)"
    f" / (tf{i} + 1.5 * (0.25 + 0.75"
    f" * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))"
    for i in range(len(BM25_TERMS))
)
_BM25_ANY = " OR ".join(f"tf{i} > 0" for i in range(len(BM25_TERMS)))

BM25_TOPK = f"""
WITH {oracle_ctes('corpus')},
d AS (SELECT id, string_split(text, ' ') AS toks FROM corpus),
m AS (SELECT id, len(toks) AS dl{_BM25_TF} FROM d),
st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl{_BM25_DF} FROM m),
sc AS (SELECT id, {_BM25_SCORE} AS score, ({_BM25_ANY}) AS anym
       FROM m CROSS JOIN st),
r AS (SELECT id, ROUND(score, 6) AS score FROM sc WHERE anym
      ORDER BY score DESC, id LIMIT {BM25_K})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS INT) AS rank,
       id, score
FROM r
"""

# Hybrid retrieval: BM25 + exact dense cosine fused with reciprocal-
# rank fusion (score = sum 1/(60+rank), absent list contributes 0).
# Both input rankings are exactly checkable (the BM25 score fragments
# and the cosine fold are shared with BM25_TOPK / ANN_TOPK above), so
# the fused list is too: RRF only consumes integer ranks.
HYBRID_K = 20
HYBRID_DEPTH = 50
HYBRID_RRF_K = 60
HYBRID_QUERY_VEC = 0

HYBRID_TOPK = f"""
WITH {oracle_ctes('corpus')},
d AS (SELECT id, string_split(text, ' ') AS toks FROM corpus),
m AS (SELECT id, len(toks) AS dl{_BM25_TF} FROM d),
st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl{_BM25_DF} FROM m),
sc AS (SELECT id, {_BM25_SCORE} AS score, ({_BM25_ANY}) AS anym
       FROM m CROSS JOIN st),
lexr AS (SELECT id, ROUND(score, 6) AS score FROM sc WHERE anym
         ORDER BY score DESC, id LIMIT {HYBRID_DEPTH}),
lex AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id)
                     AS INT) AS rank_0
        FROM lexr),
q AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC}),
v AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings),
dsc AS (SELECT v.vec_id AS id,
               ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
        FROM q, v),
denr AS (SELECT id, cosine FROM dsc
         ORDER BY cosine DESC, id LIMIT {HYBRID_DEPTH}),
den AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, id)
                     AS INT) AS rank_1
        FROM denr),
f AS (SELECT COALESCE(l.id, de.id) AS id, l.rank_0, de.rank_1
      FROM lex l FULL OUTER JOIN den de ON l.id = de.id),
sco AS (SELECT id,
               ROUND(COALESCE(1.0 / ({HYBRID_RRF_K}.0
                                     + CAST(rank_0 AS DOUBLE)), 0.0)
                     + COALESCE(1.0 / ({HYBRID_RRF_K}.0
                                       + CAST(rank_1 AS DOUBLE)), 0.0),
                     6) AS rrf,
               rank_0, rank_1
        FROM f),
top AS (SELECT * FROM sco ORDER BY rrf DESC, id LIMIT {HYBRID_K})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS INT) AS rank,
       id, rrf, rank_0, rank_1
FROM top
"""

# Gopher quality-rule audit (text/analysis.py gopher_rules): every
# statistic is a shared-dialect string/list expression, the thresholds
# are the published constants (Rae et al. 2021 Table A1).
_GOPHER_STOP_SUM = " + ".join(
    f"CASE WHEN list_contains(toks, '{s}') THEN 1 ELSE 0 END"
    for s in ["the", "be", "to", "of", "and", "that", "have", "with"]
)

def _gopher_ctes(src: str) -> str:
    """The Gopher stat CTE chain over a (id, text) relation ``src`` —
    shared by GOPHER_RULES and SOURCE_QUALITY so one rule text backs
    both gates."""
    return f"""gt AS (SELECT id, text,
             string_split(text, ' ') AS toks,
             string_split(text, chr(10)) AS lns
      FROM {src}),
gm AS (SELECT id,
             CAST(len(toks) AS INT) AS n_words,
             CAST(len(lns) AS INT) AS n_lines,
             length(text) AS n_chars,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               AS n_sym,
             len(list_filter(toks,
                 x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
             len(list_filter(lns,
                 x -> x LIKE '- %' OR x LIKE '* %')) AS n_bullet,
             len(list_filter(lns, x -> x LIKE '%...')) AS n_ell_line,
             CAST({_GOPHER_STOP_SUM} AS INT) AS n_stop_distinct
      FROM gt),
gr AS (SELECT id, n_words,
             ROUND((n_chars - (n_words - 1) - (n_lines - 1))
                   / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
             ROUND(n_sym / CAST(n_words AS DOUBLE), 6) AS symbol_ratio,
             ROUND(n_bullet / CAST(n_lines AS DOUBLE), 6) AS bullet_frac,
             ROUND(n_ell_line / CAST(n_lines AS DOUBLE), 6)
               AS ellipsis_frac,
             ROUND(n_alpha / CAST(n_words AS DOUBLE), 6) AS alpha_frac,
             n_stop_distinct
      FROM gm)"""


_GOPHER_PASS = """(n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio < 0.1
        AND bullet_frac < 0.9
        AND ellipsis_frac < 0.3
        AND alpha_frac > 0.8
        AND n_stop_distinct >= 2)"""

GOPHER_RULES = f"""
WITH {oracle_ctes('corpus')},
{_gopher_ctes('corpus')}
SELECT id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, n_stop_distinct,
       {_GOPHER_PASS} AS passes
FROM gr
"""

# Per-source curation rollup (text/pipeline.py source_quality): exact
# integer quality points (order-independent sums) + Gopher pass rate,
# grouped by (source, lang) over the driver's documents table.
_QPOINTS = (
    "(CASE WHEN LENGTH(text) >= 100 AND LENGTH(text) <= 20000"
    " THEN 1 ELSE 0 END"
    f" + CASE WHEN ROUND(({_NSTOP}) / CAST({_NTOK} AS DOUBLE), 6)"
    " >= 0.01 THEN 1 ELSE 0 END"
    f" + CASE WHEN ROUND((LENGTH(text) - ({_NTOK} - 1))"
    f" / CAST({_NTOK} AS DOUBLE), 6) BETWEEN 2.0 AND 12.0"
    " THEN 1 ELSE 0 END)"
)

SOURCE_QUALITY = f"""
WITH d AS (SELECT doc_id AS id, text, lang, source FROM documents),
{_gopher_ctes('d')},
p AS (SELECT id, {_QPOINTS} AS pts FROM d),
j AS (SELECT d.source, d.lang, p.pts,
             CASE WHEN {_GOPHER_PASS} THEN 1 ELSE 0 END AS pass
      FROM d
      JOIN gr ON gr.id = d.id
      JOIN p ON p.id = d.id)
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(pts) / (3.0 * COUNT(*)), 6) AS avg_quality,
       CAST(SUM(pass) AS BIGINT) AS n_pass,
       ROUND(SUM(pass) / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
FROM j GROUP BY source, lang
"""

# Token-budget mixing plan (text/corpus.py mixture_plan): integer
# weights keep every aggregate exact until the final divisions.
MIXTURE_TARGETS = {"src0": 5, "src1": 3, "src2": 2, "src3": 1, "src4": 1}
MIXTURE_BUDGET = 1_000_000
_MIX_W = sum(MIXTURE_TARGETS.values())
_MIX_VALUES = ", ".join(
    f"('{s}', {v})" for s, v in MIXTURE_TARGETS.items()
)
_MIX_IN = ", ".join(f"'{s}'" for s in MIXTURE_TARGETS)
_MIX_PLANNED = (
    f"CAST(ROUND({MIXTURE_BUDGET} * w._w"
    f" / CAST({_MIX_W} AS DOUBLE), 0) AS BIGINT)"
)

MIXTURE_PLAN = f"""
WITH w(source, _w) AS (VALUES {_MIX_VALUES}),
d AS (SELECT source, {_NTOK} AS ntok FROM documents
      WHERE source IN ({_MIX_IN})),
per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
SELECT w.source,
       COALESCE(p.n_docs, 0) AS n_docs,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       ROUND(COALESCE(p.n_tokens, 0) / CAST(tot.t AS DOUBLE), 6)
           AS natural_frac,
       ROUND(w._w / CAST({_MIX_W} AS DOUBLE), 6) AS target_frac,
       {_MIX_PLANNED} AS planned_tokens,
       CASE WHEN p.n_tokens > 0
            THEN ROUND({_MIX_PLANNED}
                       / CAST(p.n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS epochs,
       (CASE WHEN p.n_tokens > 0
             THEN ROUND({_MIX_PLANNED}
                        / CAST(p.n_tokens AS DOUBLE), 6)
             ELSE 0.0 END) > 1.0 AS oversampled
FROM w LEFT JOIN per p ON p.source = w.source CROSS JOIN tot
"""

# Drop-reason ledger (text/pipeline.py drop_reasons): exact-dup argmin
# + Gopher conjunction + quality points, priority-cased.
DROP_REASONS = f"""
WITH {oracle_ctes('corpus')},
{_gopher_ctes('corpus')},
s AS (SELECT id, md5(text) AS fp, {_QPOINTS} AS pts FROM corpus),
j AS (SELECT s.id, s.fp, s.pts, {_GOPHER_PASS} AS pass
      FROM s JOIN gr ON gr.id = s.id),
m AS (SELECT id, fp, pts, pass,
             MIN(id) OVER (PARTITION BY fp) AS min_id
      FROM j)
SELECT id,
       CASE WHEN fp IS NOT NULL AND id <> min_id THEN 'exact_dup'
            WHEN NOT COALESCE(pass, FALSE) THEN 'gopher_fail'
            WHEN pts < 2 THEN 'low_quality'
            ELSE 'kept' END AS reason
FROM m
"""

# Streaming quality gate (streaming/grid_stream.py
# run_streaming_quality_gate): stateless scoring stream over the
# documents table == the batch quality/Gopher projection.
STREAM_QUALITY_GATE = f"""
WITH d AS (SELECT doc_id AS id, text FROM documents),
{_gopher_ctes('d')},
p AS (SELECT id, ROUND({_QPOINTS} / 3.0, 6) AS quality FROM d)
SELECT gr.id AS doc_id, p.quality, {_GOPHER_PASS} AS passes
FROM gr JOIN p ON p.id = gr.id
"""

# Duplicate n-gram character coverage (text/analysis.py
# dup_ngram_coverage, n=5): coverage recomputed RELATIONALLY — lateral
# gram unnest, HAVING-count duplicates, distinct span indices — an
# independent algorithm from Spark's row-local sorted-adjacency pass.
DUP_NGRAM_N = 5

DUP_NGRAM_COVERAGE = f"""
WITH {oracle_ctes('corpus')},
t AS (SELECT id, text, string_split(text, ' ') AS toks FROM corpus),
base AS (SELECT id, toks, len(toks) AS m,
                CAST(length(text) - (len(toks) - 1) AS BIGINT)
                  AS tok_chars
         FROM t),
g AS (SELECT b.id, u.i,
             array_to_string(b.toks[u.i + 1 : u.i + {DUP_NGRAM_N}], ' ')
               AS gram
      FROM base b,
           UNNEST(generate_series(0, b.m - {DUP_NGRAM_N})) AS u(i)
      WHERE b.m >= {DUP_NGRAM_N}),
d AS (SELECT id, gram FROM g GROUP BY id, gram HAVING COUNT(*) >= 2),
occ AS (SELECT g.id, g.i
        FROM g JOIN d ON d.id = g.id AND d.gram = g.gram),
cov AS (SELECT DISTINCT o.id, u.j
        FROM occ o,
             UNNEST(generate_series(o.i, o.i + {DUP_NGRAM_N} - 1))
               AS u(j)),
covch AS (SELECT c.id,
                 CAST(SUM(length(b.toks[c.j + 1])) AS BIGINT)
                   AS covered_chars
          FROM cov c JOIN base b ON b.id = c.id
          GROUP BY c.id)
SELECT b.id, CAST(b.m AS BIGINT) AS n_tokens, b.tok_chars,
       COALESCE(cc.covered_chars, 0) AS covered_chars,
       CASE WHEN b.tok_chars > 0
            THEN ROUND(COALESCE(cc.covered_chars, 0)
                       / CAST(b.tok_chars AS DOUBLE), 6)
            ELSE 0.0 END AS dup_ngram_char_frac
FROM base b LEFT JOIN covch cc ON cc.id = b.id
"""

# --- profiling / OLAP-shape additions (round 3) ---

DOC_PROFILE = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99_chars
FROM documents GROUP BY lang
"""

DOCS_ROLLUP = """
SELECT COALESCE(lang, '(all)') AS lang,
       COALESCE(source, '(all)') AS source,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP(lang, source)
"""

EVENT_TRANSITIONS = """
WITH s AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events),
l AS (SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS prev_event_type
      FROM s)
SELECT prev_event_type, event_type, COUNT(*) AS n
FROM l WHERE prev_event_type IS NOT NULL
GROUP BY prev_event_type, event_type
"""

# WKT round-trip: same closed-form L-shape area truth as the GeoJSON /
# SpatiaLite round-trips — a coordinate lost in either codec direction
# breaks the hash
WKT_ROUNDTRIP = f"""
WITH {oracle_ctes('cpolys')}
SELECT id, has_hole,
       ROUND(CAST(3000000.0 - has_hole * 250000.0 AS DOUBLE), 6) AS area
FROM cpolys
"""

# k-NN join (k=3 generalization of SNAP_POINTS, same frame + ties)
KNN_POINTS = f"""
WITH {oracle_ctes('points', 'road_verts')},
cand AS (
  SELECT p.id, p.x, p.y,
         v.id AS snapped_id, v.vidx AS snapped_vidx,
         v.vx AS snap_x, v.vy AS snap_y,
         SQRT((p.x - v.vx) * (p.x - v.vx)
              + (p.y - v.vy) * (p.y - v.vy)) AS d
  FROM points p, road_verts v
  WHERE v.vx BETWEEN p.x - 500.0 AND p.x + 500.0
    AND v.vy BETWEEN p.y - 500.0 AND p.y + 500.0),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY id ORDER BY d, snapped_id, snapped_vidx) AS INT) AS rn
  FROM cand WHERE d <= 500.0)
SELECT id, x, y, rn AS nn_rank, snapped_id, snapped_vidx, snap_x, snap_y,
       ROUND(d, 6) AS snap_dist
FROM ranked WHERE rn <= 3
"""

# equi-width histogram of events.value: closed-form bin edges from the
# global min/max (one tiny reduce), one combinable count shuffle
VALUE_HISTOGRAM = """
WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
h AS (SELECT LEAST(CAST(FLOOR((value - lo)
                              / GREATEST((hi - lo) / 20.0, 1e-300))
                        AS BIGINT),
                   19) AS bin
      FROM events CROSS JOIN b)
SELECT bin, COUNT(*) AS n FROM h GROUP BY bin
"""

# data-quality audit over orders/customer: row predicates + FK + key
# uniqueness, one (rule, n_violations) row each
DQ_AUDIT = """
SELECT 'nonpositive_price' AS rule,
       CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'bad_status',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       OR o_orderstatus IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'null_custkey',
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orphan_custkey',
       CAST(COUNT(*) AS BIGINT)
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'dup_orderkey',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
FROM orders
"""

# Z-order layout key over the points layer: the oracle SQL is built by
# the same term generator the Spark expression unrolls, so both engines
# compute the identical interleave arithmetic
from .operators.zorder import zorder_key_sql as _zsql  # noqa: E402

ZORDER_BOUNDS = dict(xmin=0.0, ymin=0.0, xmax=100000.0, ymax=100000.0)

ZORDER_KEYS = f"""
WITH {oracle_ctes('points')}
SELECT id, {_zsql('x', 'y', ZORDER_BOUNDS)} AS zkey
FROM points
"""

# --- round-4 training-data additions: PII scan ---
# The corpus fixture carries no PII, so the query plants deterministic
# PII strings by id class (mirrored in _pii_corpus in __spark_entry__);
# count + redact SQL is generated from text/pii.py's PII_PATTERNS so
# both engines share the pattern strings character-for-character.
from .text import pii as _pii  # noqa: E402

_PII_PLANT = """
pc AS (SELECT id,
  CASE WHEN id % 7 = 0 THEN text || ' contact u' || CAST(id AS VARCHAR)
                               || '@example.com now'
       WHEN id % 7 = 1 THEN text || ' call 555-867-5309 or 555.123.4567 today'
       WHEN id % 7 = 2 THEN text || ' ssn 123-45-6789 on file'
       WHEN id % 7 = 3 THEN text || ' from 10.0.' || CAST(id % 256 AS VARCHAR)
                               || '.1 via 192.168.1.'
                               || CAST(id % 200 AS VARCHAR)
       ELSE text END AS text
  FROM corpus)
"""

_PII_COUNT_COLS = ",\n       ".join(
    f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
    for name, pat, _ in _pii.PII_PATTERNS
)
_PII_TOTAL = " + ".join(
    f"len(regexp_extract_all(text, '{pat}'))"
    for _name, pat, _ in _pii.PII_PATTERNS
)
_PII_REDACT = "text"
for _name, _pat, _repl in _pii.PII_PATTERNS:
    _PII_REDACT = f"regexp_replace({_PII_REDACT}, '{_pat}', '{_repl}', 'g')"

PII_SCAN = f"""
WITH {oracle_ctes('corpus')}, {_PII_PLANT}
SELECT id,
       {_PII_COUNT_COLS},
       {_PII_TOTAL} AS n_pii,
       {_PII_REDACT} AS text
FROM pc
"""

# C4-style boilerplate line removal over multi-line documents. The raw
# corpus docs are single-line, so the query assembles multi-line docs
# (id % 193 classes, texts concatenated in id order — mirrored by
# _mdoc_corpus in __spark_entry__); the corpus's duplicated docs then
# repeat lines across assembled documents, which the operator removes.
BOILERPLATE_MIN_DOCS = 2

BOILERPLATE_LINES = f"""
WITH {oracle_ctes('corpus')},
mdoc AS (SELECT id % 193 AS id,
                string_agg(text, chr(10) ORDER BY id) AS text
         FROM corpus GROUP BY id % 193),
p AS (SELECT id, string_split(text, chr(10)) AS parts FROM mdoc),
lines AS (SELECT id, CAST(pos AS BIGINT) - 1 AS pos,
                 list_extract(parts, CAST(pos AS INT)) AS line
          FROM p, UNNEST(range(1, len(parts) + 1)) AS u(pos)),
counts AS (SELECT line, COUNT(DISTINCT id) AS n_docs
           FROM lines GROUP BY line)
SELECT l.id,
       COALESCE(string_agg(
           CASE WHEN c.n_docs < {BOILERPLATE_MIN_DOCS} THEN l.line END,
           chr(10) ORDER BY l.pos), '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN c.n_docs >= {BOILERPLATE_MIN_DOCS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM lines l JOIN counts c ON c.line = l.line
GROUP BY l.id
"""

# Deterministic training shuffle: md5-keyed shard + in-shard rank.
# Same '0x'||substr(md5)::UBIGINT pattern the minhash oracle uses for
# Spark's conv(substring(md5,1,8),16,10).
SHARD_N = 8
SHARD_SEED = 0

SHARD_CORPUS = f"""
WITH {oracle_ctes('corpus')},
keyed AS (SELECT id,
                 md5('{SHARD_SEED}_' || CAST(id AS VARCHAR)) AS key,
                 CAST(('0x' || substr(md5('{SHARD_SEED}_'
                       || CAST(id AS VARCHAR)), 1, 8))::UBIGINT
                      % {SHARD_N} AS BIGINT) AS shard
          FROM corpus)
SELECT id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, id) - 1
            AS BIGINT) AS pos
FROM keyed
"""

# Per-vector symmetric int8 quantization (vector/quantize.py): shared
# closed-form round-half-up so both engines agree bit-for-bit. The
# declared query stringifies qvec (the driver compare sorts rows
# columnwise in pandas, where array columns are unorderable).
QUANTIZE_INT8 = """
WITH s AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
sc AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       FROM s)
SELECT vec_id AS id,
       CAST(len(v) AS INT) AS dims,
       scale,
       array_to_string(list_transform(v, x ->
           CAST(CAST(FLOOR(x / GREATEST(scale, 1e-30) + 0.5) AS INT)
                AS VARCHAR)), ',') AS qvec
FROM sc
"""

# URL/domain audit: the corpus fixture has no URLs, so the query plants
# deterministic ones by id class (mirrored in _url_corpus); pattern
# strings come from text/web.py verbatim.
from .text import web as _web  # noqa: E402

_URL_PLANT = """
uc AS (SELECT id,
  CASE WHEN id % 11 = 0 THEN text || ' see https://ex'
                                || CAST(id % 5 AS VARCHAR)
                                || '.example.com/p/' || CAST(id AS VARCHAR)
       WHEN id % 11 = 1 THEN text || ' links http://mirror.example.org/dl'
                                || ' and https://cdn.example.net/a%20b'
       WHEN id % 11 = 2 THEN text || ' ref https://docs.example.com'
       ELSE text END AS text
  FROM corpus)
"""

URL_STATS = f"""
WITH {oracle_ctes('corpus')}, {_URL_PLANT},
u AS (SELECT id, UNNEST(regexp_extract_all(text, '{_web.URL_PATTERN}')) AS url
      FROM uc)
SELECT regexp_extract(url, '{_web.DOMAIN_PATTERN}', 1) AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
FROM u GROUP BY 1
"""

# Stream-stream interval join (streaming/grid_stream.py
# interval_join_events): every (error, click) pair for the same user
# with the click within 4 hours before the error. Oracle is the
# plain batch inequality join.
IVJOIN_LAG_S = 14400

STREAM_INTERVAL_JOIN = f"""
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
            FROM events)
SELECT e.event_id AS err_id, c.event_id AS click_id,
       e.us - c.us AS lag_us
FROM ev e JOIN ev c
  ON c.user_id = e.user_id
 AND e.event_type = 'error' AND c.event_type = 'click'
 AND c.us <= e.us AND c.us >= e.us - {IVJOIN_LAG_S * 1_000_000}
"""

# Document chunking (text/corpus.py chunk_documents): sliding
# fixed-token windows, stride = max_tokens - overlap, last chunk =
# first window reaching the final token.
CHUNK_MAX_TOKENS = 32
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_MAX_TOKENS - CHUNK_OVERLAP

CHUNK_DOCUMENTS = f"""
WITH {oracle_ctes('corpus')},
base AS (SELECT id, string_split(text, ' ') AS w,
                GREATEST(CAST(CEIL((len(string_split(text, ' '))
                                    - {CHUNK_MAX_TOKENS})
                                   / {_CHUNK_STRIDE}.0) AS BIGINT) + 1,
                         1) AS n_chunks
         FROM corpus),
ch AS (SELECT id, n_chunks, CAST(u.c AS BIGINT) AS chunk_id,
              list_slice(w, CAST(u.c AS BIGINT) * {_CHUNK_STRIDE} + 1,
                         CAST(u.c AS BIGINT) * {_CHUNK_STRIDE}
                         + {CHUNK_MAX_TOKENS}) AS sl
       FROM base, UNNEST(range(0, n_chunks)) AS u(c))
SELECT id, chunk_id, n_chunks,
       CAST(len(sl) AS INT) AS chunk_tokens,
       array_to_string(sl, ' ') AS chunk_text
FROM ch
"""

# Vocabulary with coverage (text/corpus.py build_vocab): top-n terms
# by (count desc, term asc) and the cumulative occurrence share.
VOCAB_TOP_N = 50

BUILD_VOCAB = f"""
WITH {oracle_ctes('corpus')},
tok AS (SELECT id, u.term FROM corpus,
        UNNEST(string_split(text, ' ')) AS u(term)
        WHERE u.term <> ''),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
           FROM tok GROUP BY term),
total AS (SELECT SUM(n_occurrences) AS t FROM counts),
top AS (SELECT * FROM counts
        ORDER BY n_occurrences DESC, term ASC LIMIT {VOCAB_TOP_N})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term ASC)
            AS INT) AS rank,
       term, n_occurrences, n_docs,
       ROUND(SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC,
                                      term ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
             / CAST(t AS DOUBLE), 6) AS cum_share
FROM top CROSS JOIN total
"""

# Deterministic k-per-group sampling (text/corpus.py
# sample_k_per_group): cap the corpus at K docs per language class
# (lang derived from the doc id as in the stratified fixture).
SAMPLE_K = 20
SAMPLE_K_SEED = 7

SAMPLE_K_PER_GROUP = f"""
WITH {oracle_ctes('corpus')},
l AS (SELECT id, text,
             CASE WHEN id % 4 = 0 THEN 'en' WHEN id % 4 = 1 THEN 'fr'
                  WHEN id % 4 = 2 THEN 'de' ELSE 'es' END AS lang
      FROM corpus),
r AS (SELECT id, lang,
             ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY md5('{SAMPLE_K_SEED}_' || CAST(id AS VARCHAR)) ASC,
                          id ASC) AS sample_rank
      FROM l)
SELECT id, lang, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= {SAMPLE_K}
"""

# Text normalization over the PII-planted corpus (reusing the messy
# fixture: mixed case is absent from the word soup, but the planted
# '@' '.' '-' '%' '/' ':' characters exercise the punctuation strip).
NORMALIZE_CORPUS = f"""
WITH {oracle_ctes('corpus')}, {_PII_PLANT}
SELECT id,
       trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS text,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
FROM pc
"""

# Daily top-k users by event volume: time-bucketed WindowGroupLimit
# top-k — the leaderboard shape of an OLAP pipeline.
TOP_USERS_K = 3

TOP_USERS_DAILY = f"""
WITH c AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us, user_id,
                  CAST(COUNT(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1, 2)
SELECT day_us, user_id, n_events,
       CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY day_us
                                   ORDER BY n_events DESC, user_id ASC)
                AS rnk
      FROM c)
WHERE rnk <= {TOP_USERS_K}
"""

# Exhaustive exact n-gram Jaccard (prefix-filtered on the Spark side;
# the oracle generates candidates naively from ANY shared shingle —
# an independent path that would expose a prefix-filter recall bug).
# The filter uses the raw quotient (not the rounded display value) on
# both sides, so prefix-pruned borderline pairs cannot diverge.
NGRAM_PREFIX_T = 0.5

NGRAM_JACCARD_EXHAUSTIVE = f"""
WITH {oracle_ctes('corpus')}, {_SHINGLE_HASHED_CTE},
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.id < b.id),
sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM shh GROUP BY id),
inter AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
          FROM cand c
          JOIN shh sa ON sa.id = c.id_a
          JOIN shh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= {NGRAM_PREFIX_T}
"""

# CUBE sibling of DOCS_ROLLUP: all four granularities — (lang, source),
# per-lang, per-source, grand total — from one grouping-set expansion.
DOCS_CUBE = """
SELECT COALESCE(lang, '(all)') AS lang,
       COALESCE(source, '(all)') AS source,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE(lang, source)
"""

# Time-series resampling with forward fill (operators/temporal.py
# resample_ffill): 6-hour grid per user over the user's observed span;
# gap buckets inherit the latest value at-or-before them. The oracle
# mirrors the struct-max bucket aggregate (same (us, tiebreak, value)
# field order) and the IGNORE NULLS running last.
RESAMPLE_STEP_US = 21_600_000_000

RESAMPLE_FFILL = f"""
WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
            FROM events),
pb AS (SELECT user_id, CAST(FLOOR(us / {RESAMPLE_STEP_US}) AS BIGINT) AS b,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              (MAX(struct_pack(us := us, tb := event_id, v := value))).v AS v
       FROM ev GROUP BY 1, 2),
spans AS (SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM pb GROUP BY 1),
grid AS (SELECT user_id, CAST(u.b AS BIGINT) AS b
         FROM spans, UNNEST(range(b0, b1 + 1)) AS u(b)),
j AS (SELECT g.user_id, g.b, COALESCE(p.n_events, 0) AS n_events, p.v
      FROM grid g LEFT JOIN pb p ON p.user_id = g.user_id AND p.b = g.b)
SELECT user_id, b * {RESAMPLE_STEP_US} AS bucket_us,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
FROM j
"""

# Corpus snapshot diff (text/pipeline.py corpus_diff): the "new"
# snapshot is derived deterministically from the corpus fixture —
# id % 13 == 0 docs removed, id % 7 == 0 docs edited, id % 11 == 0
# docs re-added under id + 3000000 (mirrored in _q_corpus_diff).
CORPUS_DIFF = f"""
WITH {oracle_ctes('corpus')},
oldc AS (SELECT id, md5(text) AS old_hash FROM corpus),
newc AS (SELECT id,
                md5(CASE WHEN id % 7 = 0 THEN text || ' v2' ELSE text END)
                    AS new_hash
         FROM corpus WHERE id % 13 <> 0
         UNION ALL
         SELECT id + 3000000 AS id, md5(text) AS new_hash
         FROM corpus WHERE id % 11 = 0),
j AS (SELECT COALESCE(o.id, n.id) AS id, o.old_hash, n.new_hash,
             o.id IS NOT NULL AS in_old, n.id IS NOT NULL AS in_new
      FROM oldc o FULL OUTER JOIN newc n ON n.id = o.id)
SELECT id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
            END AS status,
       old_hash, new_hash
FROM j
WHERE NOT in_old OR NOT in_new OR old_hash IS DISTINCT FROM new_hash
"""

# CDC latest-wins merge (operators/cdc.py apply_changes): the change
# feed is derived deterministically from the corpus fixture —
# id % 7 == 0 updated at version 1, id % 13 == 0 deleted at version 2
# (delete outranks the update where both apply), id % 11 == 0 inserted
# under id + 5000000 at version 1 (mirrored in _q_cdc_snapshot). Base
# rows join the feed at version -1; arg_max over a struct keeps the
# winning row's (op, text) together, matching Spark's max_by(struct).
CDC_SNAPSHOT = f"""
WITH {oracle_ctes('corpus')},
changes AS (
  SELECT id, text || ' v2' AS text, CAST(1 AS BIGINT) AS v, 'U' AS op
  FROM corpus WHERE id % 7 = 0
  UNION ALL
  SELECT id, CAST(NULL AS VARCHAR), CAST(2 AS BIGINT), 'D'
  FROM corpus WHERE id % 13 = 0
  UNION ALL
  SELECT id + 5000000, text || ' new', CAST(1 AS BIGINT), 'U'
  FROM corpus WHERE id % 11 = 0),
allr AS (SELECT id, text, CAST(-1 AS BIGINT) AS v, 'U' AS op FROM corpus
         UNION ALL SELECT id, text, v, op FROM changes),
w AS (SELECT id, arg_max(struct_pack(op := op, text := text), v) AS s
      FROM allr GROUP BY id)
SELECT id, md5(s['text']) AS content_md5
FROM w WHERE s['op'] <> 'D'
"""

# Sketch-vs-exact cardinality audit (operators/audit.py
# approx_distinct_report): the oracle pins the exact counts and the
# CONTRACT that HLL++ at rsd=0.02 stays within 5% relative error —
# within_bound is the constant TRUE the Spark side must reproduce by
# actually hitting the bound (the estimate itself is engine-specific
# and deliberately outside the output contract).
APPROX_DISTINCT_AUDIT = """
SELECT 'user_id' AS col_name,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_bound
FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(DISTINCT event_type) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'event_id', CAST(COUNT(DISTINCT event_id) AS BIGINT), TRUE
FROM events
"""

# Grouped embedding centroids (vector/centroids.py group_centroids):
# long-form per-(label, dimension) means; DuckDB's zipped UNNEST pairs
# each element with its 0-based position, matching Spark's posexplode.
LABEL_CENTROIDS = """
WITH ex AS (SELECT label AS "group",
                   CAST(UNNEST(embedding) AS DOUBLE) AS val,
                   CAST(UNNEST(range(len(embedding))) AS INT) AS pos
            FROM embeddings WHERE embedding IS NOT NULL)
SELECT "group", pos, ROUND(AVG(val), 6) AS mean,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM ex GROUP BY 1, 2
"""

# Quality-gate funnel (text/pipeline.py quality_funnel): cumulative
# stage survival over the same ROUNDED token-stat columns the quality
# score uses, so the two reports cannot disagree.
QUALITY_FUNNEL = f"""
WITH {oracle_ctes('corpus')},
st AS (SELECT LENGTH(text) AS n_chars,
              ROUND(({_NSTOP}) / CAST({_NTOK} AS DOUBLE), 6) AS swr,
              ROUND((LENGTH(text) - ({_NTOK} - 1))
                    / CAST({_NTOK} AS DOUBLE), 6) AS atl
       FROM corpus),
ff AS (SELECT CASE WHEN n_chars IS NULL THEN 0
                   WHEN NOT (n_chars >= 100 AND n_chars <= 20000) THEN 1
                   WHEN NOT (swr >= 0.01) THEN 2
                   WHEN NOT (atl >= 2.0 AND atl <= 12.0) THEN 3
                   ELSE 4 END AS f
       FROM st),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(COUNT(*) FILTER (WHERE f > 0) AS BIGINT) AS s0,
               CAST(COUNT(*) FILTER (WHERE f > 1) AS BIGINT) AS s1,
               CAST(COUNT(*) FILTER (WHERE f > 2) AS BIGINT) AS s2,
               CAST(COUNT(*) FILTER (WHERE f > 3) AS BIGINT) AS s3
        FROM ff)
SELECT CAST(0 AS INT) AS stage_idx, 'has_text' AS stage,
       n0 AS n_in, n0 - s0 AS n_dropped, s0 AS n_out FROM agg
UNION ALL SELECT 1, 'len_ok', s0, s0 - s1, s1 FROM agg
UNION ALL SELECT 2, 'stop_ok', s1, s1 - s2, s2 FROM agg
UNION ALL SELECT 3, 'tok_ok', s2, s2 - s3, s3 FROM agg
"""

# BPE-ish regex token counting (text/analysis.py regex_token_stats):
# the pattern string is shared verbatim — it sits in the Java-regex /
# RE2 intersection (no lookaheads).
from .text import analysis as _analysis  # noqa: E402

REGEX_TOKENS = f"""
WITH {oracle_ctes('corpus')}
SELECT id,
       {_NTOK} AS n_ws_tokens,
       CAST(LEN(regexp_extract_all(text, '{_analysis.REGEX_TOKEN_PATTERN}'))
            AS BIGINT) AS n_re_tokens,
       ROUND(LEN(regexp_extract_all(text, '{_analysis.REGEX_TOKEN_PATTERN}'))
             / CAST({_NTOK} AS DOUBLE), 6) AS tokens_per_word
FROM corpus
"""

# Semi-structured payload audit (operators/audit.py json_field_stats):
# corruption planted by event_id class (mirrored in
# _q_json_props_stats) exercises the malformed-JSON and missing-key
# paths. Spark's from_json with a BIGINT schema nulls the field unless
# the JSON value is an integer-typed number (quoted "5", 5.0, true all
# parse to NULL — verified empirically), so the mirror guards on
# json_type IN (BIGINT, UBIGINT), not merely json_valid + TRY_CAST.
JSON_PROPS_STATS = """
WITH pe AS (SELECT event_type,
                   CASE WHEN event_id % 97 = 0 THEN 'not json'
                        WHEN event_id % 89 = 0 THEN '{"x": 1}'
                        ELSE props END AS props
            FROM events),
x AS (SELECT event_type,
             CASE WHEN json_valid(props)
                   AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS v
      FROM pe)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(v) AS BIGINT) AS n_with_field,
       CAST(SUM(v) AS BIGINT) AS sum_value,
       MIN(v) AS min_value,
       MAX(v) AS max_value,
       ROUND(AVG(v), 6) AS avg_value
FROM x GROUP BY event_type
"""

# Salted equi-join (operators/skew.py salted_join): output contract is
# the PLAIN join — the salt is an execution detail the oracle must not
# see. Events join a derived per-user tier dim; per-tier accounting.
SALTED_JOIN_N = 4

SALTED_JOIN_STATS = """
WITH dim AS (SELECT DISTINCT user_id,
                    CASE WHEN user_id % 3 = 0 THEN 'gold'
                         WHEN user_id % 3 = 1 THEN 'silver'
                         ELSE 'bronze' END AS tier
             FROM events)
SELECT d.tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY d.tier
"""

# Quantile-sketch calibration (operators/audit.py
# approx_percentile_report): exact percentiles pinned (Spark
# `percentile` == DuckDB quantile_cont, proven by doc_profile), and
# within_bound=TRUE is the rank-error contract the GK sketch must earn.
APPROX_PERCENTILE_AUDIT = """
SELECT 0.5 AS quantile,
       ROUND(quantile_cont(value, 0.5), 6) AS exact_value,
       TRUE AS within_bound
FROM events
UNION ALL
SELECT 0.9, ROUND(quantile_cont(value, 0.9), 6), TRUE FROM events
UNION ALL
SELECT 0.99, ROUND(quantile_cont(value, 0.99), 6), TRUE FROM events
"""

# Deterministic train/val/test split (text/corpus.py split_corpus):
# same md5 32-bit-fraction trick as SHARD_CORPUS, thresholded at the
# cumulative fractions.
SPLIT_SEED = 0
SPLIT_FRACTIONS = (("train", 0.9), ("val", 0.05), ("test", 0.05))

# split assignment as a reusable CTE fragment (shared by SPLIT_CORPUS
# and SPLIT_LEAKAGE — one split semantics)
_SPLIT_CTES = f"""
keyed AS (SELECT id,
                 CAST(('0x' || substr(md5('{SPLIT_SEED}_'
                       || CAST(id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                 / 4294967296.0 AS frac
          FROM corpus),
sp AS (SELECT id,
              CASE WHEN frac < 0.9 THEN 'train'
                   WHEN frac < {0.9 + 0.05} THEN 'val'
                   ELSE 'test' END AS split
       FROM keyed)"""

SPLIT_CORPUS = f"""
WITH {oracle_ctes('corpus')},
{_SPLIT_CTES}
SELECT id, split FROM sp
"""

# Fuzzy vocabulary pairs (text/fuzzy.py fuzzy_token_pairs): the oracle
# deliberately uses the quadratic ALL-PAIRS form with only a length
# prefilter — a hash match therefore proves the engine's FastSS
# deletion-neighborhood candidate generator finds EVERY distance-1
# pair. levenshtein is byte-based in DuckDB vs char-based in Spark:
# equal on this ASCII fixture (see the module docstring).
FUZZY_VOCAB = """
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, substr(text, 2) FROM documents
  WHERE doc_id % 7 = 0
),
toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM corpus),
vocab AS (SELECT tok, COUNT(*) AS n FROM toks
          WHERE length(tok) >= 1 GROUP BY tok)
SELECT a.tok AS tok_a, b.tok AS tok_b,
       levenshtein(a.tok, b.tok) AS dist, a.n AS n_a, b.n AS n_b
FROM vocab a JOIN vocab b ON a.tok < b.tok
WHERE abs(length(a.tok) - length(b.tok)) <= 1
  AND levenshtein(a.tok, b.tok) <= 1
"""

# Per-group weighted sampling (text/corpus.py weighted_sample_by_group):
# the same Efraimidis-Spirakis priority, top-k per lang.
WEIGHTED_SAMPLE_GROUPED = f"""
WITH keyed AS (
  SELECT doc_id AS id, lang, CAST(n_chars AS BIGINT) AS weight,
         ROUND(-LN((CAST(('0x' || substr(md5('{SPLIT_SEED}_'
                    || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                    + 0.5) / 4294967296.0) / CAST(n_chars AS BIGINT), 9)
             AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY es_key, id) AS rn
      FROM keyed)
SELECT id, lang, weight, es_key FROM r WHERE rn <= 30
"""

# Naive Bayes language classification (text/classify.py nb_confusion):
# the identical counting algebra — Laplace-smoothed per-(class, token)
# log-probs, unseen-token fallback, document-share prior — with the
# same ROUND(score, 6) + class-name tiebreak before the argmax, so
# both engines pick the identical class under double-precision drift.
NB_CLASSIFY = """
WITH toks AS (SELECT lang AS label, doc_id AS id,
                     UNNEST(string_split(text, ' ')) AS tok
              FROM documents),
ct AS (SELECT label, tok, COUNT(*) AS n_tok FROM toks GROUP BY label, tok),
tot AS (SELECT label, COUNT(*) AS n_total FROM toks GROUP BY label),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
dpc AS (SELECT lang AS label, COUNT(*) AS n_docs
        FROM documents GROUP BY lang),
nall AS (SELECT COUNT(*) AS n_all FROM documents),
classes AS (SELECT t.label,
                   LN(d.n_docs / CAST(n.n_all AS DOUBLE)) AS log_prior,
                   LN(1.0 / (t.n_total + vb.v)) AS log_default,
                   t.n_total, vb.v
            FROM tot t
            CROSS JOIN vocab vb
            JOIN dpc d ON d.label = t.label
            CROSS JOIN nall n),
model AS (SELECT c.label, c.tok,
                 LN((c.n_tok + 1) / CAST(cl.n_total + cl.v AS DOUBLE))
                     AS log_cond
          FROM ct c JOIN classes cl ON cl.label = c.label),
sc AS (SELECT tk.id, cl.label,
              SUM(COALESCE(m.log_cond, cl.log_default)) AS s
       FROM toks tk
       CROSS JOIN classes cl
       LEFT JOIN model m ON m.label = cl.label AND m.tok = tk.tok
       GROUP BY tk.id, cl.label),
fin AS (SELECT sc.id, sc.label, ROUND(sc.s + cl.log_prior, 6) AS score
        FROM sc JOIN classes cl ON cl.label = sc.label),
best AS (SELECT id, label,
                ROW_NUMBER() OVER (PARTITION BY id
                                   ORDER BY score DESC, label ASC) AS rn
         FROM fin)
SELECT d.lang AS actual, b.label AS predicted, COUNT(*) AS n_docs
FROM best b JOIN documents d ON d.doc_id = b.id
WHERE b.rn = 1
GROUP BY d.lang, b.label
"""

# Quality-weighted fixed-k sampling (text/corpus.py weighted_sample):
# the Efraimidis-Spirakis priority recomputed from the same seeded
# md5 uniform; ROUND(...,9) + id tiebreak makes the top-k order
# engine-independent.
WEIGHTED_SAMPLE = f"""
WITH {oracle_ctes('corpus')},
keyed AS (SELECT id, CAST(length(text) AS BIGINT) AS weight,
                 (CAST(('0x' || substr(md5('{SPLIT_SEED}_'
                        || CAST(id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                  + 0.5) / 4294967296.0 AS u
          FROM corpus
          WHERE text IS NOT NULL AND length(text) > 0)
SELECT id, weight, ROUND(-LN(u) / weight, 9) AS es_key
FROM keyed
ORDER BY es_key, id
LIMIT 200
"""

# Train/test leakage audit (text/dedup.py split_leakage): the minhash
# near-dup pairs crossed with the split assignment; only cross-split
# pairs survive. Reuses the MINHASH CTE chain and the split fragment
# verbatim — one pair semantics, one split semantics.
SPLIT_LEAKAGE = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_FINAL}),
{_SPLIT_CTES}
SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b, p.jaccard
FROM pairs p
JOIN sp a ON a.id = p.id_a
JOIN sp b ON b.id = p.id_b
WHERE a.split <> b.split
"""

# Per-document contamination curation artifact (text/dedup.py
# contamination_report): SPLIT_LEAKAGE's cross-split pairs collapsed
# doc-wise, joined with DUP_NGRAM_COVERAGE's relational coverage —
# both CTE chains reused verbatim (one pair semantics, one split
# semantics, one coverage semantics).
_CONTAM_FRAC_GATE = 0.2

CONTAMINATION_REPORT = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_FINAL}),
{_SPLIT_CTES},
leak AS (SELECT p.id_a, p.id_b, p.jaccard
         FROM pairs p
         JOIN sp a ON a.id = p.id_a
         JOIN sp b ON b.id = p.id_b
         WHERE a.split <> b.split),
lsides AS (SELECT id_a AS id, jaccard FROM leak
           UNION ALL
           SELECT id_b AS id, jaccard FROM leak),
lper AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_leak,
                ROUND(MAX(jaccard), 6) AS max_j
         FROM lsides GROUP BY id),
t AS (SELECT id, text, string_split(text, ' ') AS toks FROM corpus),
base AS (SELECT id, toks, len(toks) AS m,
                CAST(length(text) - (len(toks) - 1) AS BIGINT)
                  AS tok_chars
         FROM t),
gg AS (SELECT b.id, u.i,
              array_to_string(b.toks[u.i + 1 : u.i + {DUP_NGRAM_N}], ' ')
                AS gram
       FROM base b,
            UNNEST(generate_series(0, b.m - {DUP_NGRAM_N})) AS u(i)
       WHERE b.m >= {DUP_NGRAM_N}),
dd AS (SELECT id, gram FROM gg GROUP BY id, gram HAVING COUNT(*) >= 2),
occ AS (SELECT gg.id, gg.i
        FROM gg JOIN dd ON dd.id = gg.id AND dd.gram = gg.gram),
cov AS (SELECT DISTINCT o.id, u.j
        FROM occ o,
             UNNEST(generate_series(o.i, o.i + {DUP_NGRAM_N} - 1))
               AS u(j)),
covch AS (SELECT c.id,
                 CAST(SUM(length(b.toks[c.j + 1])) AS BIGINT)
                   AS covered_chars
          FROM cov c JOIN base b ON b.id = c.id
          GROUP BY c.id),
frac AS (SELECT b.id,
                CASE WHEN b.tok_chars > 0
                     THEN ROUND(COALESCE(cc.covered_chars, 0)
                                / CAST(b.tok_chars AS DOUBLE), 6)
                     ELSE 0.0 END AS dup_ngram_char_frac
         FROM base b LEFT JOIN covch cc ON cc.id = b.id)
SELECT f.id, s.split, f.dup_ngram_char_frac,
       COALESCE(lp.n_leak, 0) AS n_cross_split_pairs,
       COALESCE(lp.max_j, 0.0) AS max_leak_jaccard,
       COALESCE(lp.n_leak, 0) > 0 AS leaked,
       f.dup_ngram_char_frac > {_CONTAM_FRAC_GATE} AS repetitive
FROM frac f
JOIN sp s ON s.id = f.id
LEFT JOIN lper lp ON lp.id = f.id
"""

# Exact-substring spans (text/dedup.py exact_substring_spans): the
# identical relational algebra — stride-1 L-gram md5-prefix hashes,
# diagonal gaps-and-islands merge — so spans agree row-for-row.
_SPAN_L = 40
_SPAN_CTES = f"""
g AS (SELECT id, CAST(pos AS BIGINT) AS pos,
             CAST(('0x' || substr(md5(substr(text, CAST(pos AS INT),
                                             {_SPAN_L})), 1, 15))::UBIGINT
                  AS BIGINT) AS gram
      FROM corpus,
           UNNEST(range(1, GREATEST(length(text) - {_SPAN_L - 1}, 0) + 1))
               AS u(pos)
      WHERE text IS NOT NULL),
m AS (SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
             a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id),
r AS (SELECT id_a, id_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_a) AS isl
      FROM m),
runs AS (SELECT id_a, id_b, MIN(pos_a) AS start_a,
                MIN(pos_a) - diag AS start_b,
                COUNT(*) + {_SPAN_L - 1} AS length
         FROM r
         GROUP BY id_a, id_b, diag, isl),
spans AS (
  SELECT rn.id_a, rn.id_b, rn.start_a, rn.start_b, rn.length
  FROM runs rn
  JOIN corpus ca ON ca.id = rn.id_a
  JOIN corpus cb ON cb.id = rn.id_b
  WHERE substr(ca.text, CAST(rn.start_a AS INT), CAST(rn.length AS INT))
      = substr(cb.text, CAST(rn.start_b AS INT), CAST(rn.length AS INT)))
"""

EXACT_SUBSTRING_SPANS = f"""
WITH {oracle_ctes('corpus')},
{_SPAN_CTES}
SELECT id_a, id_b, start_a, start_b, length FROM spans
"""

# Unigram LM scoring (text/corpus.py unigram_logprob): the vocabulary
# is trained on the corpus itself, so every token has positive
# probability; ln is libm double on both engines, absorbed by the
# round(6).
UNIGRAM_LOGPROB = f"""
WITH {oracle_ctes('corpus')},
toks AS (SELECT id, UNNEST(string_split(text, ' ')) AS tok FROM corpus),
vocab AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM vocab)
SELECT t.id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-LN(v.n_tok / CAST(tt.n_total AS DOUBLE))), 6)
           AS avg_neg_logprob
FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN total tt
GROUP BY t.id
"""

# Paragraph-level exact dedup (text/dedup.py paragraph_dedup): keep
# the FIRST (min id, pos) occurrence of every paragraph corpus-wide,
# drop later ones, reassemble. Runs on the same assembled multi-line
# documents as BOILERPLATE_LINES (mdoc mirrors _mdoc_corpus). The
# oracle's keeper comes from an independent ROW_NUMBER walk over the
# raw paragraph text, the operator's from a min(struct) aggregate over
# md5 fingerprints — agreement checks both the hashing and the
# first-occurrence ordering.
PARAGRAPH_DEDUP = f"""
WITH {oracle_ctes('corpus')},
mdoc AS (SELECT id % 193 AS id,
                string_agg(text, chr(10) ORDER BY id) AS text
         FROM corpus GROUP BY id % 193),
p AS (SELECT id, string_split(text, chr(10)) AS parts FROM mdoc),
paras AS (SELECT id, CAST(pos AS BIGINT) - 1 AS pos,
                 list_extract(parts, CAST(pos AS INT)) AS para
          FROM p, UNNEST(range(1, len(parts) + 1)) AS u(pos)),
r AS (SELECT id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY para
                                ORDER BY id, pos) AS rn
      FROM paras)
SELECT id,
       COALESCE(string_agg(CASE WHEN rn = 1 OR para = '' THEN para END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
       CAST(SUM(CASE WHEN rn > 1 AND para <> '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM r GROUP BY id
"""

# CCNet-style head/middle/tail terciles over the unigram-LM score
# (text/corpus.py perplexity_buckets). Cutoffs are exact interpolated
# percentiles — quantile_cont and Spark's percentile share the
# p*(n-1) linear-interpolation definition; both sides round cutoffs
# AND scores to 6 decimals before the boundary comparison.
PERPLEXITY_BUCKETS = f"""
WITH {oracle_ctes('corpus')},
toks AS (SELECT id, UNNEST(string_split(text, ' ')) AS tok FROM corpus),
vocab AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM vocab),
scored AS (SELECT t.id,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  ROUND(AVG(-LN(v.n_tok / CAST(tt.n_total AS DOUBLE))),
                        6) AS avg_neg_logprob
           FROM toks t JOIN vocab v ON v.tok = t.tok
           CROSS JOIN total tt
           GROUP BY t.id),
cuts AS (SELECT ROUND(quantile_cont(avg_neg_logprob,
                                    CAST(1 AS DOUBLE) / 3), 6) AS c1,
                ROUND(quantile_cont(avg_neg_logprob,
                                    CAST(2 AS DOUBLE) / 3), 6) AS c2
         FROM scored)
SELECT s.id, s.n_tokens, s.avg_neg_logprob,
       CASE WHEN s.avg_neg_logprob <= c.c1 THEN 'head'
            WHEN s.avg_neg_logprob <= c.c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s CROSS JOIN cuts c
"""

# Cross-source duplication matrix (text/pipeline.py source_overlap)
# over the sourced corpus (scorpus fixture: derived copies live in a
# synthetic 'mirror' source). Diagonal rows require the fingerprint
# to repeat WITHIN the source.
SOURCE_OVERLAP = f"""
WITH {oracle_ctes('scorpus')},
d AS (SELECT source, md5(text) AS fp, COUNT(*) AS n_occ
      FROM scorpus WHERE text IS NOT NULL
      GROUP BY source, fp)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.fp = b.fp
WHERE a.source < b.source
   OR (a.source = b.source AND a.n_occ > 1)
GROUP BY a.source, b.source
"""

# Source -> target-domain link graph (text/web.py link_graph) over an
# HTML corpus with planted anchors: one absolute link per document
# (attribute name uppercased for every 5th doc — the (?i) flag is load
# bearing), a single-quoted relative link for every 3rd. Patterns are
# the operator's verbatim (Java/RE2 intersection).
LINK_GRAPH = """
WITH html AS (
  SELECT doc_id AS id, source,
         '<p>' || text || '</p><a ' ||
         CASE WHEN doc_id % 5 = 0 THEN 'HREF' ELSE 'href' END ||
         '="https://src' || CAST((doc_id * 7) % 20 AS VARCHAR) ||
         '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
         '">x</a>' ||
         CASE WHEN doc_id % 3 = 0
              THEN '<a href=''/local/' || CAST(doc_id AS VARCHAR)
                   || '''>y</a>'
              ELSE '' END AS html
  FROM documents),
l AS (
  SELECT source,
         UNNEST(regexp_extract_all(html, '(?i)href="([^"]*)"', 1)
                || regexp_extract_all(html, '(?i)href=''([^'']*)''', 1))
             AS link
  FROM html)
SELECT source,
       CASE WHEN regexp_matches(link, '(?i)^https?://')
            THEN lower(regexp_extract(link, '(?i)^https?://([^/]+)', 1))
            ELSE '(relative)' END AS target_domain,
       CAST(COUNT(*) AS BIGINT) AS n_links
FROM l GROUP BY 1, 2
"""

# URL-level dedup (text/web.py url_dedup) over planted surface
# variants of shared canonical URLs: host case, default :443 port,
# fragments, trailing empty query, bare authority. The canonical
# chain uses only anchored regexes, so Spark's replace-all and
# DuckDB's replace-first semantics agree by construction.
URL_DEDUP = r"""
WITH urls AS (
  SELECT doc_id AS id,
         'https://SRC' || CAST(doc_id % 20 AS VARCHAR)
         || '.Example.com/page/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         'https://src' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com:443/page/' || CAST(doc_id AS VARCHAR)
         || '#section-2'
  FROM documents
  UNION ALL
  SELECT doc_id + 2000000,
         'https://src' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR) || '?'
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 3000000,
         'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
  FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 4000000,
         'https://src' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/#x'
  FROM documents WHERE doc_id % 9 = 0),
c AS (
  SELECT id, url,
         lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM urls),
p AS (
  SELECT id, url, scheme,
         lower(regexp_extract(nofrag,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_replace(regexp_extract(nofrag,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
               '\?$', '') AS rest
  FROM c),
k AS (
  SELECT id,
         CASE WHEN scheme = '' THEN url ELSE
         scheme || '://' ||
         CASE WHEN scheme = 'http'
              THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END ||
         CASE WHEN rest = '' THEN '/'
              WHEN rest LIKE '?%' THEN '/' || rest
              ELSE rest END
         END AS canonical_url
  FROM p)
SELECT canonical_url,
       MIN(id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM k GROUP BY canonical_url
"""

# Bigram PMI phrase mining (text/corpus.py bigram_pmi): identical
# association order in the PMI expression on both engines so round(6)
# agrees; the top-k selection is tiebroken (pmi DESC, a, b).
PMI_MIN_COUNT = 5
PMI_TOP_K = 100

BIGRAM_PMI = f"""
WITH {oracle_ctes('corpus')},
t AS (SELECT string_split(text, ' ') AS toks FROM corpus),
uni AS (SELECT UNNEST(toks) AS tok FROM t),
unic AS (SELECT tok, COUNT(*) AS n_uni FROM uni GROUP BY tok),
nu AS (SELECT COUNT(*) AS c FROM uni),
big AS (SELECT list_extract(toks, CAST(i AS INT)) AS a,
               list_extract(toks, CAST(i AS INT) + 1) AS b
        FROM t, UNNEST(range(1, len(toks))) AS u(i)),
bigc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
         FROM big GROUP BY a, b
         HAVING COUNT(*) >= {PMI_MIN_COUNT}),
nb AS (SELECT COUNT(*) AS c FROM big)
SELECT bc.a, bc.b, bc.n_ab,
       ua.n_uni AS n_a, ub.n_uni AS n_b,
       ROUND(LN((bc.n_ab / CAST(nb.c AS DOUBLE))
                / ((ua.n_uni / CAST(nu.c AS DOUBLE))
                   * (ub.n_uni / CAST(nu.c AS DOUBLE)))), 6) AS pmi
FROM bigc bc
JOIN unic ua ON ua.tok = bc.a
JOIN unic ub ON ub.tok = bc.b
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi DESC, bc.a, bc.b
LIMIT {PMI_TOP_K}
"""

# Token frequency-of-frequencies (text/corpus.py token_spectrum).
TOKEN_SPECTRUM = f"""
WITH {oracle_ctes('corpus')},
toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM corpus),
c AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok)
SELECT CAST(freq AS BIGINT) AS freq,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
FROM c GROUP BY freq
"""

# Temperature-scaled mixture weights (text/corpus.py
# temperature_mixture, alpha=0.5): sqrt is correctly rounded under
# IEEE-754 on both engines so per-stratum power terms are
# bit-identical; the share rounds to 6dp BEFORE planned_tokens'
# floor, so the floor cannot straddle engines on a last-ulp sum
# difference. oversampled compares the ROUNDED epoch ratio, the
# MIXTURE_PLAN convention.
TEMP_BUDGET = 1_000_000

TEMPERATURE_MIX = f"""
WITH d AS (SELECT source, {_NTOK} AS ntok FROM documents),
per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
               SUM(SQRT(CAST(n_tokens AS DOUBLE))) AS tp
        FROM per)
SELECT per.source, per.n_docs, per.n_tokens,
       ROUND(per.n_tokens / CAST(tot.tt AS DOUBLE), 6) AS natural_frac,
       ROUND(SQRT(CAST(per.n_tokens AS DOUBLE)) / tot.tp, 6) AS weight,
       CAST(FLOOR(ROUND(SQRT(CAST(per.n_tokens AS DOUBLE)) / tot.tp, 6)
                  * {TEMP_BUDGET}.0) AS BIGINT) AS planned_tokens,
       CASE WHEN per.n_tokens > 0
            THEN ROUND(CAST(FLOOR(
                     ROUND(SQRT(CAST(per.n_tokens AS DOUBLE)) / tot.tp, 6)
                     * {TEMP_BUDGET}.0) AS BIGINT)
                 / CAST(per.n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS epochs,
       (CASE WHEN per.n_tokens > 0
             THEN ROUND(CAST(FLOOR(
                      ROUND(SQRT(CAST(per.n_tokens AS DOUBLE)) / tot.tp, 6)
                      * {TEMP_BUDGET}.0) AS BIGINT)
                  / CAST(per.n_tokens AS DOUBLE), 6)
             ELSE 0.0 END) > 1.0 AS oversampled
FROM per CROSS JOIN tot
"""


def _jl_project_sql() -> str:
    """Full oracle for the JL random projection: the sign matrix is
    the same md5-derived +/-1 literal set, the per-element sum is the
    same left-to-right operation sequence, and the 1/sqrt(k) scale is
    the same driver-computed literal — so projected values are
    bit-identical cross-engine before the 6dp display rounding."""
    import math

    from .vector.project import jl_sign

    k, dims = 16, 64
    scale = 1.0 / math.sqrt(k)
    exprs = []
    for j in range(k):
        # fold seeded at 0.0, left-to-right — the exact operation
        # sequence of the Spark side's aggregate()
        acc = "0.0"
        for d in range(dims):
            acc = (
                f"({acc} + (CAST(embedding[{d + 1}] AS DOUBLE)"
                f" * ({jl_sign(d, j)!r})))"
            )
        exprs.append(f"WHEN {j} THEN ({acc}) * ({scale!r})")
    case = "CASE j " + " ".join(exprs) + " END"
    dim_vals = ", ".join(f"({j})" for j in range(k))
    return f"""
WITH dims(j) AS (VALUES {dim_vals})
SELECT vec_id, CAST(j AS INT) AS j, ROUND({case}, 6) AS val
FROM embeddings CROSS JOIN dims
WHERE embedding IS NOT NULL
"""


JL_PROJECT = _jl_project_sql()


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank mirror (text/web.py
    pagerank): same edge fixture, same transition fractions, same
    conserving update ((1-d)/N + d*(contrib + dangling/N)); literals
    are reprs of the SAME driver-side Python floats Spark ships, so
    the only cross-engine difference is double-sum order (absorbed by
    the final 6dp rounding)."""
    base = (1.0 - damping) / 1.0  # per-N division stays in SQL
    ctes = [
        """edges AS (SELECT 'd' || CAST((doc_id * 7) % 20 AS VARCHAR) AS src,
                 'd' || CAST((doc_id * 13) % 21 AS VARCHAR) AS dst
          FROM documents)""",
        """e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
        FROM edges GROUP BY src, dst)""",
        """nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""",
        """n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nodes)""",
        """outw AS (SELECT src, SUM(w) AS wout FROM e GROUP BY src)""",
        """trans AS (SELECT e.src, e.dst, e.w / o.wout AS frac
           FROM e JOIN outw o ON o.src = e.src)""",
        """r0 AS (SELECT node, 1.0 / n.c AS rank FROM nodes CROSS JOIN n)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""c{i} AS (SELECT t.dst AS node, SUM(t.frac * r.rank) AS contrib
         FROM trans t JOIN r{i} r ON r.node = t.src GROUP BY t.dst)"""
        )
        ctes.append(
            f"""d{i} AS (SELECT COALESCE(SUM(r.rank), 0.0) AS ds
         FROM r{i} r LEFT JOIN outw o ON o.src = r.node
         WHERE o.src IS NULL)"""
        )
        ctes.append(
            f"""r{i + 1} AS (SELECT nodes.node,
                ({base!r} / n.c)
                + ({damping!r}) * (COALESCE(c{i}.contrib, 0.0)
                                   + d{i}.ds / CAST(n.c AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN n CROSS JOIN d{i}
           LEFT JOIN c{i} ON c{i}.node = nodes.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(rank, 6) AS rank FROM r{iters}\n"
    )


DOMAIN_PAGERANK = _pagerank_sql()

# Small-file compaction plan (sources/maintenance.py): the oracle
# re-derives per-partition-dir row counts from RAW documents and
# replays the greedy running-total binning — matching the engine's
# _metadata-derived counts proves the fragmented physical write also
# dropped no rows.
COMPACTION_TARGET = 150

COMPACTION_PLAN = f"""
WITH per AS (SELECT CAST(doc_id % 8 AS INT) AS key,
                    CAST(COUNT(*) AS BIGINT) AS n_rows
             FROM documents GROUP BY 1),
b AS (SELECT key, n_rows,
             CAST(FLOOR(COALESCE(SUM(n_rows) OVER (
                      ORDER BY key
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) / {COMPACTION_TARGET}) AS INT) AS bin
      FROM per)
SELECT key, n_rows, bin,
       CAST(SUM(n_rows) OVER (PARTITION BY bin) AS BIGINT) AS bin_rows
FROM b
"""

# Hashing-trick featurization (text/classify.py hash_features): same
# md5-bucket identity as the dedup family; NULL text coalesces to ''
# (one empty-string token), the classifier-input convention.
HASH_FEATURES_DIM = 64

HASH_FEATURES = f"""
WITH {oracle_ctes('corpus')},
t AS (SELECT id, UNNEST(string_split(COALESCE(text, ''), ' ')) AS tok
      FROM corpus)
SELECT id,
       CAST(CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT)
            % {HASH_FEATURES_DIM} AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY 1, 2
"""

# Join-key skew diagnostic (operators/skew.py skew_stats) over
# events.user_id: top-10 by (count desc, stringified key asc) with
# 6dp share and multiple-of-mean.
SKEW_STATS = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                  CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM events GROUP BY 1),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS nk FROM c),
top AS (SELECT key, n_rows,
               CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key)
                 AS INT) AS rnk
        FROM c ORDER BY n_rows DESC, key LIMIT 10)
SELECT top.rnk, top.key, top.n_rows,
       ROUND(top.n_rows / CAST(tot.t AS DOUBLE), 6) AS frac_of_total,
       ROUND(top.n_rows / (tot.t / CAST(tot.nk AS DOUBLE)), 6) AS x_mean
FROM top CROSS JOIN tot
"""

# BPE iteration-1 pair counts (text/bpe.py _pair_counts over the char
# seed): the argmax input of the first merge, re-derived RELATIONALLY
# from raw words via substring pairs (the Spark side walks exploded
# char arrays — two independent derivations must agree). The full
# merge table is non-SQL-expressible (each step's state depends on
# the previous argmax) and is pinned exactly against a pure-Python
# reference in pytest instead.
BPE_PAIR_COUNTS = f"""
WITH {oracle_ctes('corpus')},
wrd AS (SELECT UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
        FROM corpus),
v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM wrd WHERE w <> '' GROUP BY w),
p AS (SELECT substr(w, CAST(i AS INT), 1) AS a,
             substr(w, CAST(i AS INT) + 1, 1) AS b, n
      FROM v, UNNEST(range(1, length(w))) AS u(i))
SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM p GROUP BY a, b
"""


# ------------------------------------------------------- session 8
# KMV distinct sketch (text/corpus.py kmv_vocab_sketch, k=16): the
# k smallest 60-bit token hashes per source; estimator
# (k-1) * 2^60 / h_k with the exact-count fallback when the true
# vocabulary is smaller than k. The multiply runs FIRST on both sides
# (exact in double), then one correctly-rounded divide — bit-identical
# cross-engine.
KMV_K = 16

KMV_DISTINCT = f"""
WITH {oracle_ctes('scorpus')},
tok AS (SELECT DISTINCT source,
               CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT AS BIGINT) AS h
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS t
              FROM scorpus)),
r AS (SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM tok),
k AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
             MAX(h) AS kth_hash
      FROM r WHERE rn <= {KMV_K} GROUP BY source)
SELECT source, n_kept, kth_hash,
       CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
            ELSE ROUND({float(KMV_K - 1)} * {float(2 ** 60)} / kth_hash, 4)
       END AS est_distinct
FROM k
"""

# Length-bucketed batching report (text/corpus.py length_buckets):
# power-of-two bucket edges via INTEGER bit length (1 << len(bin(n-1)))
# — both engines print the same binary string, so the edge cannot
# straddle engines the way a float log2 could at an exact power.
LENGTH_BUCKETS = """
WITH n AS (SELECT CASE WHEN text IS NULL THEN 0
                       ELSE length(text) - length(replace(text, ' ', '')) + 1
                  END AS nt
           FROM documents),
b AS (SELECT CASE WHEN nt <= 0 THEN 0
                  WHEN nt = 1 THEN 1
                  ELSE CAST(1 AS BIGINT) << length(bin(nt - 1))
             END AS bucket_max, nt
      FROM n)
SELECT CAST(bucket_max AS BIGINT) AS bucket_max,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) * bucket_max AS BIGINT) AS padded_tokens,
       CASE WHEN bucket_max = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(SUM(nt) AS BIGINT)
                             / CAST(COUNT(*) * bucket_max AS DOUBLE), 6)
       END AS waste_frac
FROM b GROUP BY bucket_max
"""

# Unicode-script composition (text/analysis.py script_profile) over a
# corpus with PLANTED multilingual rows (replacements exercise
# non-Latin dominance, appends exercise mixed-script counting; the
# CASE order below is the fixture contract, mirrored in the Spark
# query). RE2 spells scripts \p{Xxx} where Java spells \p{IsXxx};
# counting is replace-based because DuckDB has no regexp_count.
_SCRIPT_PLANT = """
sc AS (SELECT doc_id AS id,
       CASE WHEN doc_id % 41 = 0 THEN 'Привет мир как дела'
            WHEN doc_id % 43 = 0 THEN '漢字の文書です 123'
            WHEN doc_id % 47 = 0 THEN '123 456 789'
            WHEN doc_id % 7 = 0 THEN text || ' Привет мир'
            WHEN doc_id % 11 = 0 THEN text || ' 漢字テスト'
            WHEN doc_id % 13 = 0 THEN text || ' مرحبا 한글 123'
            ELSE text END AS text
       FROM documents)
"""

_SC_CLASSES = [
    ("latin", r"\p{Latin}"),
    ("cyrillic", r"\p{Cyrillic}"),
    ("han", r"\p{Han}"),
    ("arabic", r"\p{Arabic}"),
    ("hangul", r"\p{Hangul}"),
    ("kana", r"[\p{Hiragana}\p{Katakana}]"),
]

_SC_COUNT = (
    "length(text) - length(regexp_replace(text, '{p}', '', 'g'))"
)
_SC_COUNTS = ",\n       ".join(
    "CAST(" + _SC_COUNT.format(p=p) + f" AS BIGINT) AS n_{n}"
    for n, p in _SC_CLASSES
)
_SC_BEST = "GREATEST(" + ", ".join(f"n_{n}" for n, _ in _SC_CLASSES) + ")"
_SC_DOMINANT = "CASE WHEN " + _SC_BEST + " = 0 THEN 'none' " + " ".join(
    f"WHEN n_{n} = {_SC_BEST} THEN '{n}'" for n, _ in _SC_CLASSES
) + " END"

SCRIPT_PROFILE = f"""
WITH {_SCRIPT_PLANT},
c AS (SELECT id, CAST(length(text) AS BIGINT) AS n_chars,
       {_SC_COUNTS},
       CAST(length(text) - length(regexp_replace(text, '\\p{{Nd}}', '', 'g'))
            AS BIGINT) AS n_digit
      FROM sc)
SELECT id, n_chars, n_latin, n_cyrillic, n_han, n_arabic, n_hangul,
       n_kana, n_digit, {_SC_DOMINANT} AS dominant
FROM c
"""

# Embedding-space benchmark decontamination (text/dedup.py
# semantic_decontaminate): eval side = vec_id % 19 = 0, threshold 0.4;
# per flagged train vector the closest eval vector (rounded-cosine
# ties to the smallest eval_id). Dot/norm folds accumulate
# left-to-right like the Spark Arrow kernel (see ANN_TOPK).
SEMANTIC_DECON_T = 0.4

SEMANTIC_DECONTAMINATE = f"""
WITH t AS (SELECT vec_id AS train_id, embedding,
                  sqrt({_NORM_SELF}) AS nrm
           FROM embeddings WHERE vec_id % 19 <> 0),
     b AS (SELECT vec_id AS eval_id, embedding,
                  sqrt({_NORM_SELF}) AS nrm
           FROM embeddings WHERE vec_id % 19 = 0),
sc AS (SELECT q.train_id, v.eval_id,
              ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
       FROM t q CROSS JOIN b v),
r AS (SELECT train_id, eval_id, cosine,
             ROW_NUMBER() OVER (
                 PARTITION BY train_id
                 ORDER BY cosine DESC, eval_id) AS rn
      FROM sc WHERE cosine >= {SEMANTIC_DECON_T})
SELECT train_id, eval_id, cosine FROM r WHERE rn = 1
"""

# Anchor-text profile (text/web.py anchor_stats) over the planted
# HTML fixture (anchor text = lang / padded source; HREF uppercased
# every 5th doc exercises (?i)). DuckDB zips group-1 and group-2
# extract_all lists POSITIONALLY via aligned UNNESTs — the Spark side
# zips the same two arrays with arrays_zip.
_ANCHOR_HTML = """
ah AS (SELECT '<p>x</p><a ' ||
       CASE WHEN doc_id % 5 = 0 THEN 'HREF' ELSE 'href' END ||
       '="https://src' || CAST((doc_id * 7) % 20 AS VARCHAR) ||
       '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">' ||
       lang || '</a>' ||
       CASE WHEN doc_id % 3 = 0
            THEN '<a href=''/local/' || CAST(doc_id AS VARCHAR)
                 || '''> ' || source || ' </a>'
            ELSE '' END AS html
       FROM documents)
"""

_ANCHOR_DQ = r'(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
_ANCHOR_SQ = (
    r"(?i)<a\s[^>]*href=''([^'']*)''[^>]*>([^<]*)</a>"
)

ANCHOR_STATS = f"""
WITH {_ANCHOR_HTML},
p AS (SELECT
        UNNEST(regexp_extract_all(html, '{_ANCHOR_DQ}', 1)
               || regexp_extract_all(html, '{_ANCHOR_SQ}', 1)) AS link,
        trim(UNNEST(regexp_extract_all(html, '{_ANCHOR_DQ}', 2)
               || regexp_extract_all(html, '{_ANCHOR_SQ}', 2))) AS text
      FROM ah),
d AS (SELECT CASE WHEN regexp_matches(link, '(?i)^https?://')
                  THEN lower(regexp_extract(link, '(?i)^https?://([^/]+)', 1))
                  ELSE '(relative)' END AS domain, text
      FROM p),
pt AS (SELECT domain, text, CAST(COUNT(*) AS BIGINT) AS n
       FROM d GROUP BY domain, text),
top AS (SELECT domain, text AS top_text, n AS top_text_n,
               ROW_NUMBER() OVER (
                   PARTITION BY domain ORDER BY n DESC, text) AS rn
        FROM pt),
roll AS (SELECT domain, CAST(SUM(n) AS BIGINT) AS n_anchors,
                CAST(COUNT(*) AS BIGINT) AS n_distinct_texts
         FROM pt GROUP BY domain)
SELECT r.domain, r.n_anchors, r.n_distinct_texts, t.top_text,
       t.top_text_n
FROM roll r JOIN top t ON t.domain = r.domain AND t.rn = 1
"""


# Exact n-gram CONTAINMENT pairs (text/dedup.py
# ngram_containment_pairs): |A∩B| / min(|A|,|B|) — the asymmetric
# quote/subset-duplication signal. The set is stride-1 WORD 3-grams
# (offset-invariant), NOT the strided char shingles (alignment-
# sensitive, blind to embedded quotes); same 60-bit md5 hash domain
# and df-cap discipline as the Jaccard family.
NGRAM_CONTAIN_T = 0.8

NGRAM_CONTAINMENT = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS l
       FROM corpus),
sh AS (SELECT DISTINCT id,
              CAST(('0x' || substr(md5(g), 1, 15))::UBIGINT AS BIGINT)
                  AS shingle
       FROM (SELECT id,
                    UNNEST(list_transform(
                        range(1, greatest(len(l) - 1, 1)),
                        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g
             FROM tk)),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
gen AS (SELECT s.id, s.shingle FROM sh s
        JOIN dfreq d ON d.shingle = s.shingle
        WHERE d.df <= {NGRAM_MAX_DF}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM gen a JOIN gen b ON a.shingle = b.shingle
         WHERE a.id < b.id),
inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE), 6) AS containment
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE ROUND(CAST(i.n_inter AS DOUBLE)
            / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE), 6)
      >= {NGRAM_CONTAIN_T}
"""

# Hilbert layout keys (operators/zorder.py hilbert_key_expr): the
# xy2d rotation walk re-derived with a RECURSIVE CTE (per-level
# state rows) against Spark's higher-order fold — two independent
# formulations of the rotation must agree bit-for-bit.
HILBERT_BITS = 16


def _hq_sql(col: str, lo: float, hi: float, bits: int = HILBERT_BITS) -> str:
    n = 1 << bits
    step = (hi - lo) / n
    return (
        f"LEAST(GREATEST(CAST(FLOOR(({col} - {lo!r}) / {step!r}) "
        f"AS BIGINT), 0), {n - 1})"
    )


HILBERT_KEYS = f"""
WITH RECURSIVE {oracle_ctes('points')},
q AS (SELECT id,
             {_hq_sql('x', ZORDER_BOUNDS['xmin'], ZORDER_BOUNDS['xmax'])} AS hx,
             {_hq_sql('y', ZORDER_BOUNDS['ymin'], ZORDER_BOUNDS['ymax'])} AS hy
      FROM points),
walk AS (
  SELECT id, hx, hy, CAST(0 AS BIGINT) AS d, {HILBERT_BITS - 1} AS lvl
  FROM q
  UNION ALL
  SELECT id,
         CASE WHEN ry = 0
              THEN CASE WHEN rx = 1 THEN s - 1 - hy ELSE hy END
              ELSE hx END,
         CASE WHEN ry = 0
              THEN CASE WHEN rx = 1 THEN s - 1 - hx ELSE hx END
              ELSE hy END,
         d + s * s * xor(3 * rx, ry),
         lvl - 1
  FROM (SELECT id, hx, hy, d, lvl,
               CAST(1 AS BIGINT) << lvl AS s,
               CASE WHEN (hx & (CAST(1 AS BIGINT) << lvl)) > 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS rx,
               CASE WHEN (hy & (CAST(1 AS BIGINT) << lvl)) > 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS ry
        FROM walk WHERE lvl >= 0) t
)
SELECT id, d AS hkey FROM walk WHERE lvl = -1
"""


# Per-stratum unigram JS divergence vs the global distribution
# (text/corpus.py unigram_divergence): absent-token mass collapses to
# ln2 * (1 - coverage) — both engines sum ONLY over stratum tokens.
UNIGRAM_DIVERGENCE = f"""
WITH {oracle_ctes('scorpus')},
tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok
        FROM scorpus),
stc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, tok),
st AS (SELECT source, CAST(SUM(n) AS BIGINT) AS st,
              CAST(COUNT(*) AS BIGINT) AS n_types
       FROM stc GROUP BY source),
g AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS gn FROM stc GROUP BY tok),
gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gt FROM g),
j AS (SELECT s.source, s.n / CAST(t.st AS DOUBLE) AS p,
             gg.gn / CAST(x.gt AS DOUBLE) AS q
      FROM stc s
      JOIN g gg ON gg.tok = s.tok
      JOIN st t ON t.source = s.source
      CROSS JOIN gt x),
per AS (SELECT source,
               SUM(q) AS cov,
               SUM(p * LN(p / ((p + q) / 2.0))) AS ps,
               SUM(q * LN(q / ((p + q) / 2.0))) AS qs
        FROM j GROUP BY source)
SELECT t.source, t.st AS n_tokens, t.n_types,
       ROUND(per.cov, 6) AS coverage,
       ROUND(0.5 * per.ps
             + 0.5 * (per.qs + LN(2.0) * (1.0 - per.cov)), 6) AS jsd
FROM per JOIN st t ON t.source = per.source
"""

# Cross-video duplicate-frame report (media/multimodal.py
# dedup_frames over attach_fake_media seeded by doc_id % 97): the
# Spark side fingerprints the REAL payload bytes (hex of the body
# block); this mirror re-derives the same md5 from the id arithmetic
# the payload generator used — value equality proves the binary
# pipeline decoded what was encoded.
FRAME_SEED_MOD = 97
FRAME_EVERY_N = 10

FRAME_DEDUP = f"""
WITH v AS (SELECT doc_id, doc_id % {FRAME_SEED_MOD} AS seed
           FROM documents
           WHERE (doc_id % {FRAME_SEED_MOD}) % 3 = 2),
f AS (SELECT doc_id, seed,
             UNNEST(range(0, 1 + (seed * 31) % 240, {FRAME_EVERY_N}))
                 AS frame_idx
      FROM v),
s AS (SELECT doc_id,
             md5(md5(CAST(seed AS VARCHAR)) || '_'
                 || CAST(frame_idx AS VARCHAR)) AS frame_sig
      FROM f)
SELECT frame_sig, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM s GROUP BY frame_sig HAVING COUNT(DISTINCT doc_id) > 1
"""


# Product-quantization ADC top-k (vector/pq.py ann_pq_topk) with the
# md5-derived default codebooks — the full encode + ADC search path
# replayed relationally: per-vector codes via list_position(list_min)
# (the fold's strict-first-min tie rule), per-query LUTs, score =
# left-assoc sum of LUT lookups (the fold's 0.0-init order). Trained
# codebooks (fit_pq) are iterative and not SQL-expressible — their
# quality is pytest-pinned (distortion + recall vs this baseline).
from .vector import pq as _pq  # noqa: E402

_PQ_CB = _pq.default_codebooks()
_PQ_M = len(_PQ_CB)
_PQ_K = len(_PQ_CB[0])
_PQ_SD = len(_PQ_CB[0][0])


def _pq_cast_cols() -> str:
    return ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS e{i + 1}"
        for i in range(_PQ_M * _PQ_SD)
    )


def _pq_d2_sql(j: int, c: int, var: str = "e") -> str:
    terms = " + ".join(
        f"({var}{j * _PQ_SD + d + 1} - {_PQ_CB[j][c][d]!r})"
        f" * ({var}{j * _PQ_SD + d + 1} - {_PQ_CB[j][c][d]!r})"
        for d in range(_PQ_SD)
    )
    return f"(0.0 + {terms})"


def _pq_dlist(j: int, var: str = "e") -> str:
    return (
        "[" + ", ".join(_pq_d2_sql(j, c, var) for c in range(_PQ_K)) + "]"
    )


_PQ_VENC = ", ".join(
    f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}"
    for j in range(_PQ_M)
)
_PQ_LISTS = ", ".join(f"{_pq_dlist(j)} AS l{j}" for j in range(_PQ_M))
_PQ_SCORE = "0.0 + " + " + ".join(
    f"q.l{j}[v.c{j} + 1]" for j in range(_PQ_M)
)

ANN_PQ_TOPK = f"""
WITH vcast AS (SELECT vec_id, {_pq_cast_cols()} FROM embeddings),
vlists AS (SELECT vec_id, {_PQ_LISTS} FROM vcast),
venc AS (SELECT vec_id, {_PQ_VENC} FROM vlists),
qlut AS (SELECT vec_id, {", ".join(f"l{j}" for j in range(_PQ_M))}
         FROM vlists WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND({_PQ_SCORE}, 6) AS adc_d2
  FROM qlut q CROSS JOIN venc v),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_d2, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, adc_d2, rank FROM ranked WHERE rank <= 10
"""


# IVF + residual PQ (vector/pq.py ann_ivfpq_topk) with md5-derived
# coarse centroids AND codebooks — the full route-residual-encode-ADC
# path replayed relationally: cell via first-min argmin over the
# coarse d2 list, residuals by indexing the coarse literal with the
# computed cell, PQ code lists over residual aliases, probe rank per
# query, fold-order score sums. Trained layers (fit_ivfpq) are
# iterative — pytest-pinned.
_IVF_CC = _pq.default_coarse_centroids()
_IVF_NC = len(_IVF_CC)
_IVF_NP = _pq.N_PROBE

_IVF_CLIT = (
    "CAST(["
    + ", ".join(
        "[" + ", ".join(repr(x) for x in c) + "]" for c in _IVF_CC
    )
    + "] AS DOUBLE[][])"
)


def _ivf_cd_sql(var: str = "e") -> str:
    """List of full-dim d2 to every coarse centroid (fold order)."""
    lists = []
    for i in range(_IVF_NC):
        terms = " + ".join(
            f"({var}{d + 1} - {_IVF_CC[i][d]!r})"
            f" * ({var}{d + 1} - {_IVF_CC[i][d]!r})"
            for d in range(_PQ_M * _PQ_SD)
        )
        lists.append(f"(0.0 + {terms})")
    return "[" + ", ".join(lists) + "]"


_IVF_RES = ", ".join(
    f"e{d + 1} - {_IVF_CLIT}[cell + 1][{d + 1}] AS r{d + 1}"
    for d in range(_PQ_M * _PQ_SD)
)
_PQ_RLISTS = ", ".join(
    f"{_pq_dlist(j, 'r')} AS l{j}" for j in range(_PQ_M)
)

ANN_IVFPQ_TOPK = f"""
WITH vcast AS (SELECT vec_id, {_pq_cast_cols()} FROM embeddings),
vcell AS (SELECT *, CAST(list_position(cd, list_min(cd)) - 1 AS INT)
                 AS cell
          FROM (SELECT *, {_ivf_cd_sql('e')} AS cd FROM vcast)),
vres AS (SELECT vec_id, cell, {_IVF_RES} FROM vcell),
venc AS (SELECT vec_id, cell, {_PQ_VENC}
         FROM (SELECT vec_id, cell, {_PQ_RLISTS} FROM vres)),
qprobe AS (
  SELECT vec_id, CAST(i.n - 1 AS INT) AS cell
  FROM (SELECT *, {_ivf_cd_sql('e')} AS cd FROM vcast
        WHERE vec_id % 50 = 0) qc,
       (SELECT UNNEST(range(1, {_IVF_NC + 1})) AS n) i
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cd[i.n], i.n) <= {_IVF_NP}),
qres AS (SELECT p.vec_id, p.cell, {_IVF_RES}
         FROM qprobe p JOIN vcast USING (vec_id)),
qlut AS (SELECT vec_id, cell, {_PQ_RLISTS} FROM qres),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND({_PQ_SCORE}, 6) AS adc_d2
  FROM qlut q JOIN venc v ON v.cell = q.cell),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_d2, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, adc_d2, rank FROM ranked WHERE rank <= 10
"""


# Plain IVF with the same md5-derived coarse centroids (vector/ann.py
# ann_ivf_topk with centroids=default_coarse_centroids()): cell via
# first-min argmin over the coarse d2 list (corpus side), probe rank
# per query, then EXACT cosine over the probed cells only — routing
# and scoring both replayed relationally. The KMeans-fit form stays
# iterative/pytest-pinned; this gates the explicit-quantizer form.
ANN_IVF_TOPK = f"""
WITH vcast AS (SELECT vec_id, {_pq_cast_cols()} FROM embeddings),
vcell AS (SELECT vec_id, CAST(list_position(cd, list_min(cd)) - 1 AS INT)
                 AS cell
          FROM (SELECT vec_id, {_ivf_cd_sql('e')} AS cd FROM vcast)),
e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings),
qprobe AS (
  SELECT vec_id, CAST(i.n - 1 AS INT) AS cell
  FROM (SELECT *, {_ivf_cd_sql('e')} AS cd FROM vcast
        WHERE vec_id % 50 = 0) qc,
       (SELECT UNNEST(range(1, {_IVF_NC + 1})) AS n) i
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cd[i.n], i.n) <= {_IVF_NP}),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM qprobe p
  JOIN vcell c ON c.cell = p.cell
  JOIN e q ON q.vec_id = p.vec_id
  JOIN e v ON v.vec_id = c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
"""


# IVF maintenance gate (vector/ann.py delete_from_ivf_index +
# compact_ivf_index over the explicit-quantizer index): search results
# after deleting vec_id %% 25 == 0 must equal the plain IVF search
# over the corpus WITHOUT those rows — cell assignment and probe
# routing replayed as in ANN_IVF_TOPK.
ANN_IVF_DELETED = f"""
WITH vcast AS (SELECT vec_id, {_pq_cast_cols()} FROM embeddings),
vcell AS (SELECT vec_id, CAST(list_position(cd, list_min(cd)) - 1 AS INT)
                 AS cell
          FROM (SELECT vec_id, {_ivf_cd_sql('e')} AS cd FROM vcast)
          WHERE vec_id % 25 <> 0),
e AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings),
qprobe AS (
  SELECT vec_id, CAST(i.n - 1 AS INT) AS cell
  FROM (SELECT *, {_ivf_cd_sql('e')} AS cd FROM vcast
        WHERE vec_id % 50 = 0) qc,
       (SELECT UNNEST(range(1, {_IVF_NC + 1})) AS n) i
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cd[i.n], i.n) <= {_IVF_NP}),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM qprobe p
  JOIN vcell c ON c.cell = p.cell
  JOIN e q ON q.vec_id = p.vec_id
  JOIN e v ON v.vec_id = c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
"""


# Deterministic k-means (vector/kmeans.py kmeans_assign, n_iter=2,
# md5 seed centroids): both Lloyd rounds replayed relationally —
# first-min argmin assignment, per-cell ROUND(AVG, 6) mean updates
# with empty cells keeping their previous center, final assignment
# against the round-2 centers.  Means at 6dp are the group_centroids
# recipe the label_centroids gate already proves cross-engine stable.
_KM_DIMS = _PQ_M * _PQ_SD


def _km_d2_cols(ctab: str) -> str:
    """d2 of (e1..e64) against a joined center row (m1..m64)."""
    terms = " + ".join(
        f"(e{d + 1} - {ctab}.m{d + 1}) * (e{d + 1} - {ctab}.m{d + 1})"
        for d in range(_KM_DIMS)
    )
    return f"(0.0 + {terms})"


_KM_M_AVG = ", ".join(
    f"ROUND(AVG(e{d + 1}), 6) AS m{d + 1}" for d in range(_KM_DIMS)
)
_KM_M_SEED = ", ".join(
    f"COALESCE(m.m{d + 1}, {_IVF_CLIT}[cells.cell + 1][{d + 1}])"
    f" AS m{d + 1}"
    for d in range(_KM_DIMS)
)
_KM_M_PREV = ", ".join(
    f"COALESCE(m.m{d + 1}, p.m{d + 1}) AS m{d + 1}"
    for d in range(_KM_DIMS)
)

EMBEDDING_CLUSTERS = f"""
WITH vcast AS (SELECT vec_id, {_pq_cast_cols()} FROM embeddings),
a0 AS (SELECT vec_id,
              CAST(list_position(cd, list_min(cd)) - 1 AS INT) AS cell,
              * EXCLUDE (vec_id)
       FROM (SELECT *, {_ivf_cd_sql('e')} AS cd FROM vcast)),
cells AS (SELECT CAST(UNNEST(range(0, {_IVF_NC})) AS INT) AS cell),
m1 AS (SELECT cell, {_KM_M_AVG} FROM a0 GROUP BY cell),
c1 AS (SELECT cells.cell, {_KM_M_SEED}
       FROM cells LEFT JOIN m1 m USING (cell)),
a1 AS (SELECT v.vec_id, c1.cell, v.* EXCLUDE (vec_id)
       FROM vcast v CROSS JOIN c1
       QUALIFY ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_km_d2_cols('c1')}, c1.cell) = 1),
m2 AS (SELECT cell, {_KM_M_AVG} FROM a1 GROUP BY cell),
c2 AS (SELECT p.cell, {_KM_M_PREV}
       FROM c1 p LEFT JOIN m2 m USING (cell)),
a2 AS (SELECT v.vec_id, c2.cell
       FROM vcast v CROSS JOIN c2
       QUALIFY ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_km_d2_cols('c2')}, c2.cell) = 1)
SELECT vec_id, cell FROM a2
"""


# Tokenizer fertility per source (text/bpe.py bpe_fertility with the
# pinned FERTILITY_MERGES): the DuckDB side replays the greedy
# left-to-right merge fold with a RECURSIVE CTE over the distinct-word
# vocabulary (state = (word, merge step, position, symbols, acc)) —
# an independent implementation of reference BPE semantics, exact on
# runs ('aaaa' -> [aa, aa]) where a regex-replace replay diverges.
from .text import bpe as _bpe  # noqa: E402

_FERT_N = len(_bpe.FERTILITY_MERGES)
_FERT_MG = ", ".join(
    f"({i + 1}, '{l}', '{r}')"
    for i, (l, r) in enumerate(_bpe.FERTILITY_MERGES)
)

BPE_FERTILITY = f"""
WITH RECURSIVE {oracle_ctes('scorpus')},
wrd AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
        FROM scorpus),
wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
       FROM wrd WHERE w <> '' GROUP BY source, w),
dw AS (SELECT DISTINCT w FROM wc),
mg AS (SELECT * FROM (VALUES {_FERT_MG}) m(step, l, r)),
seed AS (SELECT w, regexp_extract_all(w, '.') AS syms,
                1 AS step, 1 AS pos, CAST([] AS VARCHAR[]) AS acc
         FROM dw),
fold AS (
  SELECT w, syms, step, pos, acc FROM seed
  UNION ALL
  SELECT w,
    CASE WHEN pos <= len(syms) THEN syms ELSE acc END,
    CASE WHEN pos <= len(syms) THEN f.step ELSE f.step + 1 END,
    CASE WHEN pos <= len(syms) THEN pos + 1 ELSE 1 END,
    CASE WHEN pos <= len(syms) THEN
      CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.l AND syms[pos] = m.r
           THEN acc[1:len(acc)-1] || [m.l || m.r]
           ELSE acc || [syms[pos]] END
    ELSE CAST([] AS VARCHAR[]) END
  FROM fold f JOIN mg m ON m.step = f.step
  WHERE NOT (pos > len(syms) AND f.step >= {_FERT_N})
),
vocab AS (SELECT w, CAST(len(acc) AS BIGINT) AS n_sym,
                 CAST(length(w) AS BIGINT) AS n_chr
          FROM fold WHERE pos > len(syms) AND step = {_FERT_N}),
per AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * n_sym) AS BIGINT) AS n_tokens,
               CAST(SUM(n * n_chr) AS BIGINT) AS chars
        FROM wc JOIN vocab USING (w) GROUP BY source)
SELECT source, n_words, n_tokens,
       CASE WHEN n_words > 0
            THEN ROUND(n_tokens / CAST(n_words AS DOUBLE), 6)
            ELSE 0.0 END AS fertility,
       CASE WHEN n_tokens > 0
            THEN ROUND(chars / CAST(n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS avg_token_chars
FROM per
"""


# Full BPE TRAINING replay (text/bpe.py bpe_train, n_merges=8): the
# training loop is data-dependent ("each step's state depends on the
# previous argmax") but its LENGTH is fixed, so the oracle unrolls the
# 8 steps as plain CTE stages — per stage an adjacent-pair count over
# the evolving symbol vocabulary, the argmax as ORDER BY cnt DESC, a,
# b LIMIT 1 (binary string collation both engines), and the greedy
# left-to-right merge fold applied through a 1-row LEFT JOIN (empty
# best => state passes through, matching the trainer's min_count
# break; once empty, every later stage is empty too). The fold's
# accumulator is VARCHAR[] over single-symbol VARCHAR[] elements
# (list_reduce's acc type must equal the element type; the [s1] seed
# equals the empty-acc-then-append first step of Spark's fold). This
# retires the last deterministic rows-only query.
def _bpe_merges_sql(n_merges: int = 8, min_count: int = 2) -> str:
    apply_fold = (
        "list_reduce(list_transform(syms, s -> [s]),"
        " (acc, e) -> CASE WHEN len(acc) > 0"
        " AND acc[len(acc)] = bk.a AND e[1] = bk.b"
        " THEN acc[1:len(acc)-1] || [bk.a || bk.b]"
        " ELSE acc || e END)"
    )
    parts = [
        """wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
             FROM corpus) WHERE w <> '' GROUP BY w)""",
        "s0 AS (SELECT regexp_extract_all(w, '.') AS syms, n FROM wc)",
    ]
    for k in range(1, int(n_merges) + 1):
        parts.append(
            f"pc{k} AS (SELECT syms[i] AS a, syms[i + 1] AS b,"
            f" CAST(SUM(n) AS BIGINT) AS cnt"
            f" FROM s{k - 1}, UNNEST(range(1, len(syms))) t(i)"
            f" GROUP BY 1, 2)"
        )
        parts.append(
            f"b{k} AS (SELECT a, b, cnt FROM pc{k}"
            f" WHERE cnt >= {int(min_count)}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"s{k} AS (SELECT CASE WHEN bk.a IS NULL THEN syms"
            f" ELSE {apply_fold} END AS syms, n"
            f" FROM s{k - 1} LEFT JOIN b{k} bk ON TRUE)"
        )
    finals = " UNION ALL ".join(
        f'SELECT {k - 1} AS step, a AS "left", b AS "right", cnt FROM b{k}'
        for k in range(1, int(n_merges) + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {oracle_ctes('corpus')},\n{body}\n{finals}"


BPE_MERGES = _bpe_merges_sql()


# Corpus tokenization under the pinned merge list (text/bpe.py
# bpe_encode): the same recursive greedy-fold-over-distinct-words as
# BPE_FERTILITY (two independent BPE implementations), then per-doc
# reassembly — words in document order, each word's symbols in fold
# order, a dense 0-based position, and token ids as the rank of the
# symbol in the sorted symbol vocabulary. Ranks/positions order by
# unique keys, so both engines number identically.
BPE_ENCODE = f"""
WITH RECURSIVE {oracle_ctes('corpus')},
docs AS (SELECT id, text FROM corpus WHERE id % 10 = 0),
wl AS (SELECT id, string_split(COALESCE(text, ''), ' ') AS ws FROM docs),
wseq AS (SELECT id, UNNEST(range(1, len(ws) + 1)) AS wpos, ws FROM wl),
wq AS (SELECT id, wpos, ws[wpos] AS w FROM wseq WHERE ws[wpos] <> ''),
dw AS (SELECT DISTINCT w FROM wq),
mg AS (SELECT * FROM (VALUES {_FERT_MG}) m(step, l, r)),
seed AS (SELECT w, regexp_extract_all(w, '.') AS syms,
                1 AS step, 1 AS pos, CAST([] AS VARCHAR[]) AS acc
         FROM dw),
fold AS (
  SELECT w, syms, step, pos, acc FROM seed
  UNION ALL
  SELECT w,
    CASE WHEN pos <= len(syms) THEN syms ELSE acc END,
    CASE WHEN pos <= len(syms) THEN f.step ELSE f.step + 1 END,
    CASE WHEN pos <= len(syms) THEN pos + 1 ELSE 1 END,
    CASE WHEN pos <= len(syms) THEN
      CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.l AND syms[pos] = m.r
           THEN acc[1:len(acc)-1] || [m.l || m.r]
           ELSE acc || [syms[pos]] END
    ELSE CAST([] AS VARCHAR[]) END
  FROM fold f JOIN mg m ON m.step = f.step
  WHERE NOT (pos > len(syms) AND f.step >= {_FERT_N})
),
vocab AS (SELECT w, acc FROM fold
          WHERE pos > len(syms) AND step = {_FERT_N}),
tok AS (SELECT q.id, q.wpos,
               UNNEST(range(1, len(v.acc) + 1)) AS spos, v.acc AS acc
        FROM wq q JOIN vocab v USING (w)),
tok2 AS (SELECT id, wpos, spos, acc[spos] AS token FROM tok),
sym AS (SELECT token,
               ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
        FROM (SELECT DISTINCT token FROM tok2))
SELECT t.id,
       ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.wpos, t.spos) - 1
           AS pos,
       t.token, s.token_id
FROM tok2 t JOIN sym s USING (token)
"""


# Span-excision transform (text/dedup.py remove_spans composed over
# exact_substring_spans): keep-first policy — every maximal shared
# span is removed from the LARGER id; overlapping/touching intervals
# merge (islands), the kept text is the ordered concat of complement
# segments. Shares _SPAN_CTES with EXACT_SUBSTRING_SPANS, so the
# detect and apply gates cannot drift on the span definition.
SPAN_REMOVAL = f"""
WITH {oracle_ctes('corpus')},
{_SPAN_CTES},
iv AS (SELECT DISTINCT id_b AS id, start_b AS s,
              start_b + length - 1 AS e
       FROM spans),
brks AS (SELECT id, s, e,
                CASE WHEN s <= COALESCE(
                         MAX(e) OVER (PARTITION BY id ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) + 1
                     THEN 0 ELSE 1 END AS brk
         FROM iv),
grp AS (SELECT id, s, e,
               SUM(brk) OVER (PARTITION BY id ORDER BY s, e) AS g
        FROM brks),
mi AS (SELECT id, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY id, g),
segs AS (
  SELECT id,
         COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s), 0) + 1 AS ks,
         s - 1 AS ke
  FROM mi
  UNION ALL
  SELECT id, MAX(e) + 1 AS ks, 2147483647 AS ke FROM mi GROUP BY id),
kept AS (SELECT s.id,
                string_agg(
                    substr(c.text, CAST(s.ks AS INT),
                           CAST(GREATEST(
                               LEAST(s.ke, length(c.text)) - s.ks + 1,
                               0) AS INT)),
                    '' ORDER BY s.ks) AS text
         FROM segs s JOIN corpus c ON c.id = s.id
         GROUP BY s.id),
stats AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(e - s + 1) AS BIGINT) AS n_chars_removed
          FROM mi GROUP BY id)
SELECT k.id, COALESCE(k.text, '') AS text, st.n_spans, st.n_chars_removed
FROM kept k JOIN stats st USING (id)
"""


# SimHash Hamming near-dup pairs (text/dedup.py simhash_hamming_pairs):
# the Spark side generates candidates through the pigeonhole band join;
# the oracle is the genuinely independent ALL-PAIRS formulation over
# the same fingerprints — the two agree only if the banding is
# lossless (any Hamming<=k pair shares an exact band).
_SH_MAX_HAMMING = 3
SIMHASH_PAIRS = f"""
WITH {oracle_ctes('corpus')},
toks AS (SELECT id, CAST(('0x' || substr(md5(t.tok), 1, 8))::UBIGINT AS BIGINT) AS th
         FROM corpus, UNNEST(string_split(text, ' ')) AS t(tok)),
sums AS (SELECT id, {_SIM_SUMS} FROM toks GROUP BY id),
fp AS (SELECT id, CAST({_SIM_FP} AS BIGINT) AS sh FROM sums)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.sh, b.sh)) <= {_SH_MAX_HAMMING}
"""

# Bloom-filter decontamination (text/dedup.py bloom_decontaminate):
# Kirsch-Mitzenmacher double hashing g_i = (h1 + i*h2) mod m over the
# 60-bit shingle hash. Bit-array membership is relationally identical
# to "every one of the gram's k positions is in the benchmark's
# distinct position set", which is how the oracle states it — an
# independent formulation of the same filter.
_BLOOM_LOG2, _BLOOM_K = 18, 3
_BLOOM_M = 1 << _BLOOM_LOG2
_BLOOM_MASK = _BLOOM_M - 1
_BLOOM_POS = (
    f"((shingle & {_BLOOM_MASK}) "
    f"+ i.i * (((shingle >> 30) & {_BLOOM_MASK}) | 1)) % {_BLOOM_M}"
)
BLOOM_DECONTAMINATE = f"""
WITH {oracle_ctes('corpus')}, {_SHINGLE_HASHED_CTE},
ii AS (SELECT UNNEST(range({_BLOOM_K})) AS i),
bp AS (SELECT DISTINCT {_BLOOM_POS} AS pos
       FROM (SELECT DISTINCT shingle FROM shh WHERE id % 13 = 0)
            CROSS JOIN ii i),
tp AS (SELECT id, shingle, {_BLOOM_POS} AS pos
       FROM (SELECT * FROM shh WHERE id % 13 <> 0) CROSS JOIN ii i),
hits AS (SELECT t.id, t.shingle
         FROM tp t JOIN bp ON bp.pos = t.pos
         GROUP BY t.id, t.shingle
         HAVING COUNT(*) = {_BLOOM_K})
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits GROUP BY id
"""

# Count-Min heavy hitters (text/corpus.py cms_heavy_hitters): same
# md5-derived row hashes, counter table, min-estimate, and rank
# tiebreak — the sketch is deterministic, so 'approximate' is exactly
# checkable (est >= exact one-sidedness is implied by agreement).
_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 64, 40
CMS_HEAVY_HITTERS = f"""
WITH {oracle_ctes('corpus')},
cnt AS (SELECT t.tok AS token, CAST(COUNT(*) AS BIGINT) AS exact
        FROM corpus, UNNEST(string_split(text, ' ')) AS t(tok)
        GROUP BY 1),
rws AS (SELECT token, exact, d.d AS rw,
               CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || token),
                                    1, 15))::UBIGINT AS BIGINT)
                   % {_CMS_WIDTH} AS bucket
        FROM cnt CROSS JOIN (SELECT UNNEST(range({_CMS_DEPTH})) AS d) d),
sk AS (SELECT rw, bucket, SUM(exact) AS cell FROM rws GROUP BY 1, 2),
est AS (SELECT token, exact, CAST(MIN(cell) AS BIGINT) AS est
        FROM rws JOIN sk USING (rw, bucket) GROUP BY 1, 2)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY est DESC, exact DESC, token) AS INT)
           AS rank,
       token, est, exact
FROM est
QUALIFY rank <= {_CMS_TOPK}
"""

# Embedding outliers (vector/centroids.py embedding_outliers): group
# centroid = LABEL_CENTROIDS' 6dp-rounded per-dim mean reassembled to
# a list; dist2 mirrors the Spark side's three-dot decomposition with
# left-to-right per-dim folds (the _dot_arrow bit-identity recipe);
# the flag tests the 6dp-rounded z.
_OUT_XC = " + ".join(
    f"CAST(e.embedding[{i + 1}] AS DOUBLE) * c.cvec[{i + 1}]"
    for i in range(_EMB_DIM)
)
_OUT_CC = " + ".join(
    f"c.cvec[{i + 1}] * c.cvec[{i + 1}]" for i in range(_EMB_DIM)
)
_OUT_XX = " + ".join(
    f"CAST(e.embedding[{i + 1}] AS DOUBLE) * CAST(e.embedding[{i + 1}] AS DOUBLE)"
    for i in range(_EMB_DIM)
)
EMBEDDING_OUTLIERS = f"""
WITH cent AS (SELECT label AS grp,
                     CAST(UNNEST(embedding) AS DOUBLE) AS val,
                     CAST(UNNEST(range(len(embedding))) AS INT) AS pos
              FROM embeddings WHERE embedding IS NOT NULL),
cm AS (SELECT grp, pos, ROUND(AVG(val), 6) AS mean
       FROM cent GROUP BY 1, 2),
cv AS (SELECT grp, list(mean ORDER BY pos) AS cvec FROM cm GROUP BY 1),
d AS (SELECT e.vec_id, c.grp AS "group",
             ROUND(({_OUT_XX}) - 2.0 * ({_OUT_XC}) + ({_OUT_CC}), 6)
                 AS dist2
      FROM embeddings e JOIN cv c ON c.grp = e.label
      WHERE e.embedding IS NOT NULL),
st AS (SELECT "group", AVG(dist2) AS mu, STDDEV_POP(dist2) AS sd
       FROM d GROUP BY 1)
SELECT d.vec_id, d."group", d.dist2,
       ROUND((d.dist2 - st.mu)
             / (CASE WHEN st.sd > 0 THEN st.sd END), 6) AS z
FROM d JOIN st USING ("group")
WHERE ROUND((d.dist2 - st.mu)
            / (CASE WHEN st.sd > 0 THEN st.sd END), 6) > 2.0
"""


# Hard-negative mining (vector/mining.py hard_negatives): ANN_TOPK's
# exact scoring/ranking contract restricted to cross-label pairs.
HARD_NEGATIVES = f"""
WITH q AS (SELECT vec_id, embedding, label, SQRT({_NORM_SELF}) AS nrm
           FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id, embedding, label, SQRT({_NORM_SELF}) AS nrm
      FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM q JOIN v ON q.label <> v.label),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""

# Curriculum ordering (text/corpus.py curriculum_order): the oracle is
# the DIRECT global sort the Spark side deliberately avoids (two-level
# prefix sum) — agreement proves the distributed rank equals the
# single-node one.
CURRICULUM_ORDER = f"""
WITH {oracle_ctes('corpus')},
t AS (SELECT id, CAST(3 - {_QPOINTS} AS INT) AS stage,
             CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::UBIGINT
                  AS BIGINT) AS h
      FROM corpus)
SELECT id, stage,
       CAST(ROW_NUMBER() OVER (ORDER BY stage, h, id) - 1 AS BIGINT)
           AS position
FROM t
"""

# Weak-supervision votes (text/labeling.py): the three labeling
# functions re-derived from the SAME rule substrate the individual
# audits use (_QPOINTS, the Gopher CTE chain, the lang-marker argmax),
# so the vote table cannot drift from quality / gopher_rules / lang_id.
_WEAK_VOTES = f"""
vq AS (SELECT id,
              CASE WHEN {_QPOINTS} >= 3 THEN 1
                   WHEN {_QPOINTS} <= 1 THEN -1 ELSE 0 END AS v_quality,
              {_occ(' the ')} AS c_en,
              {_occ(' data ')} AS c_es,
              {_occ(' spark ')} AS c_zh
       FROM corpus),
vg AS (SELECT id, CASE WHEN {_GOPHER_PASS} THEN 1 ELSE -1 END AS v_gopher
       FROM gr),
vv AS (SELECT vq.id, v_quality, v_gopher,
              CASE WHEN GREATEST(c_en, c_es, c_zh) = 0 THEN 0
                   WHEN c_en = GREATEST(c_en, c_es, c_zh) THEN 1
                   ELSE -1 END AS v_lang
       FROM vq JOIN vg USING (id))
"""

WEAK_LABELS = f"""
WITH {oracle_ctes('corpus')},
{_gopher_ctes('corpus')},
{_WEAK_VOTES}
SELECT id, CAST(v_quality AS INT) AS v_quality,
       CAST(v_gopher AS INT) AS v_gopher,
       CAST(v_lang AS INT) AS v_lang,
       CASE WHEN v_quality + v_gopher + v_lang > 0 THEN 'keep'
            WHEN v_quality + v_gopher + v_lang < 0 THEN 'drop'
            ELSE 'abstain' END AS label
FROM vv
"""

LF_DIAGNOSTICS = f"""
WITH {oracle_ctes('corpus')},
{_gopher_ctes('corpus')},
{_WEAK_VOTES},
u AS (
  SELECT 'quality' AS rule, v_quality AS me, v_gopher AS o1, v_lang AS o2
  FROM vv
  UNION ALL
  SELECT 'gopher', v_gopher, v_quality, v_lang FROM vv
  UNION ALL
  SELECT 'lang', v_lang, v_quality, v_gopher FROM vv)
SELECT rule,
       ROUND(SUM(CASE WHEN me <> 0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
       ROUND(SUM(CASE WHEN me <> 0 AND (o1 <> 0 OR o2 <> 0)
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS overlap,
       ROUND(SUM(CASE WHEN me <> 0 AND (me * o1 < 0 OR me * o2 < 0)
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS conflict
FROM u GROUP BY rule
"""


def _hits_sql(iters: int = 5) -> str:
    """Unrolled fixed-iteration HITS mirror (text/web.py hits): same
    edge fixture as DOMAIN_PAGERANK, DISTINCT adjacency, L1-normalized
    auth/hub half-steps; the only cross-engine difference is
    double-sum order (absorbed by the final 6dp rounding)."""
    ctes = [
        # SPARSE graph (unlike pagerank's weighted dense one):
        # HITS collapses parallel edges, and the dense fixture is a
        # complete bipartite graph after DISTINCT — scores degenerate
        # to the uniform init vector and the gate would pass a broken
        # implementation. The %7 filter + wide moduli keep degrees
        # varied at every sf.
        """edges AS (SELECT DISTINCT
             'd' || CAST(doc_id % 37 AS VARCHAR) AS src,
             'd' || CAST((doc_id * 13) % 41 AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 7 < 3)""",
        """nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))""",
        """n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nodes)""",
        """h0 AS (SELECT node, 1.0 / n.c AS s FROM nodes CROSS JOIN n)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""ar{i} AS (SELECT nodes.node, COALESCE(x.r, 0.0) AS r
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, SUM(h.s) AS r
            FROM edges e JOIN h{i} h ON h.node = e.src
            GROUP BY e.dst) x ON x.node = nodes.node)"""
        )
        # window normalization, NOT a scalar subquery: a second CTE
        # reference doubles DuckDB's inline expansion per half-step
        # (2^20 replays at 5 iterations — measured, it never returned)
        ctes.append(
            f"""a{i + 1} AS (SELECT node,
              r / SUM(r) OVER () AS s FROM ar{i})"""
        )
        ctes.append(
            f"""hr{i} AS (SELECT nodes.node, COALESCE(x.r, 0.0) AS r
          FROM nodes LEFT JOIN (
            SELECT e.src AS node, SUM(a.s) AS r
            FROM edges e JOIN a{i + 1} a ON a.node = e.dst
            GROUP BY e.src) x ON x.node = nodes.node)"""
        )
        ctes.append(
            f"""h{i + 1} AS (SELECT node,
              r / SUM(r) OVER () AS s FROM hr{i})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.node, ROUND(a.s, 6) AS auth, ROUND(h.s, 6) AS hub
FROM a{iters} a JOIN h{iters} h ON h.node = a.node
"""
    )


HITS_SCORES = _hits_sql()

# Leakage-safe splitting (text/corpus.py leakage_safe_split): the
# duplicate groups come from the independent recursive-CTE walk (the
# DUP_GROUPS gate), the split from the shared seeded-key threshold —
# keyed by GROUP_ID, so a whole near-dup cluster moves together.
LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE {_MINHASH_CTES},
{_WALK_CTES},
g AS ({_WALK_GROUPS})
SELECT id, group_id,
       CASE WHEN CAST(('0x' || substr(md5('{SPLIT_SEED}_'
                 || CAST(group_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                 / 4294967296.0 < 0.9 THEN 'train'
            WHEN CAST(('0x' || substr(md5('{SPLIT_SEED}_'
                 || CAST(group_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                 / 4294967296.0 < {0.9 + 0.05} THEN 'val'
            ELSE 'test' END AS split
FROM g
"""

# Content-defined chunking (text/dedup.py rabin_chunks): same 8-gram
# md5 boundary test, cut-point assembly stated explicitly (append the
# text end only when it is not already a boundary — the relational
# form of the Spark side's array_distinct on an ascending list).
_RABIN_K, _RABIN_D = 8, 16


def _rabin_ctes(src: str) -> str:
    """The content-defined chunk CTE chain over a (id, text) relation
    ``src``, ending in ``chunks(id, chunk_idx, start, length,
    chunk_hash)`` — shared by RABIN_CHUNKS and CHUNK_DEDUP_STATS so
    one boundary/assembly rule backs both gates."""
    return f"""b AS (SELECT id, text,
             list_filter(range({_RABIN_K}, GREATEST(length(text),
                                                    {_RABIN_K}) + 1),
                         p -> p <= length(text) AND
                              CAST(('0x' || substr(md5(substr(text,
                                        CAST(p - {_RABIN_K - 1} AS INT),
                                        {_RABIN_K})), 1, 15))::UBIGINT
                                   AS BIGINT) % {_RABIN_D} = 0) AS bnds
      FROM {src}),
c AS (SELECT id, text,
             [CAST(0 AS BIGINT)] || bnds ||
             (CASE WHEN length(text) > 0
                        AND (len(bnds) = 0
                             OR bnds[len(bnds)] <> length(text))
                   THEN [CAST(length(text) AS BIGINT)]
                   ELSE [] END) AS cuts
      FROM b),
ch AS (SELECT id, text, cuts,
              UNNEST(range(2, len(cuts) + 1)) AS j
       FROM c),
chunks AS (SELECT id, CAST(j - 2 AS INT) AS chunk_idx,
       CAST(cuts[CAST(j - 1 AS INT)] + 1 AS BIGINT) AS start,
       CAST(cuts[CAST(j AS INT)] - cuts[CAST(j - 1 AS INT)] AS BIGINT)
           AS length,
       md5(substr(text, CAST(cuts[CAST(j - 1 AS INT)] + 1 AS INT),
                  CAST(cuts[CAST(j AS INT)]
                       - cuts[CAST(j - 1 AS INT)] AS INT))) AS chunk_hash
FROM ch)"""


RABIN_CHUNKS = f"""
WITH {oracle_ctes('corpus')},
{_rabin_ctes('corpus')}
SELECT id, chunk_idx, start, length, chunk_hash FROM chunks
"""


# Per-source chunk-dedup accounting (text/dedup.py chunk_dedup_stats):
# the sourced corpus, the SAME chunk CTE chain, two-grain rollup.
CHUNK_DEDUP_STATS = f"""
WITH {oracle_ctes('scorpus')},
cc AS (SELECT id, text FROM scorpus),
{_rabin_ctes('cc')},
jn AS (SELECT s.source, k.chunk_hash, k.length
       FROM chunks k JOIN scorpus s ON s.id = k.id),
ph AS (SELECT source, chunk_hash, COUNT(*) AS n,
              MIN(length) AS len, SUM(length) AS chars
       FROM jn GROUP BY 1, 2)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_chunks,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(len) AS BIGINT) AS distinct_chars,
       ROUND(SUM(len) / CAST(SUM(chars) AS DOUBLE), 6) AS dedup_ratio
FROM ph GROUP BY source
"""

# Bigram LM scoring (text/corpus.py bigram_logprob): add-1 smoothed
# conditional bigram model trained on the corpus itself; docs with
# fewer than two tokens yield no bigrams and are not scored.
BIGRAM_LOGPROB = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
bg AS (SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
       FROM tk, UNNEST(range(1, len(t))) AS u(i)),
c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
vs AS (SELECT COUNT(DISTINCT tok) AS v FROM
       (SELECT UNNEST(string_split(text, ' ')) AS tok FROM corpus))
SELECT b.id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-LN((c2.n2 + 1)
                     / CAST(c1.n1 + 1 * vs.v AS DOUBLE))), 6)
           AS avg_neg_logprob
FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vs
GROUP BY b.id
"""

# Interpolated Kneser-Ney bigram scoring (text/corpus.py
# kn_bigram_logprob, d=0.75): same bigram stream as BIGRAM_LOGPROB,
# counts/continuation-type tables re-derived relationally, the exact
# probability expression mirrored term-for-term (GREATEST discount,
# lambda interpolation, continuation unigram over bigram TYPES).
_KN_D = 0.75

KN_BIGRAM_LOGPROB = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
bg AS (SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
       FROM tk, UNNEST(range(1, len(t))) AS u(i)),
c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(n2) AS n1, COUNT(*) AS nfol FROM c2 GROUP BY 1),
np AS (SELECT w2, COUNT(*) AS nprec FROM c2 GROUP BY 1),
ty AS (SELECT COUNT(*) AS t FROM c2)
SELECT b.id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-LN(
           GREATEST(c2.n2 - {_KN_D}, 0.0) / CAST(c1.n1 AS DOUBLE)
           + (({_KN_D} * c1.nfol) / CAST(c1.n1 AS DOUBLE))
             * (np.nprec / CAST(ty.t AS DOUBLE))
       )), 6) AS avg_neg_logprob
FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN np USING (w2)
CROSS JOIN ty
GROUP BY b.id
"""

# Interpolated trigram LM scoring (text/corpus.py trigram_logprob):
# Jelinek-Mercer mix of the three ML orders, scored on the training
# corpus (closed world, no backoff branch). The interpolation term is
# ONE shared IEEE double expression (identical literal order in both
# engines); each trigram type's NLL goes through the shared
# 1e-9-shifted 6-decimal lattice into DECIMAL(14,6), the per-doc
# n-weighted sum is exact on decimals, and one deterministic rounding
# hands the mean back to double (the DSIR/lr_quality numerics).
_TRI_L = (0.7, 0.2, 0.1)
TRIGRAM_LOGPROB = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
tg AS (SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2,
              t[CAST(i + 2 AS INT)] AS w3
       FROM tk, UNNEST(range(1, len(t) - 1)) AS u(i)),
tgc AS (SELECT id, w1, w2, w3, COUNT(*) AS n FROM tg GROUP BY 1, 2, 3, 4),
c3 AS (SELECT w1, w2, w3, SUM(n) AS n3 FROM tgc GROUP BY 1, 2, 3),
cx AS (SELECT w1, w2, SUM(n3) AS nctx3 FROM c3 GROUP BY 1, 2),
bg AS (SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
       FROM tk, UNNEST(range(1, len(t))) AS u(i)),
c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY 1),
toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM corpus),
uni AS (SELECT tok, COUNT(*) AS nu FROM toks GROUP BY 1),
tot AS (SELECT SUM(nu) AS n_total FROM uni),
lat AS (SELECT g.id, g.n,
               CAST(ROUND(-LN(
                   {_TRI_L[0]} * (c3.n3 / CAST(cx.nctx3 AS DOUBLE))
                 + {_TRI_L[1]} * (c2.n2 / CAST(c1.n1 AS DOUBLE))
                 + {_TRI_L[2]} * (uni.nu / CAST(tot.n_total AS DOUBLE))
               ) + 1e-9, 6) AS DECIMAL(14,6)) AS nll
        FROM tgc g
        JOIN c3 USING (w1, w2, w3)
        JOIN cx USING (w1, w2)
        JOIN c2 ON c2.w1 = g.w2 AND c2.w2 = g.w3
        JOIN c1 ON c1.w1 = g.w2
        JOIN uni ON uni.tok = g.w3
        CROSS JOIN tot)
SELECT id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
       ROUND(CAST(CAST(SUM(n * nll) AS DECIMAL(26,6)) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) + 1e-9, 6) AS avg_neg_logprob
FROM lat GROUP BY id
"""

# Interpolated Kneser-Ney trigram (text/corpus.py kn_trigram_logprob,
# KenLM's default order-3 shape): highest order discounts raw counts,
# both lower orders are CONTINUATION-count models derived from the
# trigram table; closed world on the training corpus so no unseen
# branch. Same decimal-lattice per-doc mean as TRIGRAM_LOGPROB; the
# probability is ONE shared IEEE double expression with identical
# parenthesization in both engines.
KN_TRIGRAM_LOGPROB = f"""
WITH {oracle_ctes('corpus')},
tk AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
tg AS (SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2,
              t[CAST(i + 2 AS INT)] AS w3
       FROM tk, UNNEST(range(1, len(t) - 1)) AS u(i)),
tgc AS (SELECT id, w1, w2, w3, COUNT(*) AS n FROM tg GROUP BY 1, 2, 3, 4),
c3 AS (SELECT w1, w2, w3, SUM(n) AS n3 FROM tgc GROUP BY 1, 2, 3),
cx AS (SELECT w1, w2, SUM(n3) AS nctx, COUNT(*) AS nfol3
       FROM c3 GROUP BY 1, 2),
ct AS (SELECT w2, w3, COUNT(*) AS t23 FROM c3 GROUP BY 1, 2),
tm AS (SELECT w2, SUM(t23) AS tmid, COUNT(*) AS tfol FROM ct GROUP BY 1),
td AS (SELECT w3, COUNT(*) AS tdot FROM ct GROUP BY 1),
tt AS (SELECT COUNT(*) AS T FROM ct),
lat AS (SELECT g.id, g.n,
               CAST(ROUND(-LN(
                   GREATEST(c3.n3 - {_KN_D}, 0.0) / CAST(cx.nctx AS DOUBLE)
                 + (({_KN_D} * cx.nfol3) / CAST(cx.nctx AS DOUBLE))
                   * (GREATEST(ct.t23 - {_KN_D}, 0.0)
                      / CAST(tm.tmid AS DOUBLE)
                      + (({_KN_D} * tm.tfol) / CAST(tm.tmid AS DOUBLE))
                        * (td.tdot / CAST(tt.T AS DOUBLE)))
               ) + 1e-9, 6) AS DECIMAL(14,6)) AS nll
        FROM tgc g
        JOIN c3 USING (w1, w2, w3)
        JOIN cx USING (w1, w2)
        JOIN ct USING (w2, w3)
        JOIN tm USING (w2)
        JOIN td USING (w3)
        CROSS JOIN tt)
SELECT id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
       ROUND(CAST(CAST(SUM(n * nll) AS DECIMAL(26,6)) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) + 1e-9, 6) AS avg_neg_logprob
FROM lat GROUP BY id
"""

# perplexity_buckets with the trigram scorer swapped in (the scorer
# hook, r8 VERDICT item 7): same exact-interpolated tercile cutoffs
# as PERPLEXITY_BUCKETS, over the TRIGRAM_LOGPROB score.
PERPLEXITY_BUCKETS_TRIGRAM = f"""
WITH scored AS ({TRIGRAM_LOGPROB}),
cuts AS (SELECT ROUND(quantile_cont(avg_neg_logprob,
                                    CAST(1 AS DOUBLE) / 3), 6) AS c1,
                ROUND(quantile_cont(avg_neg_logprob,
                                    CAST(2 AS DOUBLE) / 3), 6) AS c2
         FROM scored)
SELECT s.id, s.n_trigrams, s.avg_neg_logprob,
       CASE WHEN s.avg_neg_logprob <= c.c1 THEN 'head'
            WHEN s.avg_neg_logprob <= c.c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s CROSS JOIN cuts c
"""

# Composite curation score (text/corpus.py quality_blend): z-scored
# rule points blended with the negated z-scored unigram NLL; keep
# tested on the ROUNDED blend.
QUALITY_BLEND = f"""
WITH {oracle_ctes('corpus')},
q AS (SELECT id, CAST({_QPOINTS} AS DOUBLE) AS qv FROM corpus),
toks AS (SELECT id, UNNEST(string_split(text, ' ')) AS tok FROM corpus),
vocab AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM vocab),
lm AS (SELECT t.id,
              ROUND(AVG(-LN(v.n_tok / CAST(tt.n_total AS DOUBLE))), 6)
                  AS nv
       FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN total tt
       GROUP BY t.id),
sig AS (SELECT q.id, q.qv, lm.nv FROM q JOIN lm ON lm.id = q.id),
st AS (SELECT AVG(qv) AS mq, STDDEV_POP(qv) AS sq,
              AVG(nv) AS mn, STDDEV_POP(nv) AS sn
       FROM sig),
zz AS (SELECT id,
              (qv - mq) / (CASE WHEN sq > 0 THEN sq END) AS zq,
              (nv - mn) / (CASE WHEN sn > 0 THEN sn END) AS zn
       FROM sig CROSS JOIN st),
-- blend averages the UNROUNDED z-scores (halving 6dp-rounded values
-- sits exactly on 7th-decimal midpoints where engine rounding splits)
bl AS (SELECT id, ROUND(zq, 6) AS z_quality, ROUND(zn, 6) AS z_lm,
              ROUND((COALESCE(zq, 0.0) - COALESCE(zn, 0.0)) / 2.0, 6)
                  AS blend
       FROM zz)
SELECT id, z_quality, z_lm, blend, blend > 0.0 AS keep FROM bl
"""


# Ordered conversion funnel (operators/temporal.py conversion_funnel):
# step k's first qualifying time must be strictly after step k-1's.
_FUNNEL_STEPS = ("view", "click", "purchase")
# The raw fixture is dense (every user does everything): the %11<2
# thinning plants real funnel dropout, otherwise every rate is 1.0
# and the gate cannot distinguish a broken funnel from a working one.
CONVERSION_FUNNEL = f"""
WITH ev AS (SELECT * FROM events WHERE event_id % 11 < 2),
s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
            WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM ev e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t
       GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM ev e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t
       GROUP BY 1),
c AS (
  SELECT 1 AS step, '{_FUNNEL_STEPS[0]}' AS event_type,
         (SELECT COUNT(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, '{_FUNNEL_STEPS[1]}', (SELECT COUNT(*) FROM s2)
  UNION ALL
  SELECT 3, '{_FUNNEL_STEPS[2]}', (SELECT COUNT(*) FROM s3))
SELECT CAST(step AS INT) AS step, event_type,
       CAST(n_users AS BIGINT) AS n_users,
       CASE WHEN COALESCE(LAG(n_users) OVER (ORDER BY step), n_users) > 0
            THEN ROUND(n_users
                       / CAST(COALESCE(LAG(n_users) OVER (ORDER BY step),
                                       n_users) AS DOUBLE), 6)
            END AS conv_rate
FROM c
"""

# Weekly retention cohorts (operators/temporal.py retention_cohorts):
# fixed 7-day Unix epochs by integer division — no calendar weeks.
_WEEK_US = 7 * 86_400 * 1_000_000
# Same density problem as the funnel: thin to %13<3 so cohorts and
# weekly activity genuinely vary.
RETENTION_COHORTS = f"""
WITH uw AS (SELECT DISTINCT user_id,
                   epoch_us(ts) // {_WEEK_US} AS week
            FROM events WHERE event_id % 13 < 3),
coh AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1),
act AS (SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
               CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active
        FROM uw u JOIN coh c ON c.user_id = u.user_id
        GROUP BY 1, 2),
sz AS (SELECT cohort_week, n_active AS size FROM act WHERE week_offset = 0)
SELECT a.cohort_week, a.week_offset, a.n_active,
       ROUND(a.n_active / CAST(s.size AS DOUBLE), 6) AS retention
FROM act a JOIN sz s ON s.cohort_week = a.cohort_week
"""


# Repeated-ngram memorization audit (text/dedup.py repeated_ngrams):
# stride-1 40-grams, top 20 by occurrences (same md5-hash grouping —
# min(gram) example rides the aggregate on both sides).
_RPT_L, _RPT_K = 40, 20
REPEATED_NGRAMS = f"""
WITH {oracle_ctes('corpus')},
g AS (SELECT id, substr(text, CAST(p AS INT), {_RPT_L}) AS gram
      FROM corpus,
           UNNEST(range(1, GREATEST(length(text) - {_RPT_L - 1}, 1) + 1))
               AS u(p)),
h AS (SELECT id, gram,
             CAST(('0x' || substr(md5(gram), 1, 15))::UBIGINT AS BIGINT)
                 AS hh
      FROM g),
a AS (SELECT hh, MIN(gram) AS gram,
             CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM h GROUP BY hh
      HAVING COUNT(*) > 1)
SELECT gram, n_docs, n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, n_docs DESC,
                               gram) AS INT) AS rank
FROM a
QUALIFY rank <= {_RPT_K}
"""

# Generic table profile (operators/audit.py table_profile) over the
# TPC-H lineitem snapshot: nulls / exact distincts / numeric extrema.
_LI_COLS = (
    ("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
    ("l_linenumber", True), ("l_quantity", True),
    ("l_extendedprice", True), ("l_discount", True), ("l_tax", True),
    ("l_returnflag", False), ("l_linestatus", False),
    ("l_shipdate", False),
)
TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {f'ROUND(MIN(CAST({c} AS DOUBLE)), 6)' if num else 'CAST(NULL AS DOUBLE)'} AS min_num,
       {f'ROUND(MAX(CAST({c} AS DOUBLE)), 6)' if num else 'CAST(NULL AS DOUBLE)'} AS max_num
FROM lineitem"""
    for c, num in _LI_COLS
)

# TPC-H Q3 shape (shipping priority): unshipped-order revenue for one
# market segment, top 10.
TPCH_SHIPPING = """
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(epoch_us(o.o_orderdate) AS BIGINT) AS orderdate_us,
       o.o_orderpriority
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderdate_us, l_orderkey
LIMIT 10
"""


def _retrieval_metrics_sql() -> str:
    """Retrieval eval of the LSH path against the exact top-10
    (vector/mining.py retrieval_metrics): both search pipelines
    re-derived in full (the existing LSH and exact oracles as derived
    tables), then the same recall@k / mrr arithmetic."""
    ks = (1, 5, 10)
    recs = []
    for k in ks:
        recs.append(f"""
  SELECT 'recall@{k}' AS metric,
         ROUND(AVG(COALESCE(x.r, 0.0)), 6) AS value
  FROM qs LEFT JOIN (
    SELECT query_id,
           SUM(CASE WHEN rr <= {k} THEN 1 ELSE 0 END) / {float(k)} AS r
    FROM j WHERE tr <= {k} GROUP BY query_id) x USING (query_id)""")
    recs.append("""
  SELECT 'mrr' AS metric, ROUND(AVG(COALESCE(x.r, 0.0)), 6) AS value
  FROM qs LEFT JOIN (
    SELECT query_id,
           CASE WHEN rr IS NOT NULL THEN 1.0 / rr ELSE 0.0 END AS r
    FROM j WHERE tr = 1) x USING (query_id)""")
    body = "\nUNION ALL\n".join(recs)
    return f"""
WITH res AS (SELECT * FROM ({_ann_lsh_sql()})),
tr AS (SELECT * FROM ({ANN_TOPK})),
qs AS (SELECT DISTINCT query_id FROM tr),
j AS (SELECT t.query_id, t.rank AS tr, r.rank AS rr
      FROM tr t LEFT JOIN res r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id)
{body}
"""


RETRIEVAL_METRICS = _retrieval_metrics_sql()


# Epoch materialization (text/corpus.py epoch_expand): the
# temperature-mixture plan replayed as a derived table, whole copies
# for the integer epochs plus a seeded-hash-selected extra copy for
# the fractional part.
EPOCH_EXPAND = f"""
WITH w AS (SELECT source, epochs FROM ({TEMPERATURE_MIX})),
d AS (SELECT dd.doc_id AS id, dd.source, w.epochs,
             CAST(('0x' || substr(md5('0_' || CAST(dd.doc_id AS VARCHAR)),
                                  1, 8))::UBIGINT AS DOUBLE)
                 / 4294967296.0 AS h
      FROM documents dd JOIN w ON w.source = dd.source),
c AS (SELECT id, source,
             CAST(FLOOR(epochs) AS BIGINT)
             + (CASE WHEN h < epochs - FLOOR(epochs) THEN 1 ELSE 0 END)
                 AS nc
      FROM d)
SELECT id, source, CAST(u.e AS BIGINT) AS epoch
FROM c, UNNEST(range(1, nc + 1)) AS u(e)
"""

# Session path report (operators/temporal.py session_paths): the
# SESSIONIZE numbering, per-session ordered type sequences, trigram
# paths, top 15.
_PATH_K = 15
# 6 h gap, not SESSIONIZE's 30 min: fixture events are ~40 min apart,
# so the default gap gives singleton sessions, every trigram count is
# 1, and the gate could not catch a broken counter.
_PATH_GAP_US = 21_600_000_000
SESSION_PATHS = f"""
WITH s AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events),
l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              AS prev
      FROM s),
b AS (SELECT *, CASE WHEN prev IS NOT NULL AND us - prev >= {_PATH_GAP_US}
                     THEN 1 ELSE 0 END AS brk
      FROM l),
cs AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
       FROM b),
seq AS (SELECT user_id, session_id,
               list(event_type ORDER BY us, event_id) AS evs
        FROM cs GROUP BY 1, 2),
p AS (SELECT user_id, session_id,
             evs[CAST(i AS INT)] || '>' || evs[CAST(i + 1 AS INT)]
                 || '>' || evs[CAST(i + 2 AS INT)] AS path
      FROM seq, UNNEST(range(1, len(evs) - 1)) AS u(i)
      WHERE len(evs) >= 3),
a AS (SELECT path,
             CAST(COUNT(DISTINCT (user_id, session_id)) AS BIGINT)
                 AS n_sessions,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM p GROUP BY path)
SELECT path, n_sessions, n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC,
                               n_sessions DESC, path) AS INT) AS rank
FROM a
QUALIFY rank <= {_PATH_K}
"""


# Dedup precision/recall (text/dedup.py pair_pr): the cheap SimHash
# Hamming pass scored against the exhaustive exact-Jaccard pair set —
# both pipelines replayed as derived tables. SimHash was chosen over
# MinHash-LSH as the candidate side ON PURPOSE: LSH's exact-Jaccard
# verify step makes its output EQUAL the truth set on this fixture
# (P = R = 1.0 — a broken metric would pass); the 32-bit fingerprint
# proxy has genuine two-sided error (measured P ~ 0.11, R ~ 0.97).
DEDUP_PR = f"""
WITH cand AS (SELECT DISTINCT LEAST(id_a, id_b) AS a,
                     GREATEST(id_a, id_b) AS b
              FROM ({SIMHASH_PAIRS})),
tr AS (SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
       FROM ({NGRAM_JACCARD_EXHAUSTIVE})),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM cand),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM tr),
x AS (SELECT CAST(COUNT(*) AS BIGINT) AS tp
      FROM cand JOIN tr USING (a, b)),
w AS (SELECT * FROM x CROSS JOIN c CROSS JOIN t)
SELECT 'precision' AS metric,
       CASE WHEN nc > 0 THEN ROUND(tp / CAST(nc AS DOUBLE), 6) END AS value
FROM w
UNION ALL
SELECT 'recall',
       CASE WHEN nt > 0 THEN ROUND(tp / CAST(nt AS DOUBLE), 6) END
FROM w
UNION ALL
SELECT 'f1',
       CASE WHEN nc > 0 AND nt > 0 AND tp > 0
            THEN ROUND(2.0 * tp / CAST(nc + nt AS DOUBLE), 6) END
FROM w
"""


# DAU/WAU engagement rollup (operators/temporal.py dau_wau): fixed
# Unix-epoch days, WAU via the 7x bounded fan-out (each user-day
# contributes to exactly the next 7 target days).
_DAY_US = 86_400_000_000
# %17<2 thinning: on raw events every user is active every week, so
# wau saturates at the user count and a broken WAU would pass.
DAU_WAU = f"""
WITH du AS (SELECT DISTINCT user_id AS u,
                   epoch_us(ts) // {_DAY_US} AS day
            FROM events WHERE event_id % 17 < 2),
dau AS (SELECT day, CAST(COUNT(DISTINCT u) AS BIGINT) AS dau
        FROM du GROUP BY 1),
wau AS (SELECT day + k.k AS day, CAST(COUNT(DISTINCT u) AS BIGINT) AS wau
        FROM du CROSS JOIN (SELECT UNNEST(range(7)) AS k) k
        GROUP BY 1)
SELECT d.day, d.dau, w.wau,
       ROUND(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w ON w.day = d.day
"""


# Snapshot stat drift (operators/audit.py profile_drift) over orders
# old vs new = %7-filtered (planted row-loss drift); the oracle
# re-derives both per-column profiles and the integer cross-
# multiplication rate test.
_PD_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")


def _pd_profile(src: str) -> str:
    return "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM {src}"""
        for c in _PD_COLS
    )


PROFILE_DRIFT = f"""
WITH nw AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
po AS ({_pd_profile('orders')}),
pn AS ({_pd_profile('nw')})
SELECT po.column,
       po.n_rows AS n_rows_old, pn.n_rows AS n_rows_new,
       po.n_nulls AS n_nulls_old, pn.n_nulls AS n_nulls_new,
       po.n_distinct AS n_distinct_old, pn.n_distinct AS n_distinct_new,
       (pn.n_nulls * po.n_rows <> po.n_nulls * pn.n_rows)
       OR (pn.n_distinct * po.n_rows <> po.n_distinct * pn.n_rows)
           AS drifted
FROM po JOIN pn ON pn.column = po.column
"""


# Per-video scene segmentation (media/multimodal.py scene_changes):
# the oracle derives scene counts INDEPENDENTLY — count of DISTINCT
# scene blocks among the sampled frame indices (scene ids are
# monotone in frame_idx, so distinct blocks == 1 + lag-run changes,
# which is what the Spark side counts).
_SCENE_EVERY_N, _SCENE_LEN = 5, 30
SCENE_CHANGES = f"""
WITH v AS (SELECT doc_id, doc_id % {FRAME_SEED_MOD} AS seed
           FROM documents
           WHERE (doc_id % {FRAME_SEED_MOD}) % 3 = 2),
f AS (SELECT doc_id, seed,
             UNNEST(range(0, 1 + (seed * 31) % 240, {_SCENE_EVERY_N}))
                 AS frame_idx
      FROM v)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(COUNT(DISTINCT frame_idx // {_SCENE_LEN}) AS BIGINT)
           AS n_scenes
FROM f GROUP BY doc_id
"""

# End-to-end curation decision ledger (text/pipeline.py
# curation_ledger): every stage replayed relationally and assigned by
# the SAME priority CASE — clusters by the recursive-CTE walk (not
# label propagation), retention by the quality argmax, contamination
# by the shingle-dictionary join, then the drop_reasons row-local
# rules. Composes the exact fragments its per-stage gates already
# pin, so one ledger mismatch localizes to one stage.
CURATION_LEDGER = f"""
WITH RECURSIVE {_MINHASH_CTES},
{_WALK_CTES},
g2 AS ({_WALK_GROUPS}),
stq AS (SELECT id, LENGTH(text) AS n_chars, {_NTOK} AS n_tokens,
               {_NSTOP} AS n_stop,
               (LENGTH(text) - ({_NTOK} - 1)) / CAST({_NTOK} AS DOUBLE)
                 AS atl
        FROM corpus),
qualq AS (SELECT id,
       ROUND(((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) >= 0.01 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN ROUND(atl, 6) >= 2.0 AND ROUND(atl, 6) <= 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0,
           6) AS quality
       FROM stq),
rr AS (SELECT g2.group_id, g2.id, g2.group_size,
              ROW_NUMBER() OVER (PARTITION BY g2.group_id
                                 ORDER BY q.quality DESC, g2.id) AS rn
       FROM g2 JOIN qualq q ON q.id = g2.id),
keptt AS (SELECT group_id, id AS kept_id FROM rr WHERE rn = 1),
nearq AS (SELECT g2.id,
                 (g2.group_size > 1 AND g2.id <> k.kept_id) AS isnear
          FROM g2 JOIN keptt k ON k.group_id = g2.group_id),
{_SHINGLE_HASHED_CTE},
contq AS (SELECT t.id
          FROM (SELECT * FROM shh WHERE id % 13 <> 0) t
          JOIN (SELECT DISTINCT shingle FROM shh WHERE id % 13 = 0) b
            ON b.shingle = t.shingle
          GROUP BY t.id HAVING COUNT(*) >= 1),
{_gopher_ctes('corpus')},
sq AS (SELECT id, text, md5(text) AS fp, {_QPOINTS} AS pts FROM corpus),
jq AS (SELECT sq.id, sq.text, sq.fp, sq.pts, {_GOPHER_PASS} AS pass
       FROM sq JOIN gr ON gr.id = sq.id),
mq AS (SELECT jq.*, MIN(id) OVER (PARTITION BY fp) AS min_id FROM jq)
SELECT mq.id,
       CASE WHEN mq.text IS NULL THEN 'null_text'
            WHEN mq.id % 13 = 0 THEN 'benchmark'
            WHEN mq.fp IS NOT NULL AND mq.id <> mq.min_id THEN 'exact_dup'
            WHEN COALESCE(n.isnear, FALSE) THEN 'near_dup'
            WHEN c2.id IS NOT NULL THEN 'contaminated'
            WHEN NOT COALESCE(mq.pass, FALSE) THEN 'gopher_fail'
            WHEN mq.pts < 2 THEN 'low_quality'
            ELSE 'kept' END AS status
FROM mq
LEFT JOIN nearq n ON n.id = mq.id
LEFT JOIN contq c2 ON c2.id = mq.id
"""


# Relational logistic regression (text/classify.py lr_train_gd +
# lr_score): 3 unrolled batch-GD rounds replayed relationally —
# standardized features, each round's sigmoid p, gradients, and
# weights all ROUNDED to the 6-decimal lattice, the linear term
# written in the identical left-to-right association — so both
# engines walk the same weight trajectory and the final per-doc
# scores hash-match.
def _lr_quality_sql(n_iter: int = 3, lr: float = 0.5) -> str:
    cols = ["n_chars", "stopword_ratio", "avg_token_len"]
    feat = f"""
f0 AS (SELECT id,
              CAST(LENGTH(text) AS DOUBLE) / 1000.0 AS n_chars,
              ROUND(({_NSTOP}) / CAST({_NTOK} AS DOUBLE), 6)
                AS stopword_ratio,
              ROUND((LENGTH(text) - ({_NTOK} - 1))
                    / CAST({_NTOK} AS DOUBLE), 6) AS avg_token_len,
              CAST(((CASE WHEN LENGTH(text) BETWEEN 100 AND 20000
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN ROUND(({_NSTOP}) / CAST({_NTOK} AS DOUBLE), 6)
                          >= 0.01 THEN 1 ELSE 0 END)
                  + (CASE WHEN ROUND((LENGTH(text) - ({_NTOK} - 1))
                                     / CAST({_NTOK} AS DOUBLE), 6)
                          BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END))
                   >= 2 AS INT) AS label
       FROM corpus WHERE text IS NOT NULL)"""
    # DECIMAL moment/gradient sums mirror the Spark side: exact and
    # order-independent over lattice values, so neither engine's
    # partition order can split a rounded average on a midpoint
    # epsilon-shifted rounding (text/classify.py _r6): engines'
    # ROUND implementations disagree on doubles within an ulp of a
    # half-way point even when the inputs are bit-identical; both
    # sides of this gate shift by 1e-9 before rounding
    def _r6(e):
        return f"ROUND(({e}) + 1e-9, 6)"

    def _q(c):
        # DECIMAL(19,6), not (14,6): DuckDB executes (14,6)x(14,6)
        # products in int64 and overflows at |x| ~ 1e4 scale-6; (19,6)
        # promotes to int128 (result DECIMAL(38,12), still exact).
        # The Spark side keeps (14,6) — (29,12) products fit Spark's
        # 38-digit cap — and exactness makes the widths interchangeable.
        return f"CAST({_r6(c)} AS DECIMAL(19,6))"

    mom_cols = ", ".join(
        f"{_r6(f'CAST(CAST(SUM({_q(c)}) AS DECIMAL(26,6)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}"
        f" AS mu_{c},"
        f" {_r6(f'CAST(CAST(SUM({_q(c)} * {_q(c)}) AS DECIMAL(26,6)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}"
        f" AS m2_{c}"
        for c in cols
    )
    sig_parts = []
    for c in cols:
        var = _r6(f"GREATEST(m2_{c} - mu_{c} * mu_{c}, 0.0)")
        sig_parts.append(f"{_r6(f'SQRT({var})')} AS sig_{c}")
    sig_cols = ", ".join(sig_parts)
    std_cols = ", ".join(
        f"CASE WHEN m.sig_{c} = 0.0 THEN 0.0"
        f" ELSE {_r6(f'(f.{c} - m.mu_{c}) / m.sig_{c}')} END AS {c}"
        for c in cols
    )
    parts = [
        feat,
        f"mom0 AS (SELECT {mom_cols} FROM f0)",
        f"mom AS (SELECT *, {sig_cols} FROM mom0)",
        f"fs AS (SELECT f.id, f.label, {std_cols} FROM f0 f CROSS JOIN mom m)",
        "w0 AS (SELECT 0.0 AS bias, "
        + ", ".join(f"0.0 AS w_{c}" for c in cols)
        + ")",
    ]
    lin = "w.bias + " + " + ".join(f"w.w_{c} * f.{c}" for c in cols)
    for k in range(1, int(n_iter) + 1):
        parts.append(
            f"s{k} AS (SELECT f.*,"
            f" {_r6(f'1.0 / (1.0 + EXP(-({lin})))')} AS p"
            f" FROM fs f CROSS JOIN w{k - 1} w)"
        )
        pd_ = "CAST(p AS DECIMAL(8,6)) - CAST(label AS DECIMAL(8,6))"
        g = ", ".join(
            f"{_r6(f'CAST(CAST(SUM(({pd_}) * {_q(c)}) AS DECIMAL(26,6)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}"
            f" AS g_{c}"
            for c in cols
        )
        parts.append(
            f"g{k} AS (SELECT"
            f" {_r6(f'CAST(CAST(SUM({pd_}) AS DECIMAL(26,6)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')}"
            f" AS gb, {g}"
            f" FROM s{k})"
        )
        wu = ", ".join(
            f"{_r6(f'w.w_{c} - {lr} * g.g_{c}')} AS w_{c}" for c in cols
        )
        parts.append(
            f"w{k} AS (SELECT {_r6(f'w.bias - {lr} * g.gb')} AS bias,"
            f" {wu} FROM w{k - 1} w CROSS JOIN g{k} g)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {oracle_ctes('corpus')},\n{body}\n"
        f"SELECT f.id, {_r6(f'1.0 / (1.0 + EXP(-({lin})))')} AS p\n"
        f"FROM fs f CROSS JOIN w{int(n_iter)} w"
    )


LR_QUALITY = _lr_quality_sql()


# Per-group OLS trend (operators/temporal.py group_trend): the five
# sums in DECIMAL over lattice-quantized values (exact,
# order-independent), the closed form written in the identical
# association order, every output through the 1e-9-shifted round —
# the numerics.py recipe, same as LR_QUALITY.
def _trend_sql() -> str:
    def _r6(e):
        return f"ROUND(({e}) + 1e-9, 6)"

    def _q(c):
        # DECIMAL(19,6), not (14,6): DuckDB executes (14,6)x(14,6)
        # products in int64 and overflows at |x| ~ 1e4 scale-6; (19,6)
        # promotes to int128 (result DECIMAL(38,12), still exact).
        # The Spark side keeps (14,6) — (29,12) products fit Spark's
        # 38-digit cap — and exactness makes the widths interchangeable.
        return f"CAST({_r6(c)} AS DECIMAL(19,6))"

    cov = "(CAST(n AS DOUBLE) * sxy - sx * sy)"
    varx = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
    vary = "(CAST(n AS DOUBLE) * syy - sy * sy)"
    return f"""
WITH daily AS (SELECT event_type,
                      epoch_us(ts) // 86400000000 AS day,
                      CAST(COUNT(*) AS DOUBLE) AS cnt
               FROM events GROUP BY 1, 2),
q AS (SELECT event_type, {_q('day')} AS xd, {_q('cnt')} AS yd FROM daily),
a AS (SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(xd) AS DECIMAL(26,6)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(yd) AS DECIMAL(26,6)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(xd * yd) AS DECIMAL(26,6)) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(xd * xd) AS DECIMAL(26,6)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(yd * yd) AS DECIMAL(26,6)) AS DOUBLE) AS syy
      FROM q GROUP BY 1)
SELECT event_type, n,
       CASE WHEN {varx} > 0 THEN {_r6(f'{cov} / {varx}')} END AS slope,
       CASE WHEN {varx} > 0 THEN
         {_r6(f'(sy - ({cov} / {varx}) * sx) / CAST(n AS DOUBLE)')}
       END AS intercept,
       CASE WHEN {varx} > 0 AND {vary} > 0 THEN
         {_r6(f'{cov} * {cov} / ({varx} * {vary})')}
       END AS r2
FROM a
"""


EVENT_TREND = _trend_sql()


# Unigram-LM tokenizer fertility (text/unigram.py unigram_fertility):
# the DuckDB side replays the SAME Viterbi min-cost segmentation with
# a recursive CTE over the distinct-word table — candidate piece costs
# are pre-pivoted per (word, position) outside the recursion, the
# recursive arm folds the 4 piece lengths through LATERAL stages with
# the identical tie rule (cost asc, then n_pieces on replace-on-<=,
# scanning lengths ascending = longest-last-piece at a full tie).
# Integer costs end-to-end, so the DP is bit-exact across engines; the
# two ROUNDs at the end are the bpe_fertility-proven report recipe.
from .text import unigram as _ug  # noqa: E402

# single quotes doubled per standard SQL (the pinned inventory has
# none today, but the literal builder must not silently break if a
# learned piece ever lands here — ADVICE r7)
_UG_VALS = ", ".join(
    "('" + p.replace("'", "''") + f"', {c})"
    for p, c in _ug.UNIGRAM_PIECES
)


def _ug_stage(prev: str, clen: int, idx: str) -> str:
    """One LATERAL fold stage: candidate = piece of length ``clen``
    ending at position j (cost column c{clen}, prefix state at list
    index ``idx``) replaces the running best on the shared tie rule.
    ``bl`` carries the winning piece length — the backpointer the
    encode oracle's reconstruction walk follows."""
    cand_c = f"d.cs[{idx}] + c.c{clen}"
    cand_n = f"d.nps[{idx}] + 1"
    better = (
        f"c.c{clen} IS NOT NULL AND ({cand_c} < {prev}.bc"
        f" OR ({cand_c} = {prev}.bc AND {cand_n} <= {prev}.bn))"
    )
    return (
        f"CROSS JOIN LATERAL (SELECT"
        f" CASE WHEN {better} THEN {cand_c} ELSE {prev}.bc END AS bc,"
        f" CASE WHEN {better} THEN {cand_n} ELSE {prev}.bn END AS bn,"
        f" CASE WHEN {better} THEN {clen} ELSE {prev}.bl END AS bl"
        f") s{clen}"
    )


# shared DP CTE text (pz piece table, pre-pivoted candidate costs,
# the recursive fold carrying cost/piece-count/winning-length lists);
# expects a CTE ``dw(w)`` of distinct words upstream.
def _ug_dp_body(px: str, pz: str, dw: str) -> str:
    """``{px}cand`` / ``{px}dp`` CTEs for the recursive Viterbi DP
    reading piece costs from CTE ``{pz}(piece, cost)`` over distinct
    words ``{dw}(w)`` — parameterized (round 8) so the EM trainer
    replay can run the SAME DP against each round's LEARNED inventory
    instead of the pinned VALUES."""
    return f"""{px}cand AS (
  SELECT w, j,
         MAX(CASE WHEN l = 1 THEN cost END) AS c1,
         MAX(CASE WHEN l = 2 THEN cost END) AS c2,
         MAX(CASE WHEN l = 3 THEN cost END) AS c3,
         MAX(CASE WHEN l = 4 THEN cost END) AS c4
  FROM (
    SELECT {dw}.w, CAST(t.j AS INT) AS j, l.l,
           CASE WHEN l.l = 1 THEN COALESCE(p.cost, {_ug.UNK_CHAR_COST})
                ELSE p.cost END AS cost
    FROM {dw}
    CROSS JOIN UNNEST(range(1, length({dw}.w) + 1)) t(j)
    CROSS JOIN (VALUES (1), (2), (3), (4)) l(l)
    LEFT JOIN {pz} p
      ON p.piece = substr({dw}.w, CAST(t.j AS INT) - l.l + 1, l.l)
    WHERE l.l <= t.j
  ) GROUP BY w, j
),
{px}dp AS (
  SELECT w, 0 AS j, [CAST(0 AS BIGINT)] AS cs, [0] AS nps,
         [0] AS ls FROM {dw}
  UNION ALL
  SELECT d.w, d.j + 1, d.cs || [s4.bc], d.nps || [s4.bn],
         d.ls || [s4.bl]
  FROM {px}dp d
  JOIN {px}cand c ON c.w = d.w AND c.j = d.j + 1
  CROSS JOIN LATERAL (SELECT d.cs[d.j + 1] + c.c1 AS bc,
                             d.nps[d.j + 1] + 1 AS bn, 1 AS bl) s1
  {_ug_stage('s1', 2, 'd.j')}
  {_ug_stage('s2', 3, 'd.j - 1')}
  {_ug_stage('s3', 4, 'd.j - 2')}
  WHERE d.j < length(d.w)
)"""


def _ug_dp_ctes() -> str:
    return (
        f"pz AS (SELECT * FROM (VALUES {_UG_VALS}) p(piece, cost)),\n"
        + _ug_dp_body("", "pz", "dw")
    )


UNIGRAM_FERTILITY = f"""
WITH RECURSIVE {oracle_ctes('scorpus')},
wrd AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
        FROM scorpus),
wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
       FROM wrd WHERE w <> '' GROUP BY source, w),
dw AS (SELECT DISTINCT w FROM wc),
{_ug_dp_ctes()},
fin AS (SELECT w, cs[length(w) + 1] AS cost, nps[length(w) + 1] AS np
        FROM dp WHERE j = length(w)),
per AS (SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * np) AS BIGINT) AS n_pieces,
               CAST(SUM(n * length(w)) AS BIGINT) AS chars,
               CAST(SUM(n * cost) AS BIGINT) AS total_cost
        FROM wc JOIN fin USING (w) GROUP BY source)
SELECT source, n_words, n_pieces,
       CASE WHEN n_words > 0
            THEN ROUND(n_pieces / CAST(n_words AS DOUBLE), 6)
            ELSE 0.0 END AS fertility,
       CASE WHEN n_pieces > 0
            THEN ROUND(chars / CAST(n_pieces AS DOUBLE), 6)
            ELSE 0.0 END AS avg_piece_chars,
       total_cost
FROM per
"""


# MMR diversified top-k (vector/mmr.py mmr_topk, k=5, n_candidates=20,
# lam=0.7): the greedy selection loop is data-dependent but its LENGTH
# is fixed, so the oracle unrolls the 5 picks as plain CTE stages (the
# BPE_MERGES discipline) — per stage, each unselected candidate's MMR
# score is lam*cos(q,c) minus (1-lam) times its max rounded cosine to
# the already-selected set, argmax by (mmr DESC, neighbor_id).  Every
# similarity goes through the shared ROUND(...,6); the composed MMR
# score goes through the 1e-9-shifted round on BOTH engines (lam *
# 6-decimal cosine is a 7-decimal boundary value ~10% of the time —
# numerics.r6).
def _mmr_sql(k: int = 5, n_cand: int = 20, lam: float = 0.7) -> str:
    def r6(e: str) -> str:
        return f"ROUND(({e}) + 1e-9, 6)"

    dot_ab = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    mu = 1.0 - lam
    parts = [
        f"""q AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
       FROM embeddings WHERE vec_id % 50 = 0)""",
        f"""v AS (SELECT vec_id, embedding, SQRT({_NORM_SELF}) AS nrm
       FROM embeddings)""",
        f"""scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(({_DOT_QN}) / (q.nrm * v.nrm), 6) AS cosine
  FROM q, v WHERE v.vec_id <> q.vec_id)""",
        f"""cand AS (
  SELECT query_id, neighbor_id, cosine
  FROM (SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id)
                 AS crank
        FROM scored)
  WHERE crank <= {n_cand})""",
        """ce AS (
  SELECT c.query_id, c.neighbor_id, e.embedding,
         SQRT(""" + _NORM_SELF.replace("embedding", "e.embedding")
        + """) AS nrm
  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id)""",
        f"""psim AS (
  SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
         ROUND(({dot_ab}) / (a.nrm * b.nrm), 6) AS sim
  FROM ce a JOIN ce b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id)""",
        f"""sel1 AS (
  SELECT query_id, neighbor_id, cosine, mmr, 1 AS mmr_rank
  FROM (SELECT query_id, neighbor_id, cosine,
               {r6(f'{lam} * cosine - {mu} * 0.0')} AS mmr,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {r6(f'{lam} * cosine - {mu} * 0.0')} DESC,
                            neighbor_id) AS rn
        FROM cand)
  WHERE rn = 1)""",
        "selall1 AS (SELECT * FROM sel1)",
    ]
    for t in range(2, int(k) + 1):
        parts.append(
            f"""mmr{t} AS (
  SELECT c.query_id, c.neighbor_id, c.cosine,
         {r6(f'{lam} * c.cosine - {mu} * COALESCE(MAX(p.sim), 0.0)')}
           AS mmr
  FROM cand c
  LEFT JOIN selall{t - 1} x
    ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
  JOIN selall{t - 1} s ON s.query_id = c.query_id
  LEFT JOIN psim p ON p.query_id = c.query_id
    AND p.ida = c.neighbor_id AND p.idb = s.neighbor_id
  WHERE x.neighbor_id IS NULL
  GROUP BY c.query_id, c.neighbor_id, c.cosine)"""
        )
        parts.append(
            f"""sel{t} AS (
  SELECT query_id, neighbor_id, cosine, mmr, {t} AS mmr_rank
  FROM (SELECT query_id, neighbor_id, cosine, mmr,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY mmr DESC, neighbor_id) AS rn
        FROM mmr{t})
  WHERE rn = 1)"""
        )
        parts.append(
            f"selall{t} AS (SELECT * FROM selall{t - 1}"
            f" UNION ALL SELECT * FROM sel{t})"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, neighbor_id, cosine, mmr,"
        f" CAST(mmr_rank AS INT) AS mmr_rank FROM selall{int(k)}"
    )


MMR_TOPK = _mmr_sql()


# Corpus tokenization under the unigram model (text/unigram.py
# unigram_encode): the shared DP CTEs (with the winning piece length
# carried per position) + a backward reconstruction walk per distinct
# word, then the BPE_ENCODE assembly — words in document order, each
# word's pieces in walk order, dense 0-based positions, token ids as
# the rank of the piece in the sorted emitted-piece vocabulary.
UNIGRAM_ENCODE = f"""
WITH RECURSIVE {oracle_ctes('corpus')},
docs AS (SELECT id, text FROM corpus WHERE id % 10 = 0),
wl AS (SELECT id, string_split(COALESCE(text, ''), ' ') AS ws FROM docs),
wseq AS (SELECT id, UNNEST(range(1, len(ws) + 1)) AS wpos, ws FROM wl),
wq AS (SELECT id, wpos, ws[wpos] AS w FROM wseq WHERE ws[wpos] <> ''),
dw AS (SELECT DISTINCT w FROM wq),
{_ug_dp_ctes()},
fin2 AS (SELECT w, ls FROM dp WHERE j = length(w)),
walk AS (
  SELECT w, CAST(length(w) AS INT) AS j,
         CAST([] AS VARCHAR[]) AS ps, ls
  FROM fin2
  UNION ALL
  SELECT w, j - ls[j + 1],
         [substr(w, j - ls[j + 1] + 1, ls[j + 1])] || ps, ls
  FROM walk WHERE j > 0
),
syms AS (SELECT w, ps AS acc FROM walk WHERE j = 0),
tok AS (SELECT q.id, q.wpos,
               UNNEST(range(1, len(v.acc) + 1)) AS spos, v.acc AS acc
        FROM wq q JOIN syms v USING (w)),
tok2 AS (SELECT id, wpos, spos, acc[spos] AS token FROM tok),
sym AS (SELECT token,
               ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
        FROM (SELECT DISTINCT token FROM tok2))
SELECT t.id,
       ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.wpos, t.spos) - 1
           AS pos,
       t.token, s.token_id
FROM tok2 t JOIN sym s USING (token)
"""


# Unigram inventory learner (text/unigram.py unigram_train): substring
# counts with word multiplicity, singles always kept, top-k
# multi-char pieces by (count desc, piece), integer -log-p cost via
# the 1e-9-shifted round — LN on identical integers is the
# bigram_logprob-family precedent for cross-engine logs.
def _ug_train_sql(
    max_pieces: int = 48,
    min_count: int = 2,
    max_len: int = 4,
    scale: int = 100,
) -> str:
    return f"""
WITH {oracle_ctes('corpus')},
wrd AS (SELECT UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
        FROM corpus),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
       FROM wrd WHERE w <> '' GROUP BY w),
sub AS (SELECT n, substr(w, CAST(t.j AS INT), CAST(ll.l AS INT)) AS piece
        FROM wc
        CROSS JOIN UNNEST(range(1, length(w) + 1)) t(j)
        CROSS JOIN UNNEST(range(1, {int(max_len) + 1})) ll(l)
        WHERE ll.l <= length(w) - t.j + 1),
cnt AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
        FROM sub GROUP BY piece),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt),
kept AS (SELECT piece, cnt FROM cnt WHERE length(piece) = 1
         UNION ALL
         SELECT piece, cnt FROM (
           SELECT piece, cnt,
                  ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
           FROM cnt
           WHERE length(piece) > 1 AND cnt >= {int(min_count)})
         WHERE rk <= {int(max_pieces)})
SELECT piece, cnt,
       CAST(ROUND({int(scale)} * LN(CAST(t AS DOUBLE) / cnt) + 1e-9, 0)
            AS BIGINT) AS cost
FROM kept CROSS JOIN tot
"""


UNIGRAM_TRAIN = _ug_train_sql()


# EM-completed unigram trainer (text/unigram.py unigram_train_em,
# n_rounds=2): LARGE uncapped substring seed (singles unconditional,
# multis at min_count), then each round replays the Viterbi (hard-EM)
# E-step with the recursive-CTE DP parameterized on the CURRENT
# learned inventory, reconstructs the emitted pieces with the encode
# oracle's backward walk, counts emissions with word multiplicity,
# PRUNES multis to the emission-ranked top-k, and re-prices through
# the shared 1e-9-shifted round (singles never prune: unemitted ones
# carry their previous row, closing the cheap-UNK leak) — the round
# COUNT is fixed, so the data-dependent loop unrolls into plain CTE
# stages (the BPE_MERGES discipline).  Integer costs end-to-end keep
# the DP bit-exact; the only floats are the LN prices, absorbed by the
# shifted round exactly as in UNIGRAM_TRAIN (green since r7).
def _ug_walk_body(px: str) -> str:
    return f"""{px}fin AS (SELECT w, ls FROM {px}dp WHERE j = length(w)),
{px}walk AS (
  SELECT w, CAST(length(w) AS INT) AS j,
         CAST([] AS VARCHAR[]) AS ps, ls
  FROM {px}fin
  UNION ALL
  SELECT w, j - ls[j + 1],
         [substr(w, j - ls[j + 1] + 1, ls[j + 1])] || ps, ls
  FROM {px}walk WHERE j > 0
),
{px}syms AS (SELECT w, ps AS acc FROM {px}walk WHERE j = 0)"""


def _ug_train_em_sql(
    n_rounds: int = 2,
    max_pieces: int = 48,
    min_count: int = 2,
    max_len: int = 4,
    scale: int = 100,
) -> str:
    price = (
        f"CAST(ROUND({int(scale)} * LN(CAST(t AS DOUBLE) / cnt) + 1e-9,"
        f" 0) AS BIGINT) AS cost"
    )
    parts = [
        """wrd AS (SELECT UNNEST(string_split(COALESCE(text, ''), ' '))
          AS w FROM corpus)""",
        """wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
       FROM wrd WHERE w <> '' GROUP BY w)""",
        "dw AS (SELECT w FROM wc)",
        f"""s_sub AS (SELECT n,
            substr(w, CAST(t.j AS INT), CAST(ll.l AS INT)) AS piece
        FROM wc
        CROSS JOIN UNNEST(range(1, length(w) + 1)) t(j)
        CROSS JOIN UNNEST(range(1, {int(max_len) + 1})) ll(l)
        WHERE ll.l <= length(w) - t.j + 1)""",
        """s_cnt AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
        FROM s_sub GROUP BY piece)""",
        "s_tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM s_cnt)",
        f"""s_kept AS (SELECT piece, cnt FROM s_cnt
         WHERE length(piece) = 1 OR cnt >= {int(min_count)})""",
        f"pz1 AS (SELECT piece, cnt, {price} FROM s_kept CROSS JOIN s_tot)",
    ]
    for r in range(1, int(n_rounds) + 1):
        px = f"r{r}_"
        parts.append(_ug_dp_body(px, f"pz{r}", "dw"))
        parts.append(_ug_walk_body(px))
        parts.append(
            f"""usage{r} AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
       FROM (SELECT s.w, UNNEST(s.acc) AS piece FROM {px}syms s) u
       JOIN wc USING (w) GROUP BY piece)"""
        )
        parts.append(
            f"tot{r} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t"
            f" FROM usage{r})"
        )
        parts.append(
            f"""kept{r} AS (SELECT piece, cnt FROM usage{r}
         WHERE length(piece) = 1
         UNION ALL
         SELECT piece, cnt FROM (
           SELECT piece, cnt,
                  ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
           FROM usage{r}
           WHERE length(piece) > 1 AND cnt >= {int(min_count)})
         WHERE rk <= {int(max_pieces)})"""
        )
        parts.append(
            f"""pz{r + 1} AS (
         SELECT piece, cnt, {price} FROM kept{r} CROSS JOIN tot{r}
         UNION ALL
         SELECT p.piece, p.cnt, p.cost FROM pz{r} p
         WHERE length(p.piece) = 1
           AND NOT EXISTS (SELECT 1 FROM usage{r} u
                           WHERE u.piece = p.piece))"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH RECURSIVE {oracle_ctes('corpus')},\n{body}\n"
        f"SELECT piece, cnt, cost FROM pz{int(n_rounds) + 1}"
    )


UNIGRAM_TRAIN_EM = _ug_train_em_sql()


# Winnowing candidate pairs (text/dedup.py winnow_pairs, Schleimer et
# al. 2003): the same stride-1 Karp-Rabin k-gram hashes (integer
# Horner fold, mod every step — non-negative, so plain % agrees),
# list-sliced window minima, distinct per doc, df-capped
# inverted-index join.
def _winnow_fp_ctes(k: int = 8, w: int = 4) -> str:
    """The shared winnow-fingerprint CTE chain (cc / g / fp) used by
    WINNOW_PAIRS and WINNOW_REPORT — one fingerprint semantics."""
    from .text import dedup as _wd

    h = "CAST(0 AS BIGINT)"
    for j in range(int(k)):
        h = (
            f"({h} * {_wd.WINNOW_B}"
            f" + cs[CAST(p AS INT) + {j}]) % {_wd.WINNOW_M}"
        )
    return f"""cc AS (SELECT id,
              list_transform(range(1, length(text) + 1),
                             i -> ord(substr(text, CAST(i AS INT), 1)))
                AS cs
       FROM corpus WHERE length(text) >= {int(k)}),
g AS (SELECT id,
             list_transform(range(1, len(cs) - {int(k) - 1} + 1),
                            p -> CAST({h} AS BIGINT)) AS gs
      FROM cc),
fp AS (SELECT DISTINCT id, fp
       FROM (SELECT id,
                    UNNEST(list_transform(
                      range(1, greatest(len(gs) - {int(w) - 1}, 1) + 1),
                      j -> list_min(gs[j:j+{int(w) - 1}]))) AS fp
             FROM g))"""


def _winnow_pairs_sql(
    min_shared: int = 2, max_df: int = 8, k: int = 8, w: int = 4
) -> str:
    return f"""
WITH {oracle_ctes('corpus')},
{_winnow_fp_ctes(k, w)},
dfc AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {int(max_df)}),
cap AS (SELECT f.id, f.fp FROM fp f JOIN dfc USING (fp))
SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cap a JOIN cap b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id HAVING COUNT(*) >= {int(min_shared)}
"""


WINNOW_PAIRS = _winnow_pairs_sql()


# Winnow df-cap drop-mass audit (text/dedup.py winnow_report): the
# SAME fingerprint chain, aggregated over the UNCAPPED df table — the
# mass the MOSS boilerplate guard drops, made visible.
def _winnow_report_sql(max_df: int = 8, k: int = 8, w: int = 4) -> str:
    return f"""
WITH {oracle_ctes('corpus')},
{_winnow_fp_ctes(k, w)},
dfa AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp)
SELECT CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(SUM(df) AS BIGINT) AS n_postings,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fps_unique,
       CAST(SUM(CASE WHEN df BETWEEN 2 AND {int(max_df)} THEN 1
                ELSE 0 END) AS BIGINT) AS n_fps_kept,
       CAST(SUM(CASE WHEN df BETWEEN 2 AND {int(max_df)} THEN df
                ELSE 0 END) AS BIGINT) AS n_postings_kept,
       CAST(SUM(CASE WHEN df > {int(max_df)} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fps_capped,
       CAST(SUM(CASE WHEN df > {int(max_df)} THEN df ELSE 0 END)
            AS BIGINT) AS n_postings_dropped,
       CAST(MAX(df) AS BIGINT) AS max_df_seen
FROM dfa
"""


WINNOW_REPORT = _winnow_report_sql()


# Fill-in-the-middle transform (text/corpus.py fim_split): pure
# integer multiplicative-hash selection + cut points, replayed with
# the same modular arithmetic; substr semantics agree 1-based/length
# in both engines.
FIM_SPLIT = f"""
WITH {oracle_ctes('corpus')},
b AS (SELECT id, text, length(text) AS n,
             ((id % 100000) * 2654435761) % 100 < 50 AS sel,
             (id * 2246822519) % 1000003 AS u1,
             (id * 7919) % 1000003 AS u2
      FROM corpus),
c AS (SELECT id, text, n,
             (text IS NOT NULL AND n >= 20 AND sel) AS fim,
             CAST(1 + (u1 % (n - 2)) AS INT) AS s1, u2
      FROM b),
d AS (SELECT id, text, n, fim, s1,
             CAST(s1 + 1 + (u2 % (n - s1 - 1)) AS INT) AS s2
      FROM c)
SELECT id, fim,
       CASE WHEN fim THEN substr(text, 1, s1) ELSE text END AS prefix,
       CASE WHEN fim THEN substr(text, s1 + 1, s2 - s1)
            ELSE '' END AS middle,
       CASE WHEN fim THEN substr(text, s2 + 1, n - s2)
            ELSE '' END AS suffix
FROM d
"""


# DSIR importance weights (text/corpus.py dsir_weights): add-one
# smoothed unigram log-likelihood ratio, per-token value through the
# shared qdec lattice (ROUND(x+1e-9,6) :: DECIMAL(14,6)), per-doc sum
# exact on decimals, one deterministic cast back to double (dsum).
DSIR_WEIGHTS = f"""
WITH {oracle_ctes('scorpus')},
tk AS (SELECT id, source = 'mirror' AS t,
              UNNEST(string_split(COALESCE(text, ''), ' ')) AS tok
       FROM scorpus),
tk2 AS (SELECT * FROM tk WHERE tok <> ''),
vocab AS (SELECT tok,
                 CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                 CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
          FROM tk2 GROUP BY tok),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
               CAST(SUM(cr) AS BIGINT) AS tr,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM vocab),
ratio AS (SELECT tok,
                 CAST(ROUND(
                   LN(CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))
                 - LN(CAST(cr + 1 AS DOUBLE) / CAST(tr + v AS DOUBLE))
                 + 1e-9, 6) AS DECIMAL(14,6)) AS lr
          FROM vocab CROSS JOIN tot)
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(lr) AS DECIMAL(26,6)) AS DOUBLE) AS logratio
FROM tk2 JOIN ratio USING (tok) WHERE NOT t GROUP BY id
"""


# WordPiece greedy longest-match segmentation (text/wordpiece.py):
# candidate hits pre-pivoted per (word, position) — best_l = the
# longest vocabulary piece (##-prefixed after position 1) — then a
# recursive walk advancing by best_l, collapsing to ['[UNK]'] the
# first time no piece matches (j jumps past the end, ending the
# chain). Pure string membership, no floats: trivially bit-exact.
from .text import wordpiece as _wp  # noqa: E402

_WP_VALS = ", ".join(
    "('" + p.replace("'", "''") + "')" for p in _wp.WORDPIECE_VOCAB
)


def _wp_walk_ctes(max_len: int = 4) -> str:
    """``wpv`` / ``wphits`` / ``wpwalk`` / ``wpseg`` CTEs over a
    distinct-word CTE ``dw(w)`` upstream; ``wpseg(w, ps)`` is the
    final segmentation."""
    piece = (
        "CASE WHEN t.j = 1 THEN substr(dw.w, CAST(t.j AS INT), l.l)"
        " ELSE '##' || substr(dw.w, CAST(t.j AS INT), l.l) END"
    )
    wpiece = (
        "CASE WHEN k.j = 1 THEN substr(k.w, k.j, h.best_l)"
        " ELSE '##' || substr(k.w, k.j, h.best_l) END"
    )
    return f"""wpv AS (SELECT * FROM (VALUES {_WP_VALS}) v(piece)),
wphits AS (
  SELECT w, j, CAST(MAX(l) AS INT) AS best_l
  FROM (
    SELECT dw.w, CAST(t.j AS INT) AS j, l.l
    FROM dw
    CROSS JOIN UNNEST(range(1, length(dw.w) + 1)) t(j)
    CROSS JOIN (VALUES (1), (2), (3), (4)) l(l)
    JOIN wpv p ON p.piece = {piece}
    WHERE l.l <= length(dw.w) - t.j + 1 AND l.l <= {int(max_len)}
  ) GROUP BY w, j
),
wpwalk AS (
  SELECT w, 1 AS j, CAST([] AS VARCHAR[]) AS ps FROM dw
  UNION ALL
  SELECT k.w,
         CASE WHEN h.best_l IS NULL THEN length(k.w) + 1
              ELSE k.j + h.best_l END,
         CASE WHEN h.best_l IS NULL THEN ['{_wp.UNK_TOKEN}']
              ELSE k.ps || [{wpiece}] END
  FROM wpwalk k LEFT JOIN wphits h ON h.w = k.w AND h.j = k.j
  WHERE k.j <= length(k.w)
),
wpseg AS (SELECT w, ps FROM wpwalk WHERE j > length(w))"""


WORDPIECE_FERTILITY = f"""
WITH RECURSIVE {oracle_ctes('scorpus')},
wrd AS (SELECT source, UNNEST(string_split(COALESCE(text, ''), ' '))
          AS w FROM scorpus),
wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
       FROM wrd WHERE w <> '' GROUP BY source, w),
dw AS (SELECT DISTINCT w FROM wc),
{_wp_walk_ctes()},
per AS (SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * len(ps)) AS BIGINT) AS n_pieces,
               CAST(SUM(CASE WHEN ps[1] = '{_wp.UNK_TOKEN}'
                             THEN n ELSE 0 END) AS BIGINT) AS unks
        FROM wc JOIN wpseg USING (w) GROUP BY source)
SELECT source, n_words, n_pieces,
       CASE WHEN n_words > 0
            THEN ROUND(n_pieces / CAST(n_words AS DOUBLE), 6)
            ELSE 0.0 END AS fertility,
       CASE WHEN n_words > 0
            THEN ROUND(unks / CAST(n_words AS DOUBLE), 6)
            ELSE 0.0 END AS unk_rate
FROM per
"""


# WordPiece TRAINING replay (text/wordpiece.py wordpiece_train,
# n_merges=8): the BPE_MERGES unrolling with the LIKELIHOOD argmax —
# per stage, adjacent-pair counts AND symbol counts over the evolving
# ##-seeded vocabulary, the winner by the shared WP_SCORE_SQL double
# (IEEE * and / are correctly rounded, so identical integer counts
# give bit-identical doubles in both engines), ties (a, b); the merge
# fold concatenates with the right side's ## stripped.
def _wp_train_sql(n_merges: int = 8, min_count: int = 2) -> str:
    score = (
        "1000000.0 * CAST(cnt AS DOUBLE)"
        " / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
    )
    apply_fold = (
        "list_reduce(list_transform(syms, s -> [s]),"
        " (acc, e) -> CASE WHEN len(acc) > 0"
        " AND acc[len(acc)] = bk.a AND e[1] = bk.b"
        " THEN acc[1:len(acc)-1] || [bk.m]"
        " ELSE acc || e END)"
    )
    parts = [
        """wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
             FROM corpus) WHERE w <> '' GROUP BY w)""",
        # AS MATERIALIZED: each step's state is referenced THREE times
        # (pair counts, symbol counts, next state) — DuckDB inlines
        # non-materialized CTE references, so the unrolled 8 steps
        # would otherwise expand to 3^8 corpus scans (observed as an
        # fd-exhaustion IOException, not just slowness)
        """s0 AS MATERIALIZED (SELECT list_transform(range(1, length(w) + 1),
                    j -> CASE WHEN j = 1 THEN substr(w, 1, 1)
                         ELSE '##' || substr(w, CAST(j AS INT), 1) END)
                    AS syms, n FROM wc)""",
    ]
    for k in range(1, int(n_merges) + 1):
        parts.append(
            f"pc{k} AS (SELECT syms[i] AS a, syms[i + 1] AS b,"
            f" CAST(SUM(n) AS BIGINT) AS cnt"
            f" FROM s{k - 1}, UNNEST(range(1, len(syms))) t(i)"
            f" GROUP BY 1, 2)"
        )
        parts.append(
            f"sc{k} AS (SELECT s, CAST(SUM(n) AS BIGINT) AS scnt"
            f" FROM (SELECT UNNEST(syms) AS s, n FROM s{k - 1})"
            f" GROUP BY s)"
        )
        parts.append(
            f"""b{k} AS (SELECT a, b,
           a || CASE WHEN starts_with(b, '##') THEN substr(b, 3)
                     ELSE b END AS m,
           cnt, ROUND({score}, 6) AS score_e6
       FROM (SELECT p.a, p.b, p.cnt, x.scnt AS ca, y.scnt AS cb
             FROM pc{k} p
             JOIN sc{k} x ON x.s = p.a JOIN sc{k} y ON y.s = p.b
             WHERE p.cnt >= {int(min_count)})
       ORDER BY {score} DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT CASE WHEN bk.a IS NULL"
            f" THEN syms ELSE {apply_fold} END AS syms, n"
            f" FROM s{k - 1} LEFT JOIN b{k} bk ON TRUE)"
        )
    finals = " UNION ALL ".join(
        f'SELECT {k - 1} AS step, a AS "left", b AS "right", cnt,'
        f" score_e6 FROM b{k}"
        for k in range(1, int(n_merges) + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {oracle_ctes('corpus')},\n{body}\n{finals}"


WORDPIECE_TRAIN = _wp_train_sql()


WORDPIECE_ENCODE = f"""
WITH RECURSIVE {oracle_ctes('corpus')},
docs AS (SELECT id, text FROM corpus WHERE id % 10 = 0),
wl AS (SELECT id, string_split(COALESCE(text, ''), ' ') AS ws FROM docs),
wseq AS (SELECT id, UNNEST(range(1, len(ws) + 1)) AS wpos, ws FROM wl),
wq AS (SELECT id, wpos, ws[wpos] AS w FROM wseq WHERE ws[wpos] <> ''),
dw AS (SELECT DISTINCT w FROM wq),
{_wp_walk_ctes()},
tok AS (SELECT q.id, q.wpos,
               UNNEST(range(1, len(v.ps) + 1)) AS spos, v.ps AS acc
        FROM wq q JOIN wpseg v USING (w)),
tok2 AS (SELECT id, wpos, spos, acc[spos] AS token FROM tok),
sym AS (SELECT token,
               ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
        FROM (SELECT DISTINCT token FROM tok2))
SELECT t.id,
       ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.wpos, t.spos) - 1
           AS pos,
       t.token, s.token_id
FROM tok2 t JOIN sym s USING (token)
"""


# Blocklist scan (text/analysis.py banned_phrase_hits): one
# Aho-Corasick pass per document on the Spark side; the oracle is the
# NAIVE independent derivation — every (doc, phrase, position)
# triple tested directly. Overlapping occurrences count.
from .text.analysis import BANNED_FIXTURE_PHRASES as _BPH  # noqa: E402

_BPH_VALS = ", ".join("('" + p.replace("'", "''") + "')" for p in _BPH)
BANNED_PHRASE_HITS = f"""
WITH {oracle_ctes('corpus')},
ph AS (SELECT * FROM (VALUES {_BPH_VALS}) v(phrase))
SELECT c.id, p.phrase, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus c
CROSS JOIN ph p
CROSS JOIN UNNEST(range(1, GREATEST(length(lower(c.text))
                                    - length(p.phrase) + 2, 1)))
     AS u(pos)
WHERE substr(lower(c.text), CAST(pos AS INT), length(p.phrase))
      = p.phrase
GROUP BY 1, 2
"""


# Streaming blocklist gate (streaming/grid_stream.py
# run_streaming_blocklist_gate, the batch Aho-Corasick scan per
# foreachBatch micro-batch): the streaming source reads
# documents.parquet RAW (no derived planted rows), so the gate gets
# its own naive per-position walk over the raw table — same phrase
# list, same overlap semantics as BANNED_PHRASE_HITS.
STREAM_BANNED_PHRASES = f"""
WITH ph AS (SELECT * FROM (VALUES {_BPH_VALS}) v(phrase))
SELECT d.doc_id AS id, p.phrase, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM documents d
CROSS JOIN ph p
CROSS JOIN UNNEST(range(1, GREATEST(length(lower(d.text))
                                    - length(p.phrase) + 2, 1)))
     AS u(pos)
WHERE substr(lower(d.text), CAST(pos AS INT), length(p.phrase))
      = p.phrase
GROUP BY 1, 2
"""
