"""DuckDB oracle SQL for every contract query: each states the query's
answer from the raw TPC-H tables, independently of the engine's plan, and
reads its fixture constants from ``fixtures`` so the two sides cannot
drift."""

from __future__ import annotations

from ..functions import cells as C
from ..functions import geo as G
from ..operators import dedup as D
from ..util import hash2_sql_ctes
from .fixtures import (
    BBOX_BOXES,
    CELL_DEPTH,
    CORPUS_QUALITY_MIN,
    CORPUS_TOKEN_BUDGET,
    DOC_CLUSTERS_K,
    EX,
    EY,
    IMG_H,
    IMG_LIMIT,
    IMG_W,
    IMG_X,
    IMG_Y,
    KMV_DEPTH,
    KMV_K,
    LOOKUP_MISSING,
    LPID,
    LSH_BANDS,
    LSH_PLANES,
    LSH_THRESHOLD,
    LX,
    LY,
    MIX_BUDGET_PER_CLUSTER,
    MIX_CLUSTERS,
    MUT_DEL_MOD,
    MUT_DELETES_FIXED,
    MUT_INSERTS,
    PHASH_PATCH_OFFSET,
    PIP_HEX_DX,
    PIP_HEX_DY,
    PIP_HEX_POLYS,
    PIP_HEXAGON,
    PIP_HOLE_POLYS,
    PIP_JOIN_POLYS,
    PIP_RECTS,
    PRUNE_BOXES,
    QUANTILE_QS,
    QX,
    QY,
    RANGE_BOXES,
    TILE_ZOOM,
    VID_H,
    VID_LIMIT,
    VID_NF,
    VID_W,
)

# ---------------------------------------------------------------------------
# Oracle SQL builders (DuckDB dialect)
# ---------------------------------------------------------------------------


def _ancestor_sql(expr: str, k: int) -> str:
    for _ in range(k):
        expr = f"CAST(FLOOR(({expr} - 1) / 4.0) AS BIGINT)"
    return expr


PTS_SQL = f"SELECT {LPID} AS pid, {LX} AS x, {LY} AS y FROM lineitem"


def _counts_cte(max_depth: int = CELL_DEPTH, pts_sql: str = PTS_SQL) -> str:
    """CTEs pts/c{D}/counts over ``pts_sql``-derived points."""
    per_depth = [
        f"SELECT {_ancestor_sql('cell_id', max_depth - d)} AS cell_id, "
        f"{d} AS depth, CAST(SUM(cnt) AS BIGINT) AS cnt FROM cfin GROUP BY 1"
        for d in range(max_depth + 1)
    ]
    return (
        f"pts AS ({pts_sql}),\n"
        f"cfin AS (SELECT {C.cell_id_sql('x', 'y', max_depth)} AS cell_id, "
        "COUNT(*) AS cnt FROM pts GROUP BY 1),\n"
        "counts AS (" + "\nUNION ALL\n".join(per_depth) + ")"
    )


def _cells_cte(
    max_depth: int = CELL_DEPTH, min_points: int = 5, pts_sql: str = PTS_SQL
) -> str:
    """CTE cells(cell_id, depth, cnt, is_leaf) — the engine's own scalable
    algorithm (interior-parent reality test) rendered in SQL."""
    return (
        _counts_cte(max_depth, pts_sql) + ",\n"
        f"interior AS (SELECT cell_id, depth FROM counts WHERE cnt >= {min_points} "
        f"AND depth < {max_depth}),\n"
        "children AS (SELECT i.cell_id * 4 + k.k AS cell_id, i.depth + 1 AS depth "
        "FROM interior i CROSS JOIN (VALUES (1), (2), (3), (4)) k(k)),\n"
        "cells AS (SELECT CAST(0 AS BIGINT) AS cell_id, 0 AS depth, "
        "(SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) FROM cfin) AS cnt\n"
        " UNION ALL SELECT ch.cell_id, ch.depth, CAST(COALESCE(c.cnt, 0) AS BIGINT) "
        "FROM children ch LEFT JOIN counts c ON ch.cell_id = c.cell_id)"
    )


def _colrow_id_sql(col: str, row: str, depth: int) -> str:
    """Cell id from final (col,row) at ``depth`` (bit-prefix digits)."""
    if depth == 0:
        return "CAST(0 AS BIGINT)"
    terms = []
    for level in range(1, depth + 1):
        shift = depth - level
        digit = f"(((({row}) >> {shift}) % 2) * 2 + ((({col}) >> {shift}) % 2) + 1)"
        terms.append(f"{digit} * {4 ** shift}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _col_left_sql(x: str, d: int) -> str:
    return C.axis_bin_sql(x, d)


def _col_right_sql(x: str, d: int) -> str:
    n = 1 << d
    return (
        f"LEAST(CAST(FLOOR(CAST({x} AS BIGINT) * {n} / 1000000.0) AS BIGINT), {n - 1})"
    )


def _candidate_ids_sql(x: str, y: str, max_depth: int) -> str:
    """SQL array of all closed-containment candidate cell ids, depths
    0..max_depth (≤4 per depth: L/R tie-break chains per axis)."""
    ids = ["CAST(0 AS BIGINT)"]
    for d in range(1, max_depth + 1):
        for cx in (_col_left_sql(x, d), _col_right_sql(x, d)):
            for cy in (_col_left_sql(y, d), _col_right_sql(y, d)):
                ids.append(_colrow_id_sql(cx, cy, d))
    return "[" + ", ".join(ids) + "]"


def _values_sql(rows) -> str:
    """Fixture rows as a VALUES list."""
    return ", ".join("(" + ", ".join(str(v) for v in row) + ")" for row in rows)


def _bigint_values_sql(rows) -> str:
    """Integer fixture rows as a VALUES list; the first row's CASTs type
    every column BIGINT."""
    return ", ".join(
        "(" + ", ".join(
            f"CAST({int(v)} AS BIGINT)" if i == 0 else str(int(v)) for v in row
        ) + ")"
        for i, row in enumerate(rows)
    )


def _cosine_sql(a: str, b: str) -> str:
    """Cosine similarity of two embedding-array expressions, rounded to the
    6 dp every engine-side similarity carries."""
    return (
        f"round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
    )


def _box_counts_sql(boxes, cte: str, key: str) -> str:
    """Per-box count and min pid of the points in inclusive bboxes
    ``(key, x1, y1, x2, y2)``."""
    return (
        f"WITH pts AS ({PTS_SQL}),\n"
        f"{cte} AS (SELECT * FROM (VALUES {_values_sql(boxes)}) AS b({key}, x1, y1, x2, y2))\n"
        f"SELECT CAST(b.{key} AS INT) AS {key}, COUNT(*) AS n_points, "
        f"MIN(pid) AS min_pid FROM pts JOIN {cte} b "
        "ON x >= b.x1 AND x <= b.x2 AND y >= b.y1 AND y <= b.y2 GROUP BY 1"
    )


def _centroid_ctes(n_centroids) -> str:
    """CTEs cents (the md5-ordered centroid sample: the first
    ``n_centroids`` embeddings) and ec (every embedding's rounded cosine to
    every centroid), as ``cluster_assign`` and ``ann_ivf`` sample them."""
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS cv,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx
  FROM embeddings
  QUALIFY cidx < {n_centroids}),
ec AS (
  SELECT e.vec_id, c.cidx, {_cosine_sql("e.embedding", "c.cv")} AS csim
  FROM embeddings e CROSS JOIN cents c)"""


def _generation_sums_sql(where: str = "") -> str:
    """Per order generation (o_orderkey % 3): row count, key sum and
    integer-cents sum of the orders ``where`` keeps (a WHERE clause ending
    in a space, or empty for all orders)."""
    return f"""
SELECT CAST(o_orderkey % 3 AS BIGINT) AS gen,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents_sum
FROM orders {where}GROUP BY 1
"""


def _queries_cte(limit: int = 200) -> str:
    return (
        f"queries AS (SELECT CAST(c_custkey AS BIGINT) AS qid, {QX} AS x, {QY} AS y "
        f"FROM customer WHERE c_custkey <= {limit})"
    )


def _search_cte(max_depth: int = CELL_DEPTH) -> str:
    """CTE results(qid, found_cell_id) given CTEs queries + cells."""
    return (
        "cand AS (SELECT qid, unnest("
        + _candidate_ids_sql("x", "y", max_depth)
        + ") AS cid FROM queries),\n"
        "hits AS (SELECT c.qid, MAX(ce.cell_id) AS mx FROM cand c "
        "JOIN cells ce ON c.cid = ce.cell_id GROUP BY c.qid),\n"
        "results AS (SELECT q.qid, CAST(COALESCE(h.mx, -1) AS BIGINT) AS found_cell_id "
        "FROM queries q LEFT JOIN hits h ON q.qid = h.qid)"
    )


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB dialect
# ---------------------------------------------------------------------------


# the quality-score formula exists ONCE for every oracle that states it
# (quality_scores, corpus_select -> corpus_sample, corpus_select_neardup) —
# two hand-maintained copies drifted would fail the hash gate looking like a
# pipeline bug rather than formula drift (r4 self-review)
QUALITY_M_COLS = r"""CAST(length(trim(text)) AS DOUBLE) AS n_chars,
  CAST(length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tok"""

QUALITY_EXPR = """round(
  LEAST(n_chars / 400.0, 1.0) * 0.4
  + (CASE WHEN n_chars = 0 THEN 0.0 ELSE n_alpha / n_chars END) * 0.4
  + (CASE WHEN n_tok = 0 THEN 0.0
          WHEN n_chars / n_tok >= 3.0 AND n_chars / n_tok <= 10.0 THEN 1.0
          ELSE 0.0 END) * 0.2, 4)"""


def _oracle_sqls() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["quadrant_counts"] = f"""
WITH pts AS (SELECT {LX} AS x, {LY} AS y FROM lineitem)
SELECT CAST({C.cell_id_sql('x', 'y', 1)} - 1 AS INT) AS quadrant,
       COUNT(*) AS n_points
FROM pts GROUP BY 1
"""

    sqls["cell_counts_d4"] = f"""
WITH pts AS (SELECT {LX} AS x, {LY} AS y FROM lineitem)
SELECT {C.cell_id_sql('x', 'y', 4)} AS cell_id, COUNT(*) AS n_points
FROM pts GROUP BY 1
"""

    sqls["quadtree_cells"] = (
        "WITH " + _cells_cte() + "\n"
        f"SELECT cell_id, CAST(depth AS INT) AS depth, cnt, "
        f"(cnt < 5 OR depth >= {CELL_DEPTH}) AS is_leaf FROM cells"
    )

    search_sql = (
        "WITH " + _cells_cte() + ",\n" + _queries_cte() + ",\n" + _search_cte() + "\n"
        "SELECT qid, found_cell_id FROM results"
    )
    sqls["quadrant_search"] = search_sql
    sqls["quadrant_search_broadcast"] = search_sql

    # validate_cells: the oracle states the invariant from an independent
    # count — any unclaimed point / leaf overlap / split miscount on the
    # Spark side hash-mismatches.
    sqls["validate_cells"] = f"""
WITH pts AS ({PTS_SQL})
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS leaf_count_sum,
       CAST(0 AS BIGINT) AS n_unclaimed,
       CAST(0 AS BIGINT) AS n_multi_claimed,
       CAST(0 AS BIGINT) AS n_count_mismatch
FROM pts
"""

    sqls["point_lookup"] = (
        "WITH " + _cells_cte() + ",\n"
        "queries AS (SELECT DISTINCT x * 1000000 + y AS qid, x, y FROM pts WHERE pid % 3001 = 0\n"
        f" UNION ALL SELECT * FROM (VALUES {_bigint_values_sql(LOOKUP_MISSING)}) v(qid, x, y)),\n"
        + _search_cte() + ",\n"
        f"pcell AS (SELECT x, y, {C.cell_id_sql('x', 'y', CELL_DEPTH)} AS p8 FROM pts)\n"
        "SELECT r.qid, r.found_cell_id,\n"
        " COALESCE(BOOL_OR((CASE ce.depth "
        + " ".join(
            f"WHEN {d} THEN {_ancestor_sql('p.p8', CELL_DEPTH - d)}"
            for d in range(CELL_DEPTH + 1)
        )
        + " END) = r.found_cell_id), FALSE) AS found\n"
        "FROM results r JOIN queries q ON q.qid = r.qid\n"
        "LEFT JOIN cells ce ON ce.cell_id = r.found_cell_id\n"
        "LEFT JOIN pcell p ON p.x = q.x AND p.y = q.y\n"
        "GROUP BY r.qid, r.found_cell_id"
    )

    sqls["range_filter"] = _box_counts_sql(RANGE_BOXES, "boxes", "box_id")

    sqls["cell_rollup"] = f"""
WITH pts AS (SELECT {LX} AS x, {LY} AS y FROM lineitem),
d6 AS (SELECT {C.cell_id_sql('x', 'y', 6)} AS cell_id, COUNT(*) AS n FROM pts GROUP BY 1)
SELECT {_ancestor_sql('cell_id', 4)} AS cell2, CAST(SUM(n) AS BIGINT) AS n_points
FROM d6 GROUP BY 1
"""

    sqls["knn"] = f"""
WITH pts AS ({PTS_SQL}),
queries AS (SELECT CAST(c_custkey AS BIGINT) AS qid, {QX} AS x, {QY} AS y
            FROM customer WHERE c_custkey <= 10),
scored AS (SELECT q.qid, p.pid,
           (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist2,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y), p.pid) AS rnk
           FROM queries q CROSS JOIN pts p)
SELECT qid, pid, CAST(dist2 AS BIGINT) AS dist2, CAST(rnk AS INT) AS rank
FROM scored WHERE rnk <= 5
"""
    # the grid-blocked path is exact, so the brute-force top-k SQL is its
    # oracle too (identical distance + pid tie-break)
    sqls["knn_cells"] = sqls["knn"]

    # brute-force re-derivation: the blocking grid is an engine choice, the
    # semantics are just an inclusive distance predicate
    sqls["distance_join"] = f"""
WITH pts AS ({PTS_SQL}),
queries AS (SELECT CAST(c_custkey AS BIGINT) AS qid, {QX} AS x, {QY} AS y
            FROM customer WHERE c_custkey <= 50)
SELECT q.qid, p.pid,
       CAST((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS BIGINT) AS dist2
FROM queries q CROSS JOIN pts p
WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= 400000000
"""

    sqls["tile_assign"] = f"""
WITH ev AS (SELECT {EX} AS x, {EY} AS y FROM events)
SELECT {G.tile_x_sql('x', 4)} AS tile_x, {G.tile_y_sql('y', 4)} AS tile_y,
       COUNT(*) AS n_points
FROM ev GROUP BY 1, 2
"""

    tx6, ty6 = G.tile_x_sql("x", 6), G.tile_y_sql("y", 6)
    level_sqls = " UNION ALL ".join(
        f"SELECT CAST({6 - k} AS INT) AS zoom, "
        f"CAST(FLOOR(tile_x / {1 << k}) AS INT) AS tile_x, "
        f"CAST(FLOOR(tile_y / {1 << k}) AS INT) AS tile_y, n_points FROM base"
        for k in range(7)
    )
    sqls["tile_pyramid"] = f"""
WITH ev AS (SELECT {EX} AS x, {EY} AS y FROM events),
base AS (SELECT {tx6} AS tile_x, {ty6} AS tile_y, COUNT(*) AS n_points
         FROM ev GROUP BY 1, 2)
SELECT zoom, tile_x, tile_y, CAST(SUM(n_points) AS BIGINT) AS n_points
FROM ({level_sqls}) GROUP BY 1, 2, 3
"""

    sqls["event_window_tiles"] = f"""
WITH ev AS (SELECT {EX} AS x, {EY} AS y, ts FROM events)
SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS win_start,
       {G.tile_x_sql('x', 4)} AS tile_x, {G.tile_y_sql('y', 4)} AS tile_y,
       COUNT(*) AS n_events
FROM ev GROUP BY 1, 2, 3
"""

    sqls["density_topk"] = f"""
WITH pts AS (SELECT {LX} AS x, {LY} AS y FROM lineitem)
SELECT cell_id, n_points FROM (
  SELECT {C.cell_id_sql('x', 'y', 6)} AS cell_id, COUNT(*) AS n_points
  FROM pts GROUP BY 1
) ORDER BY n_points DESC, cell_id ASC LIMIT 20
"""

    sqls["pip_rects"] = _box_counts_sql(PIP_RECTS, "rects", "poly_id")

    halfplanes = []
    for i in range(len(PIP_HEXAGON)):
        x1, y1 = PIP_HEXAGON[i]
        x2, y2 = PIP_HEXAGON[(i + 1) % len(PIP_HEXAGON)]
        halfplanes.append(
            f"(({x2} - {x1}) * (y - {y1}) - ({y2} - {y1}) * (x - {x1})) >= 0"
        )
    sqls["pip_convex"] = (
        f"WITH pts AS ({PTS_SQL})\n"
        "SELECT CAST(0 AS INT) AS poly_id, COUNT(*) AS n_points, MIN(pid) AS min_pid\n"
        "FROM pts WHERE " + " AND ".join(halfplanes) + " HAVING COUNT(*) > 0"
    )

    # pip_polygon_join: same 120 id-derived rects; the relational blocking
    # join + cogrouped kernel must equal plain inclusive bbox containment
    sqls["pip_polygon_join"] = f"""
WITH pts AS ({PTS_SQL}),
r AS (SELECT CAST(i AS BIGINT) AS poly_id,
             CAST((i * 9176) % 900000 AS DOUBLE) AS x1,
             CAST((i * 5923) % 900000 AS DOUBLE) AS y1,
             CAST((i * 9176) % 900000 + 20000 + (i % 7) * 11000 AS DOUBLE) AS x2,
             CAST((i * 5923) % 900000 + 15000 + (i % 5) * 13000 AS DOUBLE) AS y2
      FROM generate_series(0, {PIP_JOIN_POLYS - 1}) AS t(i))
SELECT r.poly_id, COUNT(*) AS n_points, MIN(p.pid) AS min_pid
FROM pts p JOIN r
  ON p.x >= r.x1 AND p.x <= r.x2 AND p.y >= r.y1 AND p.y <= r.y2
GROUP BY r.poly_id
"""

    hex_hp = []
    for _j in range(6):
        _dx1, _dy1 = PIP_HEX_DX[_j], PIP_HEX_DY[_j]
        _dx2, _dy2 = PIP_HEX_DX[(_j + 1) % 6], PIP_HEX_DY[(_j + 1) % 6]
        _x1, _y1 = f"(r.cx + {_dx1} * r.s)", f"(r.cy + {_dy1} * r.s)"
        _x2, _y2 = f"(r.cx + {_dx2} * r.s)", f"(r.cy + {_dy2} * r.s)"
        hex_hp.append(
            f"(({_x2} - {_x1}) * (p.y - {_y1})"
            f" - ({_y2} - {_y1}) * (p.x - {_x1})) >= 0"
        )
    sqls["pip_polygon_join_convex"] = f"""
WITH pts AS ({PTS_SQL}),
r AS (SELECT CAST(i AS BIGINT) AS poly_id,
             CAST((i * 6151) % 800000 + 100000 AS DOUBLE) AS cx,
             CAST((i * 7477) % 800000 + 100000 AS DOUBLE) AS cy,
             CAST(10000 + (i % 7) * 4000 AS DOUBLE) AS s
      FROM generate_series(0, {PIP_HEX_POLYS - 1}) AS t(i))
SELECT r.poly_id, COUNT(*) AS n_points, MIN(p.pid) AS min_pid
FROM pts p JOIN r
  ON {" AND ".join(hex_hp)}
GROUP BY r.poly_id
"""

    sqls["pip_polygon_holes"] = f"""
WITH pts AS ({PTS_SQL}),
r AS (SELECT CAST(i AS BIGINT) AS poly_id,
             CAST((i * 9176) % 900000 AS DOUBLE) AS x1,
             CAST((i * 5923) % 900000 AS DOUBLE) AS y1,
             CAST(20000 + (i % 7) * 11000 AS DOUBLE) AS w,
             CAST(15000 + (i % 5) * 13000 AS DOUBLE) AS h
      FROM generate_series(0, {PIP_HOLE_POLYS - 1}) AS t(i))
SELECT r.poly_id, COUNT(*) AS n_points, MIN(p.pid) AS min_pid
FROM pts p JOIN r
  ON p.x >= r.x1 AND p.x <= r.x1 + r.w AND p.y >= r.y1 AND p.y <= r.y1 + r.h
 AND NOT (p.x > r.x1 + r.w/4 AND p.x < r.x1 + 3*r.w/4
      AND p.y > r.y1 + r.h/4 AND p.y < r.y1 + 3*r.h/4)
GROUP BY r.poly_id
"""

    sqls["token_counts"] = r"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_tok,
  CAST(length(trim(text)) AS INT) AS n_chr
FROM documents
"""

    sqls["lang_id"] = """
WITH p AS (SELECT ' ' || lower(text) || ' ' AS t FROM documents)
SELECT CASE
  WHEN t LIKE '% el %' OR t LIKE '% la %' OR t LIKE '% que %' THEN 'es'
  WHEN t LIKE '% der %' OR t LIKE '% und %' OR t LIKE '% das %' THEN 'de'
  WHEN t LIKE '% le %' OR t LIKE '% les %' OR t LIKE '% est %' THEN 'fr'
  WHEN t LIKE '% the %' OR t LIKE '% and %' OR t LIKE '% of %' THEN 'en'
  ELSE 'und' END AS lang_pred,
  COUNT(*) AS n_docs
FROM p GROUP BY 1
"""

    sqls["quality_scores"] = f"""
WITH m AS (SELECT doc_id,
  {QUALITY_M_COLS}
  FROM documents)
SELECT doc_id, {QUALITY_EXPR} AS quality
FROM m
"""

    # quality_quantiles: the same order statistics stated as a full sort —
    # rank floor(q·(n−1)) (0-based), value tie-invariant
    _qlist = ", ".join(f"({q})" for q in QUANTILE_QS)
    sqls["quality_quantiles"] = f"""
WITH m AS (SELECT doc_id,
  {QUALITY_M_COLS}
  FROM documents),
s AS (SELECT {QUALITY_EXPR} AS v FROM m),
r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS n
      FROM s)
SELECT t.q, r.v AS value
FROM r JOIN (VALUES {_qlist}) AS t(q)
  ON r.rn = CAST(FLOOR(t.q * (r.n - 1)) AS BIGINT) + 1
"""

    sqls["exact_dedup"] = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""

    sqls["corpus_select"] = rf"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
m AS (SELECT d.doc_id,
  {QUALITY_M_COLS}
  FROM documents d JOIN keep k ON k.doc_id = d.doc_id),
q AS (SELECT doc_id, {QUALITY_EXPR} AS quality,
  CAST(n_tok AS INT) AS n_tok, CAST(n_chars AS INT) AS n_chr
  FROM m)
SELECT doc_id, quality, n_tok, n_chr FROM q WHERE quality >= {CORPUS_QUALITY_MIN}
"""

    # winnowing (MOSS): k=5 char-gram md5 hashes in position order, window
    # w=4 minima over FULL windows (single clipped window for short docs),
    # distinct selected set per doc. Positions come from a PER-ROW
    # generate_series list (length-derived) — a fixed cross-join bound would
    # silently truncate the shingle set if a future fixture grew past it
    # (ADVICE r3).
    sqls["winnow_fingerprints"] = r"""
WITH pos AS (
  SELECT doc_id, lower(text) AS lt,
         GREATEST(length(text) - 4, 1) AS npos,
         unnest(generate_series(1, GREATEST(length(text) - 4, 1))) AS i
  FROM documents WHERE doc_id < 200),
sh AS (SELECT doc_id, i, npos, md5(substr(lt, i, 5)) AS h FROM pos),
m AS (SELECT doc_id, i, npos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
      FROM sh),
sel AS (SELECT DISTINCT doc_id, mn FROM m WHERE i <= GREATEST(npos - 4, 0) + 1)
SELECT doc_id, COUNT(*) AS n_fp, MIN(mn) AS min_fp, MAX(mn) AS max_fp
FROM sel GROUP BY doc_id
"""

    # winnow_neardup: pair candidates over the SAME selected-fingerprint
    # relation — document-frequency boilerplate filter, then the shared-
    # fingerprint self-join pair count
    _wf_ctes, _ = sqls["winnow_fingerprints"].rsplit(
        "\nSELECT doc_id, COUNT(*) AS n_fp", 1
    )
    sqls["winnow_neardup"] = (
        _wf_ctes
        + """,
dfc AS (SELECT mn FROM sel GROUP BY mn HAVING COUNT(*) <= 10),
fps AS (SELECT s.doc_id, s.mn FROM sel s JOIN dfc USING (mn))
SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared
FROM fps a JOIN fps b ON a.mn = b.mn AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 3
"""
    )

    # corpus_sample: the same curation CTE chain + the two-phase budget cut
    corpus_q_cte = sqls["corpus_select"].split("SELECT doc_id, quality")[0]
    sqls["corpus_sample"] = (
        corpus_q_cte
        + f""", b AS (SELECT CAST(round(quality * 10000) AS BIGINT) AS bin,
             doc_id, quality, n_tok FROM q WHERE quality >= {CORPUS_QUALITY_MIN}),
bs AS (SELECT bin, SUM(n_tok) AS btok FROM b GROUP BY bin),
cum AS (SELECT bin, btok, SUM(btok) OVER (ORDER BY bin DESC) AS cumsum FROM bs),
bd AS (SELECT bin, {CORPUS_TOKEN_BUDGET} - (cumsum - btok) AS leftover
       FROM cum WHERE cumsum > {CORPUS_TOKEN_BUDGET} ORDER BY bin DESC LIMIT 1)
SELECT doc_id, quality, n_tok FROM b
WHERE bin IN (SELECT bin FROM cum WHERE cumsum <= {CORPUS_TOKEN_BUDGET})
UNION ALL
SELECT doc_id, quality, n_tok FROM (
  SELECT x.doc_id, x.quality, x.n_tok, bd.leftover,
         SUM(x.n_tok) OVER (PARTITION BY x.bin ORDER BY x.doc_id) AS c
  FROM b x JOIN bd ON x.bin = bd.bin) t
WHERE c <= leftover
"""
    )

    # ----- corpus_mix: the per-cluster variant of corpus_sample's histogram
    # cut. Reuses the doc_clusters centroid/assignment CTEs (MIX_CLUSTERS
    # centroids) joined to the curated corpus; every window is PARTITION BY
    # cluster. -----
    sqls["corpus_mix"] = (
        corpus_q_cte
        + f""", {_centroid_ctes(MIX_CLUSTERS)},
asg AS (
  SELECT vec_id, cidx AS cluster FROM ec
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cidx ASC) = 1),
b AS (SELECT asg.cluster, CAST(round(q.quality * 10000) AS BIGINT) AS bin,
             q.doc_id, q.quality, q.n_tok
      FROM q JOIN asg ON asg.vec_id = q.doc_id
      WHERE q.quality >= {CORPUS_QUALITY_MIN}),
bs AS (SELECT cluster, bin, SUM(n_tok) AS btok FROM b GROUP BY cluster, bin),
cum AS (SELECT cluster, bin, btok,
               SUM(btok) OVER (PARTITION BY cluster ORDER BY bin DESC) AS cumsum
        FROM bs),
bd AS (SELECT cluster, bin, {MIX_BUDGET_PER_CLUSTER} - (cumsum - btok) AS leftover
       FROM cum WHERE cumsum > {MIX_BUDGET_PER_CLUSTER}
       QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY bin DESC) = 1)
SELECT CAST(b.cluster AS INT) AS cluster, b.doc_id, b.quality, b.n_tok
FROM b JOIN (SELECT cluster, bin FROM cum
             WHERE cumsum <= {MIX_BUDGET_PER_CLUSTER}) f
  ON f.cluster = b.cluster AND f.bin = b.bin
UNION ALL
SELECT CAST(cluster AS INT) AS cluster, doc_id, quality, n_tok FROM (
  SELECT x.cluster, x.doc_id, x.quality, x.n_tok, bd.leftover,
         SUM(x.n_tok) OVER (PARTITION BY x.cluster, x.bin ORDER BY x.doc_id) AS c
  FROM b x JOIN bd ON x.cluster = bd.cluster AND x.bin = bd.bin) t
WHERE c <= leftover
"""
    )

    sqls["doc_fingerprints"] = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""

    shingle = (
        "SELECT DISTINCT doc_id, unnest(list_transform("
        "generate_series(1, greatest(length(text) - 4, 1)), "
        "i -> substr(lower(text), i, 5))) AS shingle FROM documents WHERE doc_id < {lim}"
    )
    minhash_aggs = ", ".join(
        f"MIN(md5('{i}|' || shingle)) AS h{i}" for i in range(16)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{b * 4 + r}" for r in range(4))
        + ")) AS bucket FROM sigs"
        for b in range(4)
    )
    sqls["minhash_buckets"] = (
        "WITH sh AS (" + shingle.format(lim=200) + "),\n"
        f"sigs AS (SELECT doc_id, {minhash_aggs} FROM sh GROUP BY doc_id),\n"
        "buckets AS (" + band_selects + ")\n"
        "SELECT CAST(band AS INT) AS band, COUNT(*) AS n_rows, "
        "COUNT(DISTINCT bucket) AS n_buckets, MIN(bucket) AS min_bucket "
        "FROM buckets GROUP BY 1"
    )

    sqls["ngram_jaccard_topk"] = (
        "WITH sh AS (" + shingle.format(lim=80) + "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),\n"
        "pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter\n"
        "  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id\n"
        "  GROUP BY 1, 2)\n"
        "SELECT p.a, p.b, round(CAST(p.n_inter AS DOUBLE) / (sa.sz + sb.sz - p.n_inter), 6) AS jaccard\n"
        "FROM pairs p JOIN sizes sa ON sa.doc_id = p.a JOIN sizes sb ON sb.doc_id = p.b\n"
        "ORDER BY jaccard DESC, a ASC, b ASC LIMIT 10"
    )

    # decontaminate: the same distinct-shingle overlap stated directly —
    # both sides shingled in SQL, plain join + HAVING (no broadcast hint:
    # the oracle asserts WHAT, the engine plan asserts HOW)
    sqls["decontaminate"] = """
WITH sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
        generate_series(1, greatest(length(text) - 19, 1)),
        i -> substr(lower(text), i, 20))) AS shingle FROM documents)
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
       COUNT(*) AS n_overlap
FROM sh c JOIN sh b ON c.shingle = b.shingle
WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
GROUP BY 1, 2 HAVING COUNT(*) >= 5
"""

    votes = ", ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(16)
    )
    simsum = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    # per-doc bit votes over the first 200 docs' token hashes, shared by
    # simhash and simhash_neardup
    simhash_votes = (
        r"WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok"
        " FROM documents WHERE doc_id < 200),\n"
        "h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h\n"
        "  FROM toks WHERE length(tok) > 0),\n"
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)"
    )
    sqls["simhash"] = (
        simhash_votes + f"\nSELECT doc_id, CAST({simsum} AS BIGINT) AS simhash FROM v"
    )

    cos = _cosine_sql("a.embedding", "q.embedding")
    sqls["ann_topk"] = f"""
WITH scored AS (
  SELECT q.vec_id AS q_vec_id, a.vec_id AS vec_id, {cos} AS sim
  FROM embeddings a CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
  WHERE a.vec_id <> q.vec_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM scored)
SELECT q_vec_id, vec_id, sim, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 10
"""

    # ----- ann_ivf: the full IVF pipeline re-derived in SQL — md5-ordered
    # ⌈√N⌉ centroid sample, rounded-cosine argmax assignment (centroid-index
    # tie-break), n_probe nearest buckets per query, exact top-k within the
    # probed buckets. Every ranking uses round(·, 6) + deterministic
    # tie-break, the cross-engine contract shared with ann_topk. -----
    n_ivf = "(SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings)"
    sqls["ann_ivf"] = f"""
WITH {_centroid_ctes(n_ivf)},
assign AS (
  SELECT vec_id, cidx AS bucket FROM ec
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cidx ASC) = 1),
probes AS (
  SELECT vec_id AS q_vec_id, cidx AS bucket FROM ec WHERE vec_id < 5
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cidx ASC) <= 4),
scored AS (
  SELECT p.q_vec_id, a.vec_id AS vec_id, {cos} AS sim
  FROM probes p
  JOIN assign s ON s.bucket = p.bucket
  JOIN embeddings a ON a.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = p.q_vec_id
  WHERE a.vec_id <> p.q_vec_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM scored)
SELECT q_vec_id, vec_id, sim, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 10
"""

    # ----- doc_clusters: identical centroid sample + argmax assignment as
    # ann_ivf's CTEs, rolled up per cluster; sims cross the gate as exact
    # integer sums of the 6-dp-scaled values. -----
    sqls["doc_clusters"] = f"""
WITH {_centroid_ctes(DOC_CLUSTERS_K)},
assign AS (
  SELECT vec_id, cidx, csim FROM ec
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cidx ASC) = 1)
SELECT CAST(cidx AS INT) AS cluster, COUNT(*) AS n_members,
       MIN(vec_id) AS min_vec,
       CAST(SUM(CAST(round(csim * 1000000, 0) AS BIGINT)) AS BIGINT) AS sim6_sum
FROM assign GROUP BY cidx
"""

    cos_ab = _cosine_sql("a.embedding", "b.embedding")
    sqls["embedding_neardup"] = f"""
SELECT a.label AS label, a.vec_id AS a, b.vec_id AS b, {cos_ab} AS sim
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {cos_ab} >= 0.4
"""

    # ----- unlabeled LSH near-dup: identical plane matrix + banding in SQL -----
    signs = D.rademacher_planes(LSH_PLANES, 64)
    span = LSH_PLANES // LSH_BANDS
    band_keys = []
    for bb in range(LSH_BANDS):
        bits = [
            f"(CASE WHEN ({D.plane_projection_sql('embedding', signs[bb * span + r])}) >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(span)
        ]
        band_keys.append(" + ".join(bits))
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {bb} AS band, {band_keys[bb]} AS key FROM embeddings"
        for bb in range(LSH_BANDS)
    )
    sqls["embedding_neardup_lsh"] = f"""
WITH bands AS ({band_selects}),
cand AS (SELECT DISTINCT x.vec_id AS aid, y.vec_id AS bid
         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         WHERE x.vec_id < y.vec_id)
SELECT aid AS a, bid AS b, {cos_ab} AS sim
FROM cand JOIN embeddings a ON a.vec_id = aid JOIN embeddings b ON b.vec_id = bid
WHERE {cos_ab} >= {LSH_THRESHOLD}
"""

    # ----- mutation_cells: full rebuild of the mutated point set -----
    ins_vals = _bigint_values_sql([(x, y) for _, x, y in MUT_INSERTS])
    del_vals = _bigint_values_sql(MUT_DELETES_FIXED)
    mut_pts = (
        f"SELECT x, y FROM (\n"
        f"  SELECT p.x, p.y FROM ({PTS_SQL}) p\n"
        f"  UNION ALL\n"
        f"  SELECT i.ix, i.iy FROM ins i WHERE NOT EXISTS "
        f"(SELECT 1 FROM ({PTS_SQL}) p2 WHERE p2.x = i.ix AND p2.y = i.iy)\n"
        f") u WHERE NOT EXISTS (SELECT 1 FROM delk d WHERE d.dx = u.x AND d.dy = u.y)"
    )
    sqls["mutation_cells"] = (
        f"WITH ins(ix, iy) AS (VALUES {ins_vals}),\n"
        f"delk AS (SELECT x AS dx, y AS dy FROM ({PTS_SQL}) WHERE pid % {MUT_DEL_MOD} = 0\n"
        f"  UNION ALL SELECT * FROM (VALUES {del_vals}) v(dx, dy)),\n"
        + _cells_cte(pts_sql=mut_pts)
        + f"\nSELECT cell_id, CAST(depth AS INT) AS depth, cnt, "
        f"(cnt < 5 OR depth >= {CELL_DEPTH}) AS is_leaf FROM cells"
    )

    # ----- neighbor_ring -----
    offs = ", ".join(f"({dc}, {dr})" for dc in (-1, 0, 1) for dr in (-1, 0, 1))
    size5 = (1 << 5) - 1
    sqls["neighbor_ring"] = (
        "WITH " + _queries_cte(50) + ",\n"
        f"cr AS (SELECT qid, {C.axis_bin_sql('x', 5)} AS c, {C.axis_bin_sql('y', 5)} AS r FROM queries),\n"
        f"offs(dc, dr) AS (VALUES {offs}),\n"
        "nb AS (SELECT qid, c + dc AS nc, r + dr AS nr FROM cr CROSS JOIN offs\n"
        f"  WHERE c + dc BETWEEN 0 AND {size5} AND r + dr BETWEEN 0 AND {size5})\n"
        f"SELECT qid, {_colrow_id_sql('nc', 'nr', 5)} AS neighbor_id FROM nb"
    )

    # ----- cluster_layout -----
    sqls["cluster_layout"] = f"""
WITH pts AS ({PTS_SQL}),
d8 AS (SELECT {C.cell_id_sql('x', 'y', CELL_DEPTH)} AS cell_id FROM pts)
SELECT {_ancestor_sql('cell_id', CELL_DEPTH - 2)} AS cell_prefix,
       COUNT(*) AS n_points, MIN(cell_id) AS min_cell, MAX(cell_id) AS max_cell
FROM d8 GROUP BY 1
"""

    # ----- simhash_neardup: brute-force pair oracle (banding is complete
    # for hamming <= 3 over 4 bands, so the sets coincide) -----
    sqls["simhash_neardup"] = (
        simhash_votes + ",\n"
        f"s AS (SELECT doc_id, CAST({simsum} AS BIGINT) AS simhash FROM v)\n"
        "SELECT a.doc_id AS a, b.doc_id AS b,\n"
        "  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming\n"
        "FROM s a JOIN s b ON a.doc_id < b.doc_id\n"
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )

    # neardup_components: connected components of the SAME pair graph stated
    # declaratively — recursive transitive closure, label = MIN reachable id
    # (an independent definition of what the distributed pointer-jumping
    # propagation must converge to)
    _sn_ctes, _sn_select = sqls["simhash_neardup"][len("WITH "):].rsplit(
        "\nSELECT a.doc_id AS a", 1
    )
    sqls["neardup_components"] = (
        "WITH RECURSIVE "
        + _sn_ctes
        + ",\np AS (SELECT a.doc_id AS a"
        + _sn_select
        + "),\ne AS (SELECT a AS u, b AS v FROM p WHERE hamming <= 1\n"
        "     UNION SELECT b, a FROM p WHERE hamming <= 1),\n"
        "n AS (SELECT DISTINCT u AS node FROM e),\n"
        "reach(node, r) AS (\n"
        "  SELECT node, node FROM n\n"
        "  UNION\n"
        "  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.node),\n"
        "c AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)\n"
        "SELECT component, COUNT(*) AS n_members, MAX(node) AS max_member\n"
        "FROM c GROUP BY component"
    )

    # cell_cardinality_kmv: the KMV sketch replayed exactly — md5 order
    # statistics are engine-portable, so the estimate itself hash-gates
    sqls["cell_cardinality_kmv"] = f"""
WITH pts AS (SELECT {LX} AS x, {LY} AS y FROM lineitem),
hs AS (SELECT DISTINCT md5(CAST({C.cell_id_sql('x', 'y', KMV_DEPTH)} AS VARCHAR)) AS h
       FROM pts),
top AS (SELECT h FROM hs ORDER BY h LIMIT {KMV_K}),
a AS (SELECT COUNT(*) AS k,
             MAX(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)) / {16**15}.0 AS hk
      FROM top),
e AS (SELECT COUNT(*) AS n_exact FROM hs)
SELECT CAST(a.k AS INT) AS k,
       CAST(CASE WHEN a.k < {KMV_K} THEN a.k
                 ELSE FLOOR((a.k - 1) / a.hk) END AS BIGINT) AS est_occupied,
       e.n_exact
FROM a, e
"""

    # corpus_select_neardup: the whole near-dup curation chain in ONE SQL —
    # components (above) → representative filter → quality gate
    _cc_ctes, _ = sqls["neardup_components"].rsplit(
        "\nSELECT component, COUNT(*) AS n_members", 1
    )
    sqls["corpus_select_neardup"] = (
        _cc_ctes
        + f""",
m2 AS (SELECT doc_id,
  {QUALITY_M_COLS}
  FROM documents WHERE doc_id < 200),
q2 AS (SELECT doc_id, {QUALITY_EXPR} AS quality,
  CAST(n_tok AS INT) AS n_tok FROM m2)
SELECT q2.doc_id, q2.quality, q2.n_tok
FROM q2 LEFT JOIN c ON q2.doc_id = c.node
WHERE (c.node IS NULL OR c.component = q2.doc_id)
  AND q2.quality >= {CORPUS_QUALITY_MIN}
"""
    )

    # ----- cells_bbox_join: leaf cells × rects closed-box overlap -----
    def axis_min_case(axis: str) -> str:
        whens = []
        for d in range(CELL_DEPTH + 1):
            step = 1_000_000.0 / (1 << d)
            if d == 0:
                expr = "0.0"
            else:
                terms = []
                for lvl in range(1, d + 1):
                    anc = _ancestor_sql("cell_id", d - lvl)
                    dig = f"((({anc}) - 1) % 4)"
                    bit = f"({dig} % 2)" if axis == "col" else f"({dig} // 2)"
                    terms.append(f"{bit} * {1 << (d - lvl)}")
                expr = f"({' + '.join(terms)}) * {step}"
            whens.append(f"WHEN {d} THEN {expr}")
        return f"(CASE depth {' '.join(whens)} END)"

    step_case = (
        "(CASE depth "
        + " ".join(f"WHEN {d} THEN {1_000_000.0 / (1 << d)}" for d in range(CELL_DEPTH + 1))
        + " END)"
    )
    box_branches = " UNION ALL ".join(
        f"SELECT {bid} AS box_id, cell_id, cnt FROM geom "
        f"WHERE min_x <= {bx2} AND min_x + step >= {bx1} "
        f"AND min_y <= {by2} AND min_y + step >= {by1}"
        for bid, bx1, by1, bx2, by2 in BBOX_BOXES
    )
    sqls["cells_bbox_join"] = (
        "WITH " + _cells_cte() + ",\n"
        f"geom AS (SELECT cell_id, cnt, {axis_min_case('col')} AS min_x, "
        f"{axis_min_case('row')} AS min_y, {step_case} AS step FROM cells "
        f"WHERE cnt < 5 OR depth >= {CELL_DEPTH}),\n"
        "hit AS (" + box_branches + ")\n"
        "SELECT CAST(box_id AS INT) AS box_id, COUNT(*) AS n_cells, "
        "CAST(SUM(cnt) AS BIGINT) AS sum_cnt, MIN(cell_id) AS min_cell, "
        "MAX(cell_id) AS max_cell FROM hit GROUP BY 1"
    )

    # ----- bpe_token_counts -----
    sqls["bpe_token_counts"] = r"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe
FROM documents
"""

    # ----- video_frame_sample: key-arithmetic twin of the sampling kernel.
    # k=3 uniform sampling of odd n_frames → indices {0, (n-1)/2, n-1} exactly
    # (odd n keeps the midpoint integral — no round-half mode divergence). ---
    sqls["video_frame_sample"] = f"""
WITH v AS (SELECT CAST(o_orderkey AS BIGINT) AS key, {VID_W} AS w, {VID_H} AS h,
                  {VID_NF} AS nf
           FROM orders WHERE o_orderkey <= {VID_LIMIT})
SELECT 'v' || CAST(key AS VARCHAR) AS video_id,
       CAST(3 AS BIGINT) AS n_sampled,
       CAST(0 AS INT) AS min_f,
       CAST(nf - 1 AS INT) AS max_f,
       CAST((nf - 1) / 2 + (nf - 1) AS BIGINT) AS sum_f,
       CAST(3 * w * h * 3 AS BIGINT) AS sum_bytes
FROM v
"""

    # ----- tile_slice_geometry: pure key arithmetic twin of the pixel kernel -----
    ts = 1_000_000 // (1 << TILE_ZOOM)
    nmax = (1 << TILE_ZOOM) - 1
    sqls["tile_slice_geometry"] = f"""
WITH im AS (SELECT CAST(p_partkey AS BIGINT) AS key, {IMG_W} AS w, {IMG_H} AS h,
                   {IMG_X} AS x, {IMG_Y} AS y
            FROM part WHERE p_partkey <= {IMG_LIMIT}),
g AS (SELECT 'p' || CAST(key AS VARCHAR) AS image_id, w, h,
             x // {ts} AS tx0, (x + w - 1) // {ts} AS tx1,
             y // {ts} AS ty0, (y + h - 1) // {ts} AS ty1
      FROM im)
SELECT image_id,
  CAST((tx1 - tx0 + 1) * (ty1 - ty0 + 1) AS BIGINT) AS n_tiles,
  CAST(w * h AS BIGINT) AS sum_px,
  CAST(LEAST(tx0, {nmax}) AS INT) AS min_tx, CAST(LEAST(tx1, {nmax}) AS INT) AS max_tx,
  CAST({nmax} - LEAST(ty1, {nmax}) AS INT) AS min_ty,
  CAST({nmax} - LEAST(ty0, {nmax}) AS INT) AS max_ty,
  CAST((tx1 - tx0 + 1) * (ty1 - ty0 + 1) AS BIGINT) AS n_cap_ok
FROM g
"""

    # ----- image_features: the decode→resize→sum pipeline re-derived as pure
    # splitmix64 integer arithmetic. pixel(key, flat_idx) = hash2(key,
    # flat_idx // BLOCK) & 0xFF (functions/images.py gen_pixels); the 8×8
    # nearest-neighbor resize samples rows j*h//8 and cols i*w//8; rle images
    # (key % 4 == 0) are even-quantized by the codec round-trip.
    sqls["image_features"] = f"""
WITH im AS (SELECT CAST(p_partkey AS BIGINT) AS key, {IMG_W} AS w, {IMG_H} AS h,
                   CASE WHEN p_partkey % 4 = 0 THEN 1 ELSE 0 END AS lossy
            FROM part WHERE p_partkey <= {IMG_LIMIT}),
samples AS (SELECT key, w, h, lossy, gc.c AS c,
                   CAST(key AS UBIGINT) AS a,
                   CAST(((gj.j * h // 8) * w + (gi.i * w // 8)) * 3 + gc.c AS UBIGINT) // 16 AS b
            FROM im,
                 generate_series(0, 7) AS gj(j),
                 generate_series(0, 7) AS gi(i),
                 generate_series(0, 2) AS gc(c)),
{hash2_sql_ctes('h', 'samples', ['key', 'w', 'h', 'lossy', 'c'], 'a', 'b', 'v')},
vals AS (SELECT key, w, h, c,
                CASE WHEN lossy = 1 THEN (v % 256) - ((v % 256) % 2)
                     ELSE v % 256 END AS pix
         FROM ho5)
SELECT 'p' || CAST(key AS VARCHAR) AS image_id,
  CAST(SUM(CASE WHEN c = 0 THEN pix ELSE 0 END) AS BIGINT) AS sum_r,
  CAST(SUM(CASE WHEN c = 1 THEN pix ELSE 0 END) AS BIGINT) AS sum_g,
  CAST(SUM(CASE WHEN c = 2 THEN pix ELSE 0 END) AS BIGINT) AS sum_b,
  CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px
FROM vals GROUP BY key
"""

    # ----- image_neardup_phash: every phash bit re-derived as splitmix64
    # arithmetic (same sampling CTE shape as image_features, plus the
    # patch class routing block 0 through key+offset), then an ALL-PAIRS
    # brute-force Hamming compare — independently gating both the hash and
    # the engine's band-join completeness
    flat = "(((gj.j * h // 8) * w + (gi.i * w // 8)) * 3 + gc.c)"
    sqls["image_neardup_phash"] = f"""
WITH im AS (
  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS image_id,
         CAST(p_partkey AS BIGINT) AS key, {IMG_W} AS w, {IMG_H} AS h,
         CASE WHEN p_partkey % 4 = 0 THEN 1 ELSE 0 END AS lossy, 0 AS patched
  FROM part WHERE p_partkey <= {IMG_LIMIT}
  UNION ALL
  SELECT 'd' || CAST(p_partkey AS VARCHAR),
         CAST(p_partkey AS BIGINT), {IMG_W}, {IMG_H},
         CASE WHEN p_partkey % 4 = 0 THEN 0 ELSE 1 END, 0
  FROM part WHERE p_partkey <= {IMG_LIMIT} AND p_partkey % 3 = 0
  UNION ALL
  SELECT 'm' || CAST(p_partkey AS VARCHAR),
         CAST(p_partkey AS BIGINT), {IMG_W}, {IMG_H}, 0, 1
  FROM part WHERE p_partkey <= {IMG_LIMIT} AND p_partkey % 5 = 0),
samples AS (SELECT image_id, lossy, gj.j * 8 + gi.i AS pos,
                   CAST(CASE WHEN patched = 1 AND {flat} // 16 = 0
                        THEN key + {PHASH_PATCH_OFFSET} ELSE key END AS UBIGINT) AS a,
                   CAST({flat} AS UBIGINT) // 16 AS b
            FROM im,
                 generate_series(0, 7) AS gj(j),
                 generate_series(0, 7) AS gi(i),
                 generate_series(0, 2) AS gc(c)),
{hash2_sql_ctes('q', 'samples', ['image_id', 'lossy', 'pos'], 'a', 'b', 'v')},
vals AS (SELECT image_id, pos,
                CASE WHEN lossy = 1 THEN (v % 256) - ((v % 256) % 2)
                     ELSE v % 256 END AS pix
         FROM qo5),
s AS (SELECT image_id, pos, CAST(SUM(pix) AS BIGINT) AS s FROM vals GROUP BY 1, 2),
tot AS (SELECT image_id, CAST(SUM(s) AS BIGINT) AS tot FROM s GROUP BY 1),
bits AS (SELECT s.image_id, s.pos,
                CASE WHEN 64 * s.s > t.tot THEN '1' ELSE '0' END AS bit
         FROM s JOIN tot t ON s.image_id = t.image_id),
phv AS (SELECT image_id, string_agg(bit, '' ORDER BY pos) AS ph FROM bits GROUP BY 1)
SELECT x.image_id AS a, y.image_id AS b,
       CAST(hamming(x.ph, y.ph) AS INT) AS hamming
FROM phv x JOIN phv y ON x.image_id < y.image_id
WHERE hamming(x.ph, y.ph) <= 4
"""

    # ----- audio_features: decode → window-energy re-derived as splitmix64
    # integer arithmetic. sample(key, i) = (hash2(key, i) & 0xFFFF) - 32768
    # (functions/multimodal.py gen_audio); windows of 256, trailing partial
    # dropped; features are Σ sample² per window — integers, so no float
    # rounding crosses the engine boundary. -----
    sqls["audio_features"] = f"""
WITH a AS (SELECT CAST(c_custkey AS BIGINT) AS key,
                  CAST(800 + (c_custkey % 5) * 400 AS INT) AS ns
           FROM customer WHERE c_custkey <= {VID_LIMIT}),
idx AS (SELECT key, gs.i AS i FROM a, generate_series(0, 2399) AS gs(i)
        WHERE gs.i < (ns // 256) * 256),
src AS (SELECT key, i // 256 AS win,
               CAST(key AS UBIGINT) AS ak, CAST(i AS UBIGINT) AS bk
        FROM idx),
{hash2_sql_ctes('au', 'src', ['key', 'win'], 'ak', 'bk', 'v')},
s AS (SELECT key, win, CAST(v % 65536 AS BIGINT) - 32768 AS smp FROM auo5),
w AS (SELECT key, win, SUM(smp * smp) AS we FROM s GROUP BY 1, 2)
SELECT 'a' || CAST(key AS VARCHAR) AS clip_id,
       CAST(COUNT(*) AS INT) AS n_windows,
       CAST(SUM(we) AS BIGINT) AS energy_sum,
       CAST(MAX(we) AS BIGINT) AS max_win_energy
FROM w GROUP BY key
"""

    # snapshot_lineage: the sink's manifest semantics re-derived relationally.
    # The Spark side COMMITS the bucketed customer relation (v1), appends one
    # merge-on-read delta batch (equality-deletes of custkey%13 keys, inserts
    # of custkey%29 keys shifted by 1e6 — bucket-preserving since 1e6 % 8 = 0),
    # then reports per bucket: the v1 manifest row count (lineage), the
    # pending delta-batch count, the published version, and the MERGED
    # read-back count + exact integer-cents sum. The oracle recomputes all of
    # it from the raw table: any lineage miscount, delta misfold, or
    # lost/resurrected row hash-mismatches.
    sqls["snapshot_lineage"] = """
WITH c AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         CAST(c_custkey % 8 AS VARCHAR) AS bucket
  FROM customer),
base AS (SELECT bucket, COUNT(*) AS n_base FROM c GROUP BY bucket),
tb AS (SELECT bucket,
              CAST(MAX(CASE WHEN c_custkey % 13 = 0 OR c_custkey % 29 = 0
                            THEN 1 ELSE 0 END) AS INT) AS n_batches
       FROM c GROUP BY bucket),
surv AS (
  SELECT bucket, cents FROM c WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT bucket, cents FROM c WHERE c_custkey % 29 = 0)
SELECT b.bucket, b.n_base, tb.n_batches, 2 AS version,
       COUNT(*) AS n_rows, CAST(SUM(s.cents) AS BIGINT) AS cents_sum
FROM base b JOIN tb USING (bucket) JOIN surv s USING (bucket)
GROUP BY b.bucket, b.n_base, tb.n_batches
"""

    # snapshot_prune: manifest column statistics + z-order clustering under
    # the hash gate. The Spark side commits the lineitem-derived points into
    # a SnapshotTable with stat_cols=[x, y] and a zorder_key sort, then
    # answers three bbox queries THROUGH read_where — i.e. through
    # manifest-level file skipping (files whose recorded [min,max] cannot
    # intersect the box are never handed to the scan). The oracle is a plain
    # filter over the same derived points: any file wrongly pruned (lost
    # rows), stats misrecorded, or clustering-corrupted row drops the count /
    # min-pid / coordinate checksum. n_table_rows additionally pins the
    # manifest's per-bucket row counts (footer-harvested) to COUNT(*).
    sqls["snapshot_prune"] = f"""
WITH pts AS ({PTS_SQL}),
tot AS (SELECT COUNT(*) AS n FROM pts),
boxes AS (SELECT * FROM (VALUES {_values_sql(PRUNE_BOXES)}) AS b(box_id, x1, y1, x2, y2))
SELECT CAST(b.box_id AS INT) AS box_id, COUNT(*) AS n_points,
       MIN(pid) AS min_pid, CAST(SUM(x + y) AS BIGINT) AS xy_sum,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_table_rows
FROM pts JOIN boxes b
  ON x >= b.x1 AND x <= b.x2 AND y >= b.y1 AND y <= b.y2
GROUP BY b.box_id
"""

    # streaming dedup: exactly one row per distinct key — DISTINCT restated
    sqls["stream_dedup"] = """
WITH k AS (SELECT DISTINCT CAST(o_orderkey % 1000 AS BIGINT) AS dkey FROM orders)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(dkey) AS BIGINT) AS key_sum,
       CAST(SUM(dkey * 7 + 13) AS BIGINT) AS pay_sum
FROM k
"""

    # rollback erased generation 1 (and only it); per-generation sums pin
    # both the restore and the post-rollback append
    sqls["snapshot_rollback"] = _generation_sums_sql("WHERE o_orderkey % 3 <> 1 ")

    # the stream's final content is the whole table; per-generation sums
    # pin that each microbatch carried exactly its generation's files
    sqls["snapshot_stream"] = _generation_sums_sql()

    # both arms re-derived from raw customer: v1 = half the buckets, seg
    # unknown at that version; current = all rows, seg null exactly for the
    # v1-era files (schema evolution must not backfill old data)
    sqls["snapshot_evolution"] = """
WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
                     CAST(c_custkey % 8 AS VARCHAR) AS bucket,
                     c_mktsegment AS seg,
                     c_custkey % 8 AS g
              FROM customer)
SELECT CAST(1 AS INT) AS version, ckey, cents, bucket, '' AS seg
FROM cust WHERE g < 4
UNION ALL
SELECT CAST(2 AS INT) AS version, ckey, cents, bucket,
       CASE WHEN g < 4 THEN '' ELSE seg END AS seg
FROM cust
"""

    # snapshot_incremental: the incremental-read contract re-derived from the
    # raw orders relation. The Spark side appends generation g = o_orderkey%3
    # as snapshot v(g+1) and aggregates read_changes(from_v, 3) for every
    # from-version; the oracle knows increment (from_v → 3) is exactly the
    # generations from_v..2, and that the v3→v3 increment is EMPTY (no output
    # row) — a double-counted, missed, or phantom file breaks the sums.
    sqls["snapshot_incremental"] = """
WITH o AS (
  SELECT CAST(o_orderkey AS BIGINT) AS okey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey % 3 AS gen
  FROM orders),
inc AS (
  SELECT 1 AS from_version, okey, cents FROM o WHERE gen IN (1, 2)
  UNION ALL
  SELECT 2 AS from_version, okey, cents FROM o WHERE gen = 2)
SELECT CAST(from_version AS INT) AS from_version, COUNT(*) AS n_rows,
       CAST(SUM(okey) AS BIGINT) AS key_sum,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM inc GROUP BY from_version
"""

    return sqls
