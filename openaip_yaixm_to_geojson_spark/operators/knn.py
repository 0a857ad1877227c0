"""kNN: nearest airspace per page via cell-ring expansion.

Engine-only operator (no reference counterpart; mandated by the north
rule). Two distance metrics, both plain arithmetic so the DuckDB oracle
reproduces them bit-for-bit (trig-free):

* VERTEX distance (`knn_*`): squared planar degree distance to the nearest
  polygon ring vertex — tight on densified arc/circle rings, but `line:`
  boundary segments are NOT densified, so a page near the midpoint of a
  long straight edge can get an overstated distance (r3 VERDICT item).
* EDGE distance (`knn_edge_*`): exact squared point-to-segment distance
  (projection clamped to [0,1], every op a single-rounded IEEE double in a
  fixed order shared by the Spark expression, the NumPy scan and the SQL
  oracle) — what "nearest airspace" users expect.

Every polygon entry point (vertex or edge, driver list or polygons table,
k = 1 or k) is a thin wrapper over four shared pieces; a metric (`_VERTEX`,
`_EDGE`) supplies only the index payload columns, the d2 kernel and the
finalization margin:

* `_index_from_table` — the index: (vcell, poly_id, *payload) rows built
  from a polygons TABLE by codegen expressions (a driver list becomes a
  table first). Index points are ring vertices, or segment sample points
  carrying their segment's endpoints.
* `_expansion_loop_k` — each round joins still-unresolved pages against
  the index expanded to a Chebyshev window, keeps the k best DISTINCT
  polygons (for edges: by the EXACT segment distance — sampling only
  drives candidate generation, never the reported distance), and
  finalizes pages whose k-th distance beats anything an unseen ring could
  hold. k = 1 is the same loop projected to (url, lat, lon, poly_id,
  dist_sq).
* `_nearest_scan` — vectorized NumPy exact nearest scan (points x index
  rows per Arrow batch): `knn_bruteforce` / `knn_edge_bruteforce`, the
  tiny-input fast path and the driver-list k = 1 fallback.
* `_bruteforce_k` — distributed exact top-k scan over the index TABLE:
  the table fast path and every other fallback.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellgrid
from ..plans.localtable import literal_table

KNN_RES = 9  # ~0.7 deg cells for the polygon index
KNN_POINTS_RES = 6  # ~5.6 deg cells — sized for geotag density
# Chebyshev ring windows, one driver round each: every round is a full
# barrier (join + agg + checkpoint), so fewer/wider windows win whenever
# the expanded index stays joinable — ((0,1),(2,15)) measured ~1.5x faster
# than four geometric windows at bench scale with identical output
WINDOWS = ((0, 1), (2, 15))
OUT_COLS = ("url", "lat", "lon", "poly_id", "dist_sq")
KNN_K_OUT_COLS = ("url", "rnk", "poly_id", "dist_sq")
# expanded-index rows (index rows x window offsets) past this are
# shuffle-joined on `cell` instead of broadcast: building + shipping a
# multi-hundred-MB broadcast relation costs more than shuffling the
# (shrunken) pending side (measured ~20% on the wide round at bench scale)
BROADCAST_INDEX_MAX_ROWS = 500_000
# NumPy scan: index rows scanned per inner chunk so each Arrow batch
# allocates O(batch_rows x chunk) instead of O(batch_rows x all_rows)
BRUTEFORCE_CHUNK = 4096
# fast-path gates: below these, the exact scan beats the expansion loop's
# 2+ driver barriers. The page-count probe uses limit(N+1).count() — a
# CollectLimit that early-exits after N+1 rows, so the gate costs
# O(threshold) regardless of table size (a full count() here would add a
# whole-table job at 100 TB).
SMALL_INPUT_ROWS = 100_000
SMALL_INDEX_VERTICES = 10_000

_BEST_T = "array<struct<d2:double,poly_id:int>>"
_NEAREST_T = T.StructType(
    [T.StructField("poly_id", T.IntegerType()), T.StructField("dist_sq", T.DoubleType())]
)


# ---------------------------------------------------------------------------
# distance kernels: Spark expression + NumPy twin per metric, same op order
# ---------------------------------------------------------------------------
#
# Edge formulation — the EXACT same op order in the Spark expression, the
# NumPy kernel and the SQL oracle, so every intermediate is a single-rounded
# IEEE double and results hash-compare bit-for-bit:
#   dx = bx - ax; dy = by - ay; px = lon - ax; py = lat - ay
#   dot = px * dx + py * dy;    len2 = dx * dx + dy * dy
#   t = 0 if dot <= 0 else (1 if dot >= len2 else dot / len2)
#   ex = px - t * dx; ey = py - t * dy;  d2 = ex * ex + ey * ey
# A degenerate segment (a == b) has len2 = 0 and dot = 0, so t = 0 and d2
# falls back to the vertex distance — no division ever sees a zero.


def _vertex_d2_expr() -> Column:
    """Squared distance from (lon, lat) to the index vertex (ax, ay)."""
    dx = F.col("lon") - F.col("ax")
    dy = F.col("lat") - F.col("ay")
    return dx * dx + dy * dy


def _vertex_d2_np(lon, lat, ax, ay):
    """NumPy twin of _vertex_d2_expr."""
    dx = lon - ax
    dy = lat - ay
    return dx * dx + dy * dy


def seg_d2_expr() -> Column:
    """Squared point-to-segment distance as a codegen expression over
    columns (lon, lat, ax, ay, bx, by)."""
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    px = F.col("lon") - F.col("ax")
    py = F.col("lat") - F.col("ay")
    dot = px * dx + py * dy
    len2 = dx * dx + dy * dy
    t = (
        F.when(dot <= F.lit(0.0), F.lit(0.0))
        .when(dot >= len2, F.lit(1.0))
        .otherwise(dot / len2)
    )
    ex = px - t * dx
    ey = py - t * dy
    return ex * ex + ey * ey


def _seg_d2_np(lon, lat, ax, ay, bx, by):
    """NumPy twin of seg_d2_expr — identical op order, elementwise IEEE."""
    dx = bx - ax
    dy = by - ay
    px = lon - ax
    py = lat - ay
    dot = px * dx + py * dy
    len2 = dx * dx + dy * dy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(dot <= 0.0, 0.0, np.where(dot >= len2, 1.0, dot / len2))
    ex = px - t * dx
    ey = py - t * dy
    return ex * ex + ey * ey


def _vertex_arrays(polygons: list[dict[str, Any]]):
    """(pid, x, y) NumPy arrays of every ring vertex (closing duplicate
    excluded): the segment starts, in the same pid-sorted order."""
    return _segment_arrays(polygons)[:3]


def _segment_arrays(polygons: list[dict[str, Any]]):
    """(pid, ax, ay, bx, by) NumPy arrays for every ring segment, sorted by
    poly_id (stable) so chunked argmin tie-breaks to the smallest pid."""
    pids, ax, ay, bx, by = [], [], [], [], []
    for poly in polygons:
        ring = np.asarray(poly["ring"], dtype=np.float64)
        pids.append(np.full(len(ring) - 1, int(poly["poly_id"]), dtype=np.int64))
        ax.append(ring[:-1, 0])
        ay.append(ring[:-1, 1])
        bx.append(ring[1:, 0])
        by.append(ring[1:, 1])
    pids = np.concatenate(pids)
    order = np.lexsort((pids,))
    return (
        pids[order],
        np.concatenate(ax)[order],
        np.concatenate(ay)[order],
        np.concatenate(bx)[order],
        np.concatenate(by)[order],
    )


class _Metric(NamedTuple):
    payload: tuple[str, ...]  # index columns the distance reads
    d2_expr: Callable[[], Column]  # Spark d2 over (lon, lat, *payload)
    d2_np: Callable[..., np.ndarray]  # its NumPy twin
    arrays: Callable[[list[dict[str, Any]]], tuple]  # (pid, *payload) of a driver list
    # finalization slack in cell units: 0 for exact vertices, 0.5 for
    # segments sampled at spacing <= cell size (see _expansion_loop_k)
    bound_margin: float


_VERTEX = _Metric(("ax", "ay"), _vertex_d2_expr, _vertex_d2_np, _vertex_arrays, 0.0)
_EDGE = _Metric(("ax", "ay", "bx", "by"), seg_d2_expr, _seg_d2_np, _segment_arrays, 0.5)


# ---------------------------------------------------------------------------
# the index, the two exact scans and the expansion loop
# ---------------------------------------------------------------------------


def _polygon_table(spark: SparkSession, polygons: list[dict[str, Any]]) -> DataFrame:
    """A driver polygon list as a (poly_id, ring) table for the index
    builder. Plain createDataFrame, not literal_table: ring arrays as
    struct literals bloat codegen, and the index is checkpointed once."""
    rows = [
        (int(p["poly_id"]), np.asarray(p["ring"], dtype=np.float64).tolist()) for p in polygons
    ]
    return spark.createDataFrame(rows, "poly_id int, ring array<array<double>>")


def _index_from_table(polygons_df: DataFrame, m: _Metric) -> DataFrame:
    """(vcell, poly_id, *m.payload) index rows from a polygons TABLE, all
    codegen expressions — no UDF, no driver materialization, so the
    polygon side can be millions of rows. Consecutive ring points zip into
    segments (a, b). A vertex index registers each segment start (every
    ring vertex, closing duplicate excluded) under its own cell; a segment
    index registers each segment under the cells of sample points at
    Euclidean spacing <= cell size. Sampling only drives candidate
    generation — the reported distance is always exact — so its ceil()
    needs no cross-engine determinism. poly_id is cast to int: _BEST_T's
    fold zero hard-codes poly_id:int (an arrow-off session would otherwise
    raise DATATYPE_MISMATCH.ARRAY_FUNCTION_DIFF_TYPES)."""
    ring = F.col("ring")
    segs = polygons_df.select(
        F.col("poly_id").cast("int").alias("poly_id"),
        F.explode(
            F.zip_with(
                F.slice(ring, 1, F.size(ring) - 1),
                F.slice(ring, 2, F.size(ring) - 1),
                lambda a, b: F.struct(
                    a[0].alias("ax"), a[1].alias("ay"), b[0].alias("bx"), b[1].alias("by")
                ),
            )
        ).alias("s"),
    ).select("poly_id", "s.ax", "s.ay", "s.bx", "s.by")
    ax, ay, bx, by = (F.col(c) for c in ("ax", "ay", "bx", "by"))
    if not m.bound_margin:
        return segs.select(
            cellgrid.cell_id_col(ax, ay, KNN_RES).alias("vcell"), "poly_id", *m.payload
        )
    seg_len = F.sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
    size = F.lit(cellgrid.cell_size_deg(KNN_RES))
    n = F.greatest(F.lit(1), F.ceil(seg_len / size).cast("int"))
    sampled = segs.select(
        "poly_id", *m.payload, F.explode(F.sequence(F.lit(0), n)).alias("j"), n.alias("n")
    )
    t = F.col("j").cast("double") / F.col("n").cast("double")
    cell = cellgrid.cell_id_col(ax + t * (bx - ax), ay + t * (by - ay), KNN_RES)
    return sampled.select(cell.alias("vcell"), "poly_id", *m.payload).dropDuplicates()


def _index(polygons_df: DataFrame, m: _Metric) -> tuple[DataFrame, int]:
    """The index, checkpointed once (it feeds every round plus the
    fallback — fan-out audit rule), and its row count. Coalesced first:
    the index inherits the polygons table's partitioning, which can be far
    wider than the index warrants (a 64-part polygons scan would otherwise
    spawn 64 near-empty tasks in EVERY round); defaultParallelism keeps
    rounds at cluster width without a shuffle."""
    parallelism = polygons_df.sparkSession.sparkContext.defaultParallelism
    index = _index_from_table(polygons_df, m).coalesce(parallelism).localCheckpoint()
    return index, index.count()


def _nearest_scan(pages: DataFrame, polygons: list[dict[str, Any]], m: _Metric) -> DataFrame:
    """(url, lat, lon, poly_id, dist_sq) by exact scan over every index
    point of `polygons`, vectorized per Arrow batch. Index rows are
    scanned in pid-sorted chunks, so per-batch memory stays O(batch_rows x
    BRUTEFORCE_CHUNK) however many exist; argmin's first-occurrence rule
    on the pid-sorted arrays plus the strict `<` merge give the
    smallest-poly_id tie-break (the SQL oracle's row_number ordered by
    dist_sq, poly_id)."""
    pids, *cols = m.arrays(polygons)
    d2_np = m.d2_np

    @F.pandas_udf(_NEAREST_T)
    def nearest(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lon_np = lon.to_numpy(dtype=np.float64)[:, None]
        lat_np = lat.to_numpy(dtype=np.float64)[:, None]
        n = len(lon_np)
        best = np.full(n, np.inf)
        best_pid = np.full(n, -1, dtype=np.int64)
        for s in range(0, len(pids), BRUTEFORCE_CHUNK):
            d2 = d2_np(lon_np, lat_np, *(c[None, s : s + BRUTEFORCE_CHUNK] for c in cols))
            idx = d2.argmin(axis=1)
            dmin = d2[np.arange(n), idx]
            take = dmin < best
            best[take] = dmin[take]
            best_pid[take] = pids[s : s + BRUTEFORCE_CHUNK][idx[take]]
        return pd.DataFrame({"poly_id": best_pid.astype("int32"), "dist_sq": best})

    return pages.select(
        "url", "lat", "lon", nearest(F.col("lon"), F.col("lat")).alias("_nn")
    ).select("url", "lat", "lon", "_nn.poly_id", "_nn.dist_sq")


def _top_k(pairs: DataFrame, keys: tuple[str, ...], k: int, alias: str) -> DataFrame:
    """Per `keys` group, the k smallest (d2, poly_id) structs of `pairs`
    after reducing to the per-polygon MIN — a polygon's many index rows
    must never occupy more than one top-k slot. Both stages hash-aggregate;
    a single min(struct) is sort-based in Spark and measured ~3x slower
    at k = 1 on the 5,000-page table fast path."""
    best = F.struct(F.col("d2"), F.col("poly_id"))
    return (
        pairs.groupBy(*keys, "poly_id")
        .agg(F.min("d2").alias("d2"))
        .groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list(best)), 1, k).alias(alias))
    )


def _bruteforce_k(tail: DataFrame, index: DataFrame, m: _Metric, k: int) -> DataFrame:
    """(url, lat, lon, best): exact k-nearest-polygon scan with the index
    as a TABLE — broadcast the (small) page tail against every index
    partition, then the per-url top-k. O(tail x index) work, data-parallel
    over the index."""
    t = tail.select("url", "lat", "lon")
    pairs = index.crossJoin(F.broadcast(t)).withColumn("d2", m.d2_expr())
    return _top_k(pairs, ("url", "lat", "lon"), k, "best")


def _explode_best_k(df: DataFrame) -> DataFrame:
    return df.select("url", "lat", "lon", F.posexplode("best")).select(
        "url",
        "lat",
        "lon",
        (F.col("pos") + 1).cast("int").alias("rnk"),
        F.col("col.poly_id").alias("poly_id"),
        F.col("col.d2").alias("dist_sq"),
    )


def _topk_distinct_pid(best_col: str, cand_col: str, k: int):
    """Merge two (d2, poly_id) struct arrays into the k smallest entries
    with DISTINCT poly_ids, keyed by (d2, poly_id) ascending. The dedup is
    an aggregate() fold over the sorted concat — the fold state `acc` is
    lambda-local, so nothing outer re-evaluates per element (the HOF
    re-inline trap), and the fold caps acc at k so work per row is O(k^2)
    on arrays of at most 2k entries."""
    return F.expr(
        f"aggregate(array_sort(concat({best_col}, coalesce({cand_col}, "
        f"cast(array() as {_BEST_T})))), cast(array() as {_BEST_T}), "
        f"(acc, x) -> CASE WHEN size(acc) >= {k} "
        f"OR exists(acc, y -> y.poly_id = x.poly_id) "
        f"THEN acc ELSE array_append(acc, x) END)"
    )


def _offsets(spark: SparkSession, lo: int, hi: int) -> tuple[DataFrame, int]:
    """One-column (off bigint) table of the cell-id offsets in the
    Chebyshev annulus lo <= max(|dx|, |dy|) <= hi, and its row count."""
    offs = [
        (dy * cellgrid._SHIFT + dx,)
        for dx in range(-hi, hi + 1)
        for dy in range(-hi, hi + 1)
        if lo <= max(abs(dx), abs(dy)) <= hi
    ]
    return literal_table(spark, offs, "off bigint"), len(offs)


def _expansion_loop_k(
    pages: DataFrame,
    index: DataFrame,
    n_index: int,
    m: _Metric,
    windows: tuple[tuple[int, int], ...],
    k: int,
    out_cols: tuple[str, ...] = KNN_K_OUT_COLS,
    fallback: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The k nearest DISTINCT polygons per page, projected to `out_cols`
    from (url, lat, lon, rnk, poly_id, dist_sq), rnk 1..k by (dist_sq,
    poly_id).

    Round r joins still-unresolved pages against the index over the
    Chebyshev ring WINDOW [lo_r, hi_r]: the SMALL side explodes — every
    index row is registered under each cell of the window's annulus — so
    the page side stays one row per page with a plain equi-join, broadcast
    while the expanded index is small and shuffle-joined on `cell` past
    BROADCAST_INDEX_MAX_ROWS. Per-page state is one <= k struct array;
    each round barriers on a localCheckpoint of the shrinking pending set.

    A page finalizes once it holds k distinct polygons whose k-th distance
    is STRICTLY under ((hi - margin) * cell_size)^2: any index point in an
    unseen ring (Chebyshev > hi) is at least hi * size away, and for a
    segment index sampled at Euclidean spacing <= cell_size an unseen
    segment can still pass within (hi - 1/2) * size (every segment point
    is within spacing/2 of a sample) — margin 0.5. So no unseen polygon
    can enter the top k OR improve a reported distance; strict < keeps an
    exactly-on-the-bound unseen polygon from stealing the k-th slot via
    the poly_id tie-break.

    Per round, candidates reduce to the per-(url, poly_id) MIN before the
    per-url top-k, and the carried state merges by min-per-poly_id (a
    later ring can re-surface an already-held polygon; the sorted-fold
    dedup keeps the smaller key). Truncating each round's candidates to k
    is lossless: a dropped entry is (d2, pid)-dominated by k distinct kept
    polygons whose merged keys only ever improve.

    Pages unresolved past the last window go to `fallback(tail)` (default:
    the distributed exact scan), which returns a frame with `out_cols`."""
    spark = pages.sparkSession
    size = cellgrid.cell_size_deg(KNN_RES)
    d2_expr = m.d2_expr()
    if fallback is None:

        def fallback(tail: DataFrame) -> DataFrame:
            return _explode_best_k(_bruteforce_k(tail, index, m, k))

    pending = (
        pages.select("url", "lat", "lon")
        .withColumn("cell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), KNN_RES))
        .withColumn("best", F.expr(f"cast(array() as {_BEST_T})"))
    )
    finalized: list[DataFrame] = []

    for lo, hi in windows:
        off_df, n_offsets = _offsets(spark, lo, hi)
        vwin = index.crossJoin(off_df).select(
            (F.col("vcell") + F.col("off")).alias("cell"), "poly_id", *m.payload
        )
        if n_index * n_offsets <= BROADCAST_INDEX_MAX_ROWS:
            vwin = F.broadcast(vwin)
        pairs = (
            pending.select("url", "lat", "lon", "cell").join(vwin, "cell").withColumn("d2", d2_expr)
        )
        merged = pending.join(_top_k(pairs, ("url",), k, "cbest"), "url", "left").select(
            "url", "lat", "lon", "cell", _topk_distinct_pid("best", "cbest", k).alias("best")
        )
        bound = float(((hi - m.bound_margin) * size) * ((hi - m.bound_margin) * size))
        guarantee = (F.size("best") >= k) & (F.element_at("best", k)["d2"] < F.lit(bound))
        finalized.append(_explode_best_k(merged.where(guarantee)).select(*out_cols))
        pending = merged.where(~guarantee).localCheckpoint()
        if pending.isEmpty():
            break
    else:
        # pages with too few polygons within the last window (or no windows)
        finalized.append(fallback(pending).select(*out_cols))

    return reduce(DataFrame.unionByName, finalized)


def _is_small(pages: DataFrame, n_index: int, small_input_rows: int) -> bool:
    """Tiny-input fast-path gate (see SMALL_INPUT_ROWS); 0 turns it off."""
    return bool(
        small_input_rows
        and n_index <= SMALL_INDEX_VERTICES
        and pages.select("url").limit(small_input_rows + 1).count() <= small_input_rows
    )


def _nearest_from_list(
    pages: DataFrame,
    polygons: list[dict[str, Any]],
    m: _Metric,
    windows: tuple[tuple[int, int], ...],
    small_input_rows: int,
) -> DataFrame:
    """k = 1 over a driver polygon list: tiny inputs and the loop's tail
    take the NumPy scan (same tie-break contract, no loop barriers)."""

    def exact(df: DataFrame) -> DataFrame:
        return _nearest_scan(df, polygons, m)

    if _is_small(pages, sum(len(p["ring"]) - 1 for p in polygons), small_input_rows):
        return exact(pages)
    index, n_index = _index(_polygon_table(pages.sparkSession, polygons), m)
    return _expansion_loop_k(pages, index, n_index, m, windows, 1, OUT_COLS, exact)


def _nearest_from_table(
    pages: DataFrame, polygons_df: DataFrame, m: _Metric, windows: tuple[tuple[int, int], ...]
) -> DataFrame:
    """k = 1 with the polygon side as a TABLE end to end: nothing
    polygon-shaped touches the driver; tiny inputs and the loop's tail
    take the distributed exact scan."""
    index, n_index = _index(polygons_df, m)
    if _is_small(pages, n_index, SMALL_INPUT_ROWS):
        return _explode_best_k(_bruteforce_k(pages, index, m, 1)).select(*OUT_COLS)
    return _expansion_loop_k(pages, index, n_index, m, windows, 1, OUT_COLS)


def _knn_k(
    pages: DataFrame,
    polygons_df: DataFrame,
    m: _Metric,
    k: int,
    windows: tuple[tuple[int, int], ...],
) -> DataFrame:
    index, n_index = _index(polygons_df, m)
    return _expansion_loop_k(pages, index, n_index, m, windows, k)


# ---------------------------------------------------------------------------
# public polygon-kNN entry points
# ---------------------------------------------------------------------------


def knn_bruteforce(pages: DataFrame, polygons: list[dict[str, Any]]) -> DataFrame:
    """(url, lat, lon, nearest poly_id, dist_sq) by exact scan over all
    vertices; ties break to the smaller poly_id."""
    return _nearest_scan(pages, polygons, _VERTEX)


def knn_edge_bruteforce(pages: DataFrame, polygons: list[dict[str, Any]]) -> DataFrame:
    """(url, lat, lon, nearest poly_id, dist_sq) by exact scan over all
    SEGMENTS; ties break to the smaller poly_id."""
    return _nearest_scan(pages, polygons, _EDGE)


def knn_ring_expansion(
    pages: DataFrame,
    polygons: list[dict[str, Any]],
    windows: tuple[tuple[int, int], ...] = WINDOWS,
    small_input_rows: int = SMALL_INPUT_ROWS,
) -> DataFrame:
    """(url, lat, lon, poly_id, dist_sq): nearest polygon by VERTEX
    distance via cell-ring expansion (_expansion_loop_k at k = 1). Set
    small_input_rows=0 to force the loop past the tiny-input fast path.
    For very dense vertex sets, more geometric windows bound per-round
    candidate fan-out."""
    return _nearest_from_list(pages, polygons, _VERTEX, windows, small_input_rows)


def knn_ring_expansion_table(
    pages: DataFrame, polygons_df: DataFrame, windows: tuple[tuple[int, int], ...] = WINDOWS
) -> DataFrame:
    """knn_ring_expansion with the polygon side as a TABLE end to end, so
    it scales to millions of polygon rows. Same rows."""
    return _nearest_from_table(pages, polygons_df, _VERTEX, windows)


def knn_edge_ring_expansion(
    pages: DataFrame,
    polygons: list[dict[str, Any]],
    windows: tuple[tuple[int, int], ...] = WINDOWS,
    small_input_rows: int = SMALL_INPUT_ROWS,
) -> DataFrame:
    """(url, lat, lon, poly_id, dist_sq) with EXACT point-to-segment
    distance via the ring-expansion loop over a sampled segment index."""
    return _nearest_from_list(pages, polygons, _EDGE, windows, small_input_rows)


def knn_edge_ring_expansion_table(
    pages: DataFrame, polygons_df: DataFrame, windows: tuple[tuple[int, int], ...] = WINDOWS
) -> DataFrame:
    """knn_edge_ring_expansion with the polygon side as a TABLE end to
    end. Same rows."""
    return _nearest_from_table(pages, polygons_df, _EDGE, windows)


def knn_k(
    pages: DataFrame,
    polygons: list[dict[str, Any]],
    k: int = 3,
    windows: tuple[tuple[int, int], ...] = WINDOWS,
) -> DataFrame:
    """k nearest DISTINCT airspaces per page by VERTEX distance (url, rnk,
    poly_id, dist_sq)."""
    return _knn_k(pages, _polygon_table(pages.sparkSession, polygons), _VERTEX, k, windows)


def knn_edge_k(
    pages: DataFrame,
    polygons: list[dict[str, Any]],
    k: int = 3,
    windows: tuple[tuple[int, int], ...] = WINDOWS,
) -> DataFrame:
    """k nearest DISTINCT airspaces per page by EXACT point-to-segment
    distance (url, rnk, poly_id, dist_sq)."""
    return _knn_k(pages, _polygon_table(pages.sparkSession, polygons), _EDGE, k, windows)


def knn_table_k(
    pages: DataFrame,
    polygons_df: DataFrame,
    k: int = 3,
    windows: tuple[tuple[int, int], ...] = WINDOWS,
) -> DataFrame:
    """knn_k with the polygon side as a TABLE end to end."""
    return _knn_k(pages, polygons_df, _VERTEX, k, windows)


def knn_edge_table_k(
    pages: DataFrame,
    polygons_df: DataFrame,
    k: int = 3,
    windows: tuple[tuple[int, int], ...] = WINDOWS,
) -> DataFrame:
    """knn_edge_k with the polygon side as a TABLE end to end."""
    return _knn_k(pages, polygons_df, _EDGE, k, windows)


# ---------------------------------------------------------------------------
# point-point kNN: the k nearest OTHER pages for each sampled query page
# ---------------------------------------------------------------------------


def knn_points(
    pages: DataFrame,
    k: int = 8,
    query_mod: int = 7,
    windows: tuple[tuple[int, int], ...] = WINDOWS,
) -> DataFrame:
    """(url, rnk, neighbor, dist_sq): the k nearest OTHER pages for each
    deterministically md5-sampled query page, planar squared-degree
    distance, ties broken by neighbor url. The similarity-search shape the
    polygon kNN family lacks: a point-point self kNN join.

    Scale shape — the INDEX side is the whole corpus, so unlike the
    polygon kNN the Chebyshev annulus is exploded on the QUERY side
    (sampled, small): queries x |annulus| equi-join the corpus on its cell
    key, broadcast while that stays small and a plain shuffle join past
    BROADCAST_INDEX_MAX_ROWS. Per-round state is one top-k struct array
    per query (slice(array_sort(concat))) — window annuli are disjoint so
    a neighbor is scored exactly once. A query finalizes once it holds k
    candidates with kth distance STRICTLY under (hi * cell_size)^2 — any
    unseen point sits in a cell with Chebyshev distance > hi, hence at
    Euclidean distance >= hi * cell_size, and the strict inequality keeps
    an exactly-on-the-bound unseen point from stealing the kth slot via
    the url tie-break. Queries unresolved past the last window fall back
    to an exact scan (they are few: empty neighborhoods).

    The planar-degree metric is the operator's contract (no wraparound:
    longitudes 179.9 and -179.9 are far apart BY DEFINITION here, in both
    engines), which is also why cell-id arithmetic at grid edges is safe:
    aliased off-grid ids either match nothing or contribute far candidates
    that lose the top-k."""
    spark = pages.sparkSession
    res = KNN_POINTS_RES
    size = cellgrid.cell_size_deg(res)
    best_t = "array<struct<d2:double,nid:string>>"
    points = (
        pages.select(
            F.col("url").alias("nid"), F.col("lon").alias("plon"), F.col("lat").alias("plat")
        )
        .withColumn("pcell", cellgrid.cell_id_col(F.col("plon"), F.col("plat"), res))
        .localCheckpoint()  # one consumer per round + fallback (fan-out audit)
    )
    qhash = F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("bigint")
    pending = (
        pages.where(qhash % F.lit(query_mod) == 0)
        .select("url", "lat", "lon")
        .withColumn("qcell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), res))
        .withColumn("best", F.expr(f"CAST(array() AS {best_t})"))
        .localCheckpoint()
    )
    d2 = (F.col("plon") - F.col("lon")) * (F.col("plon") - F.col("lon")) + (
        F.col("plat") - F.col("lat")
    ) * (F.col("plat") - F.col("lat"))
    finalized: list[DataFrame] = []

    def explode_best(df: DataFrame) -> DataFrame:
        return df.select("url", F.posexplode("best")).select(
            "url",
            (F.col("pos") + 1).cast("int").alias("rnk"),
            F.col("col.nid").alias("neighbor"),
            F.col("col.d2").alias("dist_sq"),
        )

    for lo, hi in windows:
        n_pending = pending.count()
        off_df, n_offsets = _offsets(spark, lo, hi)
        qx = (
            pending.select("url", "lat", "lon", "qcell")
            .crossJoin(off_df)
            .select("url", "lat", "lon", (F.col("qcell") + F.col("off")).alias("pcell"))
        )
        if n_pending * n_offsets <= BROADCAST_INDEX_MAX_ROWS:
            qx = F.broadcast(qx)
        cand = (
            points.join(qx, "pcell")
            .where(F.col("nid") != F.col("url"))
            .withColumn("d2", d2)
            .groupBy("url")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct(F.col("d2"), F.col("nid")))), 1, k
                ).alias("cbest")
            )
        )
        merged = pending.join(cand, "url", "left").select(
            "url",
            "lat",
            "lon",
            "qcell",
            F.slice(
                F.array_sort(
                    F.concat(
                        F.col("best"),
                        F.coalesce(F.col("cbest"), F.expr(f"CAST(array() AS {best_t})")),
                    )
                ),
                1,
                k,
            ).alias("best"),
        )
        bound = float((hi * size) * (hi * size))
        guarantee = (F.size("best") >= k) & (F.element_at("best", k)["d2"] < F.lit(bound))
        finalized.append(explode_best(merged.where(guarantee)))
        pending = merged.where(~guarantee).localCheckpoint()
        if pending.isEmpty():
            break
    else:
        # exact scan for the stragglers: all points, same top-k contract
        tail = (
            points.crossJoin(F.broadcast(pending.select("url", "lat", "lon")))
            .where(F.col("nid") != F.col("url"))
            .withColumn("d2", d2)
            .groupBy("url")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct(F.col("d2"), F.col("nid")))), 1, k
                ).alias("best")
            )
        )
        finalized.append(explode_best(tail))

    return reduce(DataFrame.unionByName, finalized)
