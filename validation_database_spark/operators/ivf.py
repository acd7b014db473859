"""IVF (inverted-file) similarity search as one operator in three
steps, plus the per-query top-K that ends every search:

- **build**: the capped centroid table (at most nlist rows — index
  metadata, never corpus-sized) and each row's top-``assign`` cells;
- **probe**: each query's top-``nprobe`` cells;
- **score**: the rows of a query's probed cells scored against it,
  then ranked by :func:`top_k`.

Cells rank by (score DESC, cent_id ASC) in every step — the
comparator the DuckDB oracles replay with ``row_number()`` — so the
index itself is engine-exact. Two scoring domains share the steps:

- **float**: cosine over unit vectors, rounded to 6 decimals. The
  centroid table folds to ONE broadcast array row
  (:func:`centroid_array`) and each row selects its cells inside a
  projection: no crossJoin row materialization, no aggregation, no
  exchange — a narrow map at any scale. Pairs meet in one join
  (:func:`score_float`), with the probe side broadcast or both sides
  in the salted ``operators.fanout`` layout.
- **e6**: vectors quantized once to int64 ×1e6, where a dot is
  order-independent integer arithmetic and numpy reproduces SQL
  bit-for-bit. Cells are selected by one Arrow map against the
  collected centroid table (:func:`topk_cells_explode`); pairs are
  scored by one cogrouped int64 matmul per (cell, salt)
  (:func:`score_e6`). |e6 coord| ≤ 1e6 on unit vectors, so a 64-dim
  dot (≤ 6.4e13) stays far inside int64.

A row indexed in several cells (``assign`` > 1, the standard fix for
neighbours straddling a Voronoi edge) can be reachable through
several of one query's probed cells. Both domains score such a pair
once, through the row's best reachable cell: the row survives in its
cell of rank ``arn`` only when none of its better cells
``cells[:arn]`` is among the query's ``probed`` cells. It is a mask
on columns both sides already carry, not a dedup shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fanout import SALT_COL, salted_fanout
from .vectors import dot_expr


def top_k(
    scored: DataFrame, query: str, score: str, ids: Sequence[str], k: int
) -> DataFrame:
    """Each ``query``'s top ``k`` rows by (``score`` DESC, ``ids``
    ASC), numbered 1..k in a bigint ``rk``. Spark plans the filtered
    window with a map-side partial WindowGroupLimit, so only top-k
    per query per task reaches the exchange."""
    w = Window.partitionBy(query).orderBy(F.col(score).desc(), *ids)
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= k
    )


# --- float domain ---------------------------------------------------------


def centroid_array(cents: DataFrame, vec: str) -> DataFrame:
    """build: the (cent_id, ``vec``) centroid table as ONE broadcast
    row ``cs`` — array<struct<cent_id, c>> sorted by cent_id. The
    fold always emits one row: with no centroids ``cs`` is empty, so
    no row selects a cell and the search returns nothing."""
    fold = f"sort_array(collect_list(struct(cent_id, {vec} AS c))) AS cs"
    return F.broadcast(cents.selectExpr(fold))


def _ranked(vec: str) -> str:
    # (score, -cent_id) structs: max / descending sort ≡ (score DESC,
    # cent_id ASC); cent_id is unique, so ties never reach it twice
    score = f"round({dot_expr(vec, 'c.c')}, 6)"
    return f"transform(cs, c -> struct({score} AS s, -c.cent_id AS neg))"


def _top_cells(vec: str, k: int) -> str:
    top = f"slice(sort_array({_ranked(vec)}, false), 1, {k})"
    return f"transform({top}, s -> -s.neg)"


def assign_cells(
    rows: DataFrame, carr: DataFrame, vec: str, assign: int
) -> DataFrame:
    """build: each row's top-``assign`` cells against the
    :func:`centroid_array` row ``carr``. With ``assign`` 1 a row gains
    its nearest ``cent_id`` (NULL when there are no centroids);
    otherwise it explodes to one row per cell, carrying the
    rank-ordered ``cells`` and the 0-based rank ``arn`` the
    best-reachable-cell rule reads."""
    with_cs = rows.crossJoin(carr)
    if assign == 1:
        best = f"-array_max({_ranked(vec)}).neg"
        return with_cs.selectExpr(*rows.columns, f"{best} AS cent_id")
    cells = f"{_top_cells(vec, assign)} AS cells"
    return with_cs.selectExpr(*rows.columns, cells).selectExpr(
        "*", "posexplode(cells) AS (arn, cent_id)"
    )


def probe_cells(
    queries: DataFrame, carr: DataFrame, qvec: str, nprobe: int
) -> DataFrame:
    """probe: one row per (query, probed cell), each carrying the
    query's whole ``probed`` list."""
    return queries.crossJoin(carr).selectExpr(
        *queries.columns, f"{_top_cells(qvec, nprobe)} AS probed"
    ).selectExpr("*", "explode(probed) AS cent_id")


def score_float(
    assigned: DataFrame,
    probes: DataFrame,
    ids: Sequence[str],
    query: str,
    vec: str,
    qvec: str,
    k: int,
    layout: tuple[int, int] | None = None,
) -> DataFrame:
    """score: each probe joins the rows of its cell, the own row
    (``ids[0] == query``) and pairs served through a better cell are
    dropped, and the rounded cosine ``cos_sim`` is ranked by
    :func:`top_k`.

    ``layout`` None broadcasts the probe side and the row index joins
    in place. ``(n_salt, parts)`` instead runs the join in the salted
    REPARTITION_BY_NUM layout of ``operators.fanout``: needed when the
    probe side is too big to ship whole, and when the fan-out's output
    dwarfs its inputs, because AQE sizes the stage by its small inputs
    (the float ANN arm sorted a 3.21B-pair fan-out as 22 spilling slabs
    at the 2M-vector replica; SCALE.md round 11). Either layout yields
    the same pairs, scores and ties."""
    if layout is None:
        joined = F.broadcast(probes).join(assigned, "cent_id")
    else:
        n_salt, parts = layout
        a_s, p_s = salted_fanout(
            assigned,
            probes,
            F.concat_ws("_", *ids),
            n_salt,
            parts=parts,
            partition_keys=("cent_id",),
        )
        joined = p_s.join(a_s, ["cent_id", SALT_COL])
    scored = joined.filter(F.col(ids[0]) != F.col(query))
    if "arn" in assigned.columns:
        scored = scored.filter("NOT arrays_overlap(slice(cells, 1, arn), probed)")
    cos = f"round({dot_expr(qvec, vec)}, 6) AS cos_sim"
    scored = scored.selectExpr(query, *ids, cos)
    return top_k(scored, query, "cos_sim", ids, k)


# --- e6 integer domain ----------------------------------------------------


def stack_int64(vecs: list) -> tuple[np.ndarray, np.ndarray]:
    """(idx, M): positions of the fully-non-null vectors in ``vecs``
    and their stacked int64 matrix — the vectorized null-routing
    guard shared by the Arrow vector kernels (ADVICE r8). A null
    vector arrives as a None row; a null ELEMENT (a zero-norm
    embedding normalizes to null) promotes the whole Arrow chunk to
    float64 with NaN, so the isnan scan only runs on float chunks and
    a clean batch stacks zero-copy to int64 (e6 coords ≤1.4e6
    roundtrip float64 exactly)."""
    notnull = np.array([v is not None for v in vecs], dtype=bool)
    sub = [v for v in vecs if v is not None]
    M = np.asarray(sub) if sub else np.empty((0, 1), dtype=np.int64)
    good = (
        ~np.isnan(M).any(axis=1)
        if M.dtype.kind == "f"
        else np.ones(len(sub), dtype=bool)
    )
    return np.flatnonzero(notnull)[good], M[good].astype(np.int64, copy=False)


def topk_cells_explode(
    df: DataFrame, vec: str, cent_rows: list, k: int, keep_cells: bool = False
) -> DataFrame:
    """build / probe: every row of ``df`` emits one row per its
    top-``k`` cells by integer dot, with ``cent_id`` (and, when
    ``keep_cells``, the rank-ordered ``cells`` array and 0-based rank
    ``arn``), in ONE mapInPandas pass against ``cent_rows``, the
    collected (cent_id, cx) centroid table. The explode is
    vectorized (np.repeat) and there is no Generate node — Catalyst
    cannot evaluate a Python UDF inside a generator or filter.

    Ties: a stable argsort over id-sorted centroids ≡ row_number(ORDER
    BY dot DESC, cent_id). A row or centroid whose vector is null or
    holds a null element takes no part, as the oracles' null-filtered
    CTEs and cross joins drop it."""
    rows = sorted(
        (r for r in cent_rows if r["cx"] is not None and None not in r["cx"]),
        key=lambda r: r["cent_id"],
    )
    passthrough = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    )
    extra = "cent_id bigint"
    if keep_cells:
        extra = f"cells array<bigint>, arn int, {extra}"
    ids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    C = (
        np.array([list(r["cx"]) for r in rows], dtype=np.int64)
        if rows
        else np.empty((0, 1), dtype=np.int64)
    )
    kk = min(k, len(ids))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0 or kk == 0:
                continue
            idx, M = stack_int64(pdf[vec].tolist())
            if not len(idx):
                continue
            order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :kk]
            cellmat = ids[order]
            rep = pdf.iloc[idx].reset_index(drop=True)
            each = np.repeat(np.arange(len(rep)), kk)
            out = rep.loc[each].reset_index(drop=True)
            if keep_cells:
                lists = [row.tolist() for row in cellmat]
                out["cells"] = [lists[i] for i in each]
                out["arn"] = np.tile(np.arange(kk, dtype=np.int32), len(rep))
            out["cent_id"] = cellmat.ravel()
            yield out

    return df.mapInPandas(gen, f"{passthrough}, {extra}")


def cell_kernel(ids: Sequence[str], query: str, score: str, k: int):
    """The cogroup function of :func:`score_e6` for one (cell, salt)
    group: rows (``ids``, ``x``, and ``cells``/``arn`` when indexed in
    several cells) meet the cell's probes (``query``, ``qx``, and
    ``probed``) in one exact int64 matmul. The own-row mask and the
    best-reachable-cell mask apply before any pair row exists, and
    only each query's local top-``k`` by (score DESC, ids ASC) leaves
    Python as (query, *ids, score). The pruning is value-neutral:
    every pair lives in exactly one (cell, salt, row-slice) group, so
    each query's global top-k is drawn from the local ones — and the
    JVM rank window never sees the whole scored frame (1.22B pairs at
    the sf10 RAG replica, where ranking them cost more than scoring;
    SCALE.md round 9). Row-sliced so the score matrix stays ~32 MB
    however large the cell."""
    cols = (query, *ids, score)

    def score_cells(rows: pd.DataFrame, probes: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: np.empty(0, dtype=np.int64) for c in cols})
        if len(rows) == 0 or len(probes) == 0:
            return empty
        X = np.array(rows["x"].tolist(), dtype=np.int64)
        Q = np.array(probes["qx"].tolist(), dtype=np.int64)
        keys = [rows[c].to_numpy() for c in ids]
        qids = probes[query].to_numpy()
        multi = "arn" in rows
        if multi:
            arn = rows["arn"].to_numpy()
            cells = rows["cells"].tolist()
            probed = probes["probed"].tolist()
            width = max(len(p) for p in probed)
            P = np.full((len(probed), width), -1, dtype=np.int64)
            for j, p in enumerate(probed):
                P[j, : len(p)] = p
        step = max(1, (1 << 22) // len(qids))
        outs = []
        for lo in range(0, len(X), step):
            hi = min(lo + step, len(X))
            S = X[lo:hi] @ Q.T  # exact int64
            keep = keys[0][lo:hi, None] != qids[None, :]
            # drop the pair when a better cell of the row is probed by
            # the same query: it is scored through that cell instead
            deepest = int(arn[lo:hi].max(initial=0)) if multi else 0
            for r in range(1, deepest + 1):
                sel = np.flatnonzero(arn[lo:hi] >= r)
                prev = np.array([cells[lo + i][r - 1] for i in sel], dtype=np.int64)
                keep[sel] &= ~(prev[:, None, None] == P[None, :, :]).any(-1)
            ri, qi = np.nonzero(keep)
            if not len(ri):
                continue
            q_out, s_out = qids[qi], S[ri, qi]
            id_out = [key[lo:hi][ri] for key in keys]
            order = np.lexsort((*reversed(id_out), -s_out, q_out))
            qs = q_out[order]
            pos = np.arange(len(qs))
            first = np.r_[True, qs[1:] != qs[:-1]]
            start = np.maximum.accumulate(np.where(first, pos, 0))
            top = order[(pos - start) < k]
            picked = (q_out[top], *(i[top] for i in id_out), s_out[top])
            outs.append(pd.DataFrame(dict(zip(cols, picked))))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return score_cells


def score_e6(
    assigned: DataFrame,
    probes: DataFrame,
    ids: Sequence[str],
    query: str,
    score: str,
    k: int,
    n_salt: int,
    parts: int,
) -> DataFrame:
    """score: e6 rows and probes cogrouped by (cent_id, salt) through
    :func:`cell_kernel`, then ranked by :func:`top_k`. Each vector
    crosses Arrow once per assignment, never once per pair.

    The salt splits a cell's rows into bounded buckets (probes
    replicate to every bucket — query-sized, cheap) because the
    cogroup runner ships each group as ONE Arrow batch: an unsalted
    Zipfian cell needed a single 2 GB allocation at the sf10 RAG
    replica (SCALE.md round 9). ``parts`` pins the exchange width
    (REPARTITION_BY_NUM): the stage's cost is per-group Python
    latency, which AQE's byte-based coalescing cannot see
    (``operators.fanout.cogroup_parts``). Both are layout-only: each
    row lands in exactly one bucket, so every pair is scored once."""
    ak, pk = salted_fanout(
        assigned,
        probes,
        F.concat_ws("_", *ids),
        n_salt,
        parts=parts,
        partition_keys=("cent_id",),
    )
    scored = (
        ak.groupby("cent_id", SALT_COL)
        .cogroup(pk.groupby("cent_id", SALT_COL))
        .applyInPandas(
            cell_kernel(ids, query, score, k),
            ", ".join(f"{c} bigint" for c in (query, *ids, score)),
        )
    )
    return top_k(scored, query, score, ids, k)
