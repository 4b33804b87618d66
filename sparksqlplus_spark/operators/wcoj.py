"""Cyclic-bag joins: the triangle join and the worst-case-optimal
k-cycle / pattern kernels.

Reference: sqlplus-lib lftj (ImplicitConversions.scala:338-397,
LeapfrogTrieJoinIterator.scala, LeapfrogJoinIterator.scala) — used for
GHD bags of cyclic cores, restricted there to exactly 3 TableScan
relations over Int columns, with all inputs collected to the driver and
broadcast (a scalability cliff at 100 TB) and a hypercube of
p = ⌊∛parallelism⌋ partitions per axis.

Triangles (Q(a,b,c) = R(a,b) ⋈ S(b,c) ⋈ T(c,a), reference examples
q2/q10) run as a plain Catalyst plan — two hash joins and one DISTINCT
over the output (:func:`triangle_join`). Measured against a hypercube
+ per-cell leapfrog kernel on sparse and dense graphs, the Catalyst
plan won on every input (SCALING.md "Triangle join on Catalyst").

Cycles of k ≥ 4 and other cyclic patterns keep the Spark-native
hypercube design: tuples are *shuffled* to their hypercube cells (each
relation is replicated along its missing axes — never a driver
collect), and each cell runs a sorted-array leapfrog-style
intersection inside an Arrow-batched ``applyInPandas``. There the
binary-join plan materializes the N·d³ path blowup (C4 measured 44.4 s
as path joins against 8.9 s in the kernel, SCALING.md), so the kernel
earns its transport cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Tasks per hypercube cell target: the cell frame is repartitioned to
# n_cells * _CELL_FANOUT partitions BEFORE the groupBy so (a) two heavy
# cells rarely hash-collide into one task (32 cells into 32 buckets
# leaves ~37% of buckets empty and stacks the rest) and (b) AQE's
# post-shuffle coalescing cannot merge several heavy pandas cells into
# one serial task (measured r11: the pentagon kernel stage ran 20
# AQE-coalesced tasks for 32 cells on local[32]; with the explicit
# REPARTITION_BY_NUM exchange — which AQE never coalesces — median
# wall-clock dropped ~2x under load and the single exchange still
# satisfies the groupBy's clustering, so no second shuffle appears).
_CELL_FANOUT = 5


def _cell_repartition(cells: DataFrame, ccols: list[str], n_cells: int) -> DataFrame:
    return cells.repartition(n_cells * _CELL_FANOUT, *[F.col(c) for c in ccols])


def _cid_exploded(shares: list[int], fixed: dict[int, "F.Column"]):
    """One exploded column of flattened cell ids (round 17, guide §2.3:
    shuffle fewer bytes). The r16 hypercube shipped k separate cell-
    coordinate ints per replicated row and replicated via k-2 CHAINED
    explodes; an UnsafeRow charges a full 8-byte slot per field, so the
    coordinates cost k×8 bytes on the exchange and each explode is its
    own Generate operator. Folding the coordinates into ONE long
    ``cid = Σ c_j · Π_{j'>j} shares[j']`` cuts the exchange width to a
    single slot and the replication to a single Generate: per relation,
    the two hashed axes contribute a fixed base and the free axes are
    enumerated as one array of p^(k-2) cid values.

    ``fixed`` maps axis index -> hashed coordinate Column; the other
    axes are enumerated 0..shares[j]-1.
    """
    k = len(shares)
    mult = [1] * k
    for j in range(k - 2, -1, -1):
        mult[j] = mult[j + 1] * shares[j + 1]
    base = None
    for j, col in fixed.items():
        term = col.cast("long") * F.lit(mult[j]).cast("long")
        base = term if base is None else base + term
    free = [j for j in range(k) if j not in fixed]
    n_rep = 1
    for j in free:
        n_rep *= shares[j]
    if n_rep == 1:
        return base, False
    # digit t of m (base-mixed-radix over the free axes, most
    # significant first) scales by the free axis's global multiplier
    div = [1] * len(free)
    for t in range(len(free) - 2, -1, -1):
        div[t] = div[t + 1] * shares[free[t + 1]]

    def cid_of(m):
        out = base
        for t, j in enumerate(free):
            # exact integer digit extract: m < n_rep so the double
            # division below is exact well past any real share product
            digit = F.floor(m / F.lit(div[t])).cast("long") % F.lit(
                shares[j]
            ).cast("long")
            out = out + digit * F.lit(mult[j]).cast("long")
        return out

    return (
        F.explode(F.transform(F.sequence(F.lit(0), F.lit(n_rep - 1)), cid_of)),
        True,
    )


def triangle_join(r: DataFrame, s: DataFrame, t: DataFrame) -> DataFrame:
    """Triangle join Q(a,b,c) = R(a,b) ⋈ S(b,c) ⋈ T(c,a) over three
    (possibly distinct) binary relations with integral keys — the
    per-bag evaluator for triangle bags of cyclic cores (the reference
    routes each GHD bag to lftj, SqlPlusCompiler.scala:155-168).

    Inputs are 2-column DataFrames whose first column is the pattern's
    first variable (R: a then b; S: b then c; T: c then a). Output
    columns are named a, b, c.

    A Catalyst plan: R ⋈ S on b, then ⋈ T on (c, a), then one DISTINCT
    over the output. The distinct join output is exactly the triangle
    set for any input, duplicate edges included, so only the (small)
    output is deduplicated, not each input. The second join probes ONE
    64-bit key, xxhash64(c, a), and checks c and a exactly in a
    residual XOR predicate (not an equi-join key): with a two-column
    key Spark probes its generic UnsafeHashedRelation, and the dense
    graph's triangles took 5.5 s against 3.0 s on one long key. The
    plan measured faster than a hypercube + per-cell
    leapfrog kernel on sparse and dense graphs (SCALING.md "Triangle
    join on Catalyst").
    """
    ra, rb = r.columns[:2]
    sb, sc = s.columns[:2]
    tc, ta = t.columns[:2]
    rs = r.select(F.col(ra).alias("a"), F.col(rb).alias("b")).join(
        s.select(F.col(sb).alias("b"), F.col(sc).alias("c")), "b"
    )
    t = t.select(F.col(tc).alias("t_c"), F.col(ta).alias("t_a"))

    def key(c: str, a: str) -> "F.Column":
        # xxhash64 hashes an int and a long differently: one width
        return F.xxhash64(F.col(c).cast("long"), F.col(a).cast("long"))

    rst = rs.withColumn("k", key("c", "a")).join(
        t.withColumn("k", key("t_c", "t_a")), "k"
    )
    same = (F.col("c").bitwiseXOR(F.col("t_c")) == 0) & (
        F.col("a").bitwiseXOR(F.col("t_a")) == 0
    )
    return rst.where(same).select("a", "b", "c").distinct()


def _gate_counts(
    sides: list[DataFrame],
    est_rows: list[int | None] | None,
    min_rows: int,
) -> list[int] | None:
    """Stats-first sizing for the adaptive sweep gate (round 12,
    r11 verdict item 3). ``est_rows`` carries each side's known
    UPPER-BOUND cardinality (catalog metadata: parquet footer counts /
    DDL 'cardinality'; filters and distinct projections only shrink a
    frame). When every bound is known and even the largest is below
    ``min_rows``, the sweep cannot fire — return None WITHOUT running
    the k blocking count() jobs that used to price this gate on every
    filtered cyclic bag. Only when a bound is missing or the inputs
    are genuinely large do we pay the exact counts (the selectivity
    test needs post-filter sizes, which no static bound gives)."""
    if (
        est_rows is not None
        and len(est_rows) == len(sides)
        and all(e is not None for e in est_rows)
        and max(est_rows) < min_rows
    ):
        return None
    return [s.count() for s in sides]


def cycle_semi_reduce(
    sides: list[DataFrame],
    min_rows: int = 2_000_000,
    selectivity: float = 0.25,
    est_rows: list[int | None] | None = None,
) -> list[DataFrame]:
    """Global (pre-shuffle) neighbor-consistency sweep for a k-cycle:
    one forward pass (E_i.x must appear in E_{i-1}.y, ring-closed) and
    one backward pass (E_i.y in E_{i+1}.x) of Spark left_semi joins —
    Yannakakis BEFORE the hypercube.

    Why this exists (round 11, measured at 10x sf0.1): the hypercube
    shuffles every edge cube_side^(k-2)-replicated regardless of how
    selective a pushed filter made ONE relation, and the in-cell
    reduction only prunes after that shuffle + Arrow conversion have
    been paid — the pentagon entry went SUPERLINEAR (alpha 1.71,
    198 s) at 6M edges because ~240M replicated rows hit pandas. The
    filter's reach decays with distance around the ring (adjacent
    relations shrink ~d x the filtered size, the middle saturates), so
    one forward + one backward pass captures the wins at 2k semi-join
    stages; key sets are DISTINCT projections, broadcast when small.

    ADAPTIVE: the gate sizes the sides stats-first (``est_rows``
    upper bounds via :func:`_gate_counts` — zero Spark jobs on the
    small path) and only counts when a bound is missing or large. The
    sweep only runs when the largest side reaches ``min_rows`` (below
    that the replicated shuffle is affordable and the sweep's fixed
    stage cost is a net loss — measured +14 s on the 600 k-edge sf0.1
    pentagon vs -140 s at 6 M) AND some side is under ``selectivity``
    x the largest (nothing selective to propagate otherwise). Passes
    chain OUTWARD from the smallest side (argmin anchor) so its
    selectivity reaches the far side of the ring in one pass each way;
    every reduced side is lazily localCheckpoint-ed — without lineage
    truncation the chained plan recomputes earlier semi-joins O(k^2)
    times (the 18 s-at-sf0.1 first cut).
    """
    k = len(sides)
    sides = list(sides)
    counts = _gate_counts(sides, est_rows, min_rows)
    if counts is None:
        return sides
    big = max(counts)
    if big < min_rows or min(counts) > selectivity * big:
        return sides
    anchor = counts.index(min(counts))

    def semi(i: int, col_idx: int, neighbor: DataFrame, n_idx: int) -> None:
        cols = sides[i].columns[:2]
        key_name = cols[col_idx]
        keys = neighbor.select(
            F.col(neighbor.columns[n_idx]).alias(key_name)
        ).distinct()
        # string-key join puts the key column first — re-select the
        # original (x, y) order so downstream columns[:2] reads stay
        # oriented (the silent edge-flip bug this comment guards)
        sides[i] = (
            sides[i]
            .join(keys, key_name, "left_semi")
            .select(*cols)
            .localCheckpoint(eager=False)
        )

    for step in range(1, k + 1):  # forward from the anchor, ring-closed
        i = (anchor + step) % k
        semi(i, 0, sides[(i - 1) % k], 1)
    for step in range(1, k + 1):  # backward from the anchor
        i = (anchor - step) % k
        semi(i, 1, sides[(i + 1) % k], 0)
    return sides


def pattern_semi_reduce(
    sides: list[DataFrame],
    edge_vars: list[tuple[str, str]],
    min_rows: int = 2_000_000,
    selectivity: float = 0.25,
    est_rows: list[int | None] | None = None,
) -> list[DataFrame]:
    """:func:`cycle_semi_reduce` generalized to ANY connected binary
    pattern (the pattern_join input shape): two passes over the edges
    in BFS-from-smallest order — each edge semi-joined, per shared
    variable, against the smallest already-visited neighbor — so a
    pushed filter's selectivity reaches every edge before the
    hypercube replication is paid. Same stats-first adaptive gate
    (:func:`_gate_counts`) and lazy localCheckpoint chaining as the
    cycle form (see its docstring for the measured rationale). Column
    names ARE the variable names in pattern_join's input contract, so
    key projections join by name.
    """
    n = len(sides)
    sides = list(sides)
    counts = _gate_counts(sides, est_rows, min_rows)
    if counts is None:
        return sides
    big = max(counts)
    if big < min_rows or min(counts) > selectivity * big:
        return sides

    # BFS order over the edge-adjacency (shared-variable) graph,
    # anchored at the smallest edge
    anchor = counts.index(min(counts))
    order = [anchor]
    seen = {anchor}
    frontier = [anchor]
    while frontier:
        nxt: list[int] = []
        for i in frontier:
            for j in range(n):
                if j not in seen and set(edge_vars[i]) & set(edge_vars[j]):
                    seen.add(j)
                    order.append(j)
                    nxt.append(j)
        frontier = nxt
    if len(order) < n:  # disconnected pattern — caller's problem
        return sides

    def reduce_edge(i: int, visited: list[int]) -> None:
        for v in edge_vars[i]:
            cands = [j for j in visited if v in edge_vars[j]]
            if not cands:
                continue
            j = min(cands, key=lambda j_: counts[j_])
            cols = sides[i].columns[:2]
            keys = sides[j].select(v).distinct()
            sides[i] = (
                sides[i]
                .join(keys, v, "left_semi")
                .select(*cols)
                .localCheckpoint(eager=False)
            )

    for idx in range(1, len(order)):
        reduce_edge(order[idx], order[:idx])
    rev = list(reversed(order))
    for idx in range(1, len(rev)):
        reduce_edge(rev[idx], rev[:idx])
    return sides


def _empty_cycle(k: int) -> pd.DataFrame:
    return pd.DataFrame(
        {f"x{i}": pd.Series(dtype="int64") for i in range(1, k + 1)}
    )


# ---------------------------------------------------------------------------
# numpy fast path for the per-cell kernels (round 17, guide §4.2: hand
# whole batches to vectorized native code). The r16 kernels did the
# path extensions and the closing-step verification through pandas
# ``merge``, which hashes the join keys and materializes a full
# DataFrame (index + block manager) at every step — profiled offline on
# one real-shape pentagon cell (~150 k edges/relation), the two
# extension merges plus the verify merge were >90% of kernel time. The
# same joins over int64 keys run 3-10x faster as sorted-array
# primitives: pack each edge (x, y) into ONE int64 key
# ((x-lo)*span + (y-lo)), np.unique the packed keys (dedup + (x, y)
# lexsort in one pass), expand adjacency lists with
# searchsorted + repeat + gather (CSR form), and verify candidate pairs
# with a searchsorted membership test instead of a merge. Falls back to
# the pandas kernels when span**2 would overflow int64 (arbitrary long
# ids) — node-id domains from real graphs pack comfortably.
# ---------------------------------------------------------------------------


def _np_member(sorted_vals: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """Vectorized membership of ``probe`` in ascending ``sorted_vals``."""
    pos = np.searchsorted(sorted_vals, probe)
    pos_c = np.minimum(pos, len(sorted_vals) - 1)
    return (pos < len(sorted_vals)) & (sorted_vals[pos_c] == probe)


def _np_cycle_from_arrs(
    arrs: dict[int, tuple[np.ndarray, np.ndarray]],
    k: int,
    reduce_edges: bool,
) -> list[np.ndarray] | None:
    """k-cycle kernel over per-relation (x, y) int64 arrays.

    Returns the k output columns (v1..vk, empty arrays for an empty
    result) or None when the id range cannot pack into int64 (caller
    falls back to the pandas kernel). Same result multiset as the
    pandas kernels: dedup per relation, optional ring-consistency
    fixpoint, path extension E_1..E_{k-2}, then the min-degree closing
    step for v_k verified against the other closing relation.
    """
    lo = min(int(min(x.min(), y.min())) for x, y in arrs.values())
    hi = max(int(max(x.max(), y.max())) for x, y in arrs.values())
    span_py = hi - lo + 1
    if span_py * span_py > 2**63 - 1:
        return None
    span = np.int64(span_py)
    lo64 = np.int64(lo)

    empty = [np.empty(0, dtype=np.int64) for _ in range(k)]
    # packed, deduped, (x, y)-sorted edges per relation
    E: list[np.ndarray] = []
    for i in range(k):
        x, y = arrs[i]
        E.append(np.unique((x - lo64) * span + (y - lo64)))

    ux: list = [None] * k  # cached sorted unique x (offsets)
    uy: list = [None] * k  # cached sorted unique y (offsets)

    def get_ux(i: int) -> np.ndarray:
        if ux[i] is None:
            # E[i] is sorted by (x, y) so x is non-decreasing already
            xi = E[i] // span
            keep = np.empty(len(xi), dtype=bool)
            keep[0] = True
            np.not_equal(xi[1:], xi[:-1], out=keep[1:])
            ux[i] = xi[keep]
        return ux[i]

    def get_uy(i: int) -> np.ndarray:
        if uy[i] is None:
            uy[i] = np.unique(E[i] % span)
        return uy[i]

    if reduce_edges:
        # pairwise-consistency fixpoint around the ring (<= k sweeps),
        # membership via cached sorted uniques instead of np.isin
        # (which re-sorts its argument on every call)
        for _ in range(k):
            changed = False
            for i in range(k):
                xi, yi = np.divmod(E[i], span)
                mask = _np_member(get_uy((i - 1) % k), xi) & _np_member(
                    get_ux((i + 1) % k), yi
                )
                if not mask.all():
                    E[i] = E[i][mask]
                    ux[i] = uy[i] = None
                    changed = True
                    if not len(E[i]):
                        return empty
            if not changed:
                break

    # ---- path extension: E_0 extended by E_1..E_{k-3} ----------------
    x0, y0 = np.divmod(E[0], span)
    cols: list[np.ndarray] = [x0, y0]  # v1, v2
    for i in range(1, k - 2):
        xi, yi = np.divmod(E[i], span)
        keys = get_ux(i)
        counts = np.diff(np.searchsorted(xi, keys, side="right"), prepend=0)
        starts = np.cumsum(counts) - counts
        v = cols[-1]  # v_{i+1}
        pos = np.searchsorted(keys, v)
        pos_c = np.minimum(pos, len(keys) - 1)
        valid = (pos < len(keys)) & (keys[pos_c] == v)
        if not valid.any():
            return empty
        cnt = counts[pos_c[valid]]
        st = starts[pos_c[valid]]
        total = int(cnt.sum())
        if total == 0:
            return empty
        row = np.repeat(np.nonzero(valid)[0], cnt)
        offs = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        cols = [c[row] for c in cols]
        cols.append(yi[np.repeat(st, cnt) + offs])

    # ---- closing step: v_k from the smaller of E_{k-2}'s forward and
    # E_{k-1}'s reverse adjacency, verified against the other ----------
    sx, sy = np.divmod(E[k - 2], span)  # sorted by (x, y)
    s_keys, s_starts, s_counts = np.unique(
        sx, return_index=True, return_counts=True
    )
    rev = np.unique((E[k - 1] % span) * span + (E[k - 1] // span))
    ty_r, tx_r = np.divmod(rev, span)  # sorted by (y, x)
    t_keys, t_starts, t_counts = np.unique(
        ty_r, return_index=True, return_counts=True
    )

    keep = _np_member(s_keys, cols[k - 2]) & _np_member(t_keys, cols[0])
    if not keep.any():
        return empty
    cols = [c[keep] for c in cols]
    pos_s = np.searchsorted(s_keys, cols[k - 2])
    pos_t = np.searchsorted(t_keys, cols[0])
    deg_s, deg_t = s_counts[pos_s], t_counts[pos_t]

    out_parts: list[list[np.ndarray]] = []
    for expand_s in (True, False):
        sel = (deg_s <= deg_t) if expand_s else (deg_s > deg_t)
        if not sel.any():
            continue
        if expand_s:
            starts, cnt, vals = s_starts[pos_s[sel]], deg_s[sel], sy
        else:
            starts, cnt, vals = t_starts[pos_t[sel]], deg_t[sel], tx_r
        total = int(cnt.sum())
        if total == 0:
            continue
        row = np.repeat(np.nonzero(sel)[0], cnt)
        offs = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        vk = vals[np.repeat(starts, cnt) + offs]
        part = [c[row] for c in cols]
        if expand_s:  # verify (v_k, v_1) ∈ E_{k-1}
            ok = _np_member(E[k - 1], vk * span + part[0])
        else:  # verify (v_{k-1}, v_k) ∈ E_{k-2}
            ok = _np_member(E[k - 2], part[k - 2] * span + vk)
        if not ok.any():
            continue
        part = [c[ok] for c in part]
        part.append(vk[ok])
        out_parts.append(part)
    if not out_parts:
        return empty
    merged = [
        np.concatenate([p[j] for p in out_parts]) for j in range(k)
    ]
    return [c + lo64 for c in merged]


def _cycle_in_cell(
    pdf: pd.DataFrame, k: int, reduce_edges: bool = True
) -> pd.DataFrame:
    """k-cycle kernel for one hypercube cell — numpy fast path (packed
    keys + CSR gather + searchsorted verify, see _np_cycle_from_arrs),
    pandas fallback for ids whose range cannot pack into int64."""
    xv = pdf["x"].to_numpy()
    yv = pdf["y"].to_numpy()
    if xv.dtype.kind in "iu" and yv.dtype.kind in "iu":
        rel = pdf["rel"].to_numpy()
        arrs: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for i in range(k):
            m = rel == i
            if not m.any():
                return _empty_cycle(k)
            arrs[i] = (
                xv[m].astype(np.int64, copy=False),
                yv[m].astype(np.int64, copy=False),
            )
        cols = _np_cycle_from_arrs(arrs, k, reduce_edges)
        if cols is not None:
            return pd.DataFrame(
                {f"x{i + 1}": cols[i] for i in range(k)}
            )
    return _cycle_in_cell_pandas(pdf, k, reduce_edges)


def _cycle_in_cell_pandas(
    pdf: pd.DataFrame, k: int, reduce_edges: bool = True
) -> pd.DataFrame:
    """Vectorized k-cycle kernel for one hypercube cell.

    pdf columns: rel (0..k-1), x, y — edge E_i(v_{i+1}, v_{i+2 mod k})
    stored as (x, y). E_1..E_{k-2} extend a path v1..v_{k-1} by hash
    joins (pandas merges — C-level); the LAST variable v_k is never
    materialized blindly: its candidates come from the SMALLER of
    E_{k-1}'s v_{k-1}-adjacency and E_k's reverse v_1-adjacency and are
    hash-verified against the other, so per surviving path the work is
    min(deg_{E_{k-1}}, deg_{E_k^-1}) — the closing step of a leapfrog —
    with no per-row Python.

    ``reduce_edges`` (round-5 verdict item 4): before any path
    extension, each E_i is semi-join reduced against its cycle
    neighbors to a bounded fixpoint (E_i.x must appear in E_{i-1}.y,
    E_i.y in E_{i+1}.x — sorted-array membership, no joins). This is
    the generic-join candidate intersection for the middle variables:
    every materialized partial path then extends only through vertices
    that continue one more hop in BOTH directions, so a dead-end edge
    never multiplies into the k≥5 path intermediate (for k=3/4 the
    closing step already sees every edge; the reduction is still
    applied — it only shrinks inputs). Measured on the mid-density C5:
    see scripts/exp_c5_reduce.py.
    """
    pdf = pdf.drop_duplicates(["rel", "x", "y"])
    arrs: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for i in range(k):
        e = pdf[pdf["rel"] == i]
        if not len(e):
            return _empty_cycle(k)
        arrs[i] = (e["x"].to_numpy(), e["y"].to_numpy())

    if reduce_edges:
        # pairwise-consistency fixpoint around the ring (<= k sweeps:
        # each sweep propagates emptiness/shrinkage one hop further)
        for _ in range(k):
            changed = False
            for i in range(k):
                xi, yi = arrs[i]
                prev_y = np.unique(arrs[(i - 1) % k][1])
                next_x = np.unique(arrs[(i + 1) % k][0])
                mask = np.isin(xi, prev_y) & np.isin(yi, next_x)
                if not mask.all():
                    arrs[i] = (xi[mask], yi[mask])
                    changed = True
                    if not len(arrs[i][0]):
                        return _empty_cycle(k)
            if not changed:
                break

    partial = pd.DataFrame({"x1": arrs[0][0], "x2": arrs[0][1]})
    for i in range(1, k - 2):
        nxt = pd.DataFrame(
            {f"x{i + 1}": arrs[i][0], f"x{i + 2}": arrs[i][1]}
        )
        partial = partial.merge(nxt, on=f"x{i + 1}", how="inner")
        if not len(partial):
            return _empty_cycle(k)

    # E_{k-1}(v_{k-1}, v_k), E_k(v_k, v_1)
    sx, sy = arrs[k - 2]
    tx, ty = arrs[k - 1]
    s_order = np.lexsort((sy, sx))
    sx, sy = sx[s_order], sy[s_order]
    s_keys, s_starts, s_counts = np.unique(sx, return_index=True, return_counts=True)
    t_order = np.lexsort((tx, ty))
    tx, ty = tx[t_order], ty[t_order]
    t_keys, t_starts, t_counts = np.unique(ty, return_index=True, return_counts=True)

    cols = {c: partial[c].to_numpy() for c in partial.columns}
    keep = np.isin(cols[f"x{k - 1}"], s_keys) & np.isin(cols["x1"], t_keys)
    if not keep.any():
        return _empty_cycle(k)
    cols = {c: v[keep] for c, v in cols.items()}
    pos_s = np.searchsorted(s_keys, cols[f"x{k - 1}"])
    pos_t = np.searchsorted(t_keys, cols["x1"])
    deg_s, deg_t = s_counts[pos_s], t_counts[pos_t]

    parts: list[pd.DataFrame] = []
    for expand_s in (True, False):
        sel = (deg_s <= deg_t) if expand_s else (deg_s > deg_t)
        if not sel.any():
            continue
        if expand_s:
            starts, counts, vals = s_starts[pos_s[sel]], deg_s[sel], sy
        else:
            starts, counts, vals = t_starts[pos_t[sel]], deg_t[sel], tx
        total = int(counts.sum())
        if total == 0:
            continue
        offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
        cand = pd.DataFrame(
            {c: np.repeat(v[sel], counts) for c, v in cols.items()}
        )
        cand[f"x{k}"] = vals[np.repeat(starts, counts) + offs]
        if expand_s:  # candidates from E_{k-1} — verify (v_k, v_1) ∈ E_k
            edges = pd.DataFrame({f"x{k}": tx, "x1": ty})
        else:  # candidates from E_k — verify (v_{k-1}, v_k) ∈ E_{k-1}
            edges = pd.DataFrame({f"x{k - 1}": sx, f"x{k}": sy})
        parts.append(cand.merge(edges, on=list(edges.columns), how="inner"))
    if not parts:
        return _empty_cycle(k)
    out = pd.concat(parts, ignore_index=True)
    return out[[f"x{i}" for i in range(1, k + 1)]].astype("int64")


def cycle_join(
    edges: list[DataFrame],
    cube_side: int | None = None,
    reduce_edges: bool = True,
    cube_shares: list[int] | None = None,
) -> DataFrame:
    """Worst-case-optimal-style k-cycle join
    Q(v1..vk) = E1(v1,v2) ⋈ E2(v2,v3) ⋈ ... ⋈ Ek(vk,v1), k ≥ 3 —
    the per-bag evaluator for k-ary cycle bags (round-4 verdict item
    6: the reference's lftj is triangle-only,
    SqlPlusCompiler.scala:155-168; this generalizes the same hypercube
    + per-cell kernel design to larger cycles instead of falling back
    to binary joins + dedup inside the bag).

    Inputs are 2-column DataFrames in cycle order (E_i's first column
    is v_i). Output columns are named x1..xk. Each tuple is hashed on
    its two variables' axes and replicated along the k-2 missing axes
    (Afrati/Ullman shares) — replication is cube_side^(k-2) per tuple,
    so cube_side defaults to ~parallelism^(1/k) and stays small.

    ``cube_shares`` (round 17): optional per-axis share list
    [p_0..p_{k-1}] overriding the symmetric cube — the general
    Afrati/Ullman shape. More total cells than cores gives the
    scheduler slack to pack cells whose IN-CELL work varies (the
    pentagon's per-cell kernel time spreads 2-4x on equal inputs —
    SCALING.md r17), at the cost of extra replication: relation i is
    replicated prod(shares)/(p_i * p_{i+1}) times.
    """
    k = len(edges)
    if k < 3:
        raise ValueError("cycle_join needs >= 3 edge relations")
    if cube_shares is not None:
        if len(cube_shares) != k or any(s < 1 for s in cube_shares):
            raise ValueError("cube_shares needs k positive entries")
        shares = list(cube_shares)
    else:
        if cube_side is None:
            par = edges[0].sparkSession.sparkContext.defaultParallelism
            cube_side = max(2, round(par ** (1.0 / k)))
        shares = [cube_side] * k
    n_cells = 1
    for s in shares:
        n_cells *= s

    parts: list[DataFrame] = []
    for i, df in enumerate(edges):
        x, y = df.columns[:2]
        d = df.select(
            F.lit(i).alias("rel"),
            F.col(x).cast("long").alias("x"),
            F.col(y).cast("long").alias("y"),
        )
        ax_x, ax_y = i, (i + 1) % k
        cid, _ = _cid_exploded(
            shares,
            {
                ax_x: F.pmod(F.hash(F.col("x")), F.lit(shares[ax_x])),
                ax_y: F.pmod(F.hash(F.col("y")), F.lit(shares[ax_y])),
            },
        )
        parts.append(d.select("rel", "x", "y", cid.alias("cid")))
    cells = parts[0]
    for d in parts[1:]:
        cells = cells.unionByName(d)
    cells = _cell_repartition(cells, ["cid"], n_cells)
    schema = ", ".join(f"x{i} long" for i in range(1, k + 1))
    return cells.groupBy("cid").applyInPandas(
        lambda pdf: _cycle_in_cell(pdf, k, reduce_edges), schema=schema
    )


def _plan_pattern(
    edge_vars: list[tuple[str, str]],
) -> tuple[int, list[int], list[tuple[str, int, list[int]]], list[str]]:
    """Greedy generic-join plan for a connected pattern of binary edges.

    Returns (first_edge, init_verify, steps, all_vars): bind
    first_edge's two variables, verify any parallel edges over the same
    pair, then bind one variable per step — most-covered (most edges
    into the bound set) first, each step naming its expansion edge and
    the sibling edges that verify the same new variable. Every edge is
    consumed exactly once; raises on a disconnected pattern.
    """
    n_edges = len(edge_vars)
    all_vars = sorted({v for uv in edge_vars for v in uv})
    inc: dict[str, list[int]] = {v: [] for v in all_vars}
    for ei, (u, v) in enumerate(edge_vars):
        if u == v:
            raise ValueError("pattern_join: self-loop edges unsupported")
        inc[u].append(ei)
        inc[v].append(ei)

    def other(ei: int, w: str) -> str:
        u, v = edge_vars[ei]
        return v if u == w else u

    # first edge: endpoints with the most incident edges (verifications
    # land as early as possible); deterministic tie-break by index
    e0 = max(
        range(n_edges),
        key=lambda ei: (len(inc[edge_vars[ei][0]]) + len(inc[edge_vars[ei][1]]), -ei),
    )
    bound = set(edge_vars[e0])
    used = {e0}
    init_verify = [
        ei
        for ei in range(n_edges)
        if ei != e0 and set(edge_vars[ei]) == set(edge_vars[e0])
    ]
    used.update(init_verify)

    steps: list[tuple[str, int, list[int]]] = []
    while len(bound) < len(all_vars):
        def cover(w: str) -> list[int]:
            return [ei for ei in inc[w] if ei not in used and other(ei, w) in bound]

        cands = [w for w in all_vars if w not in bound and cover(w)]
        if not cands:
            raise ValueError("pattern_join: disconnected pattern")
        w = max(cands, key=lambda c: (len(cover(c)), c))
        cov = cover(w)
        steps.append((w, cov[0], cov[1:]))
        used.update(cov)
        bound.add(w)
    if len(used) != n_edges:
        # unreachable for a connected pattern: cover() collects every
        # edge at its LATER endpoint's binding step, and edges over the
        # initial pair are either e0 or init_verify
        raise RuntimeError("pattern_join plan failed to consume all edges")
    return e0, init_verify, steps, all_vars


def _pattern_in_cell(
    pdf: pd.DataFrame,
    edge_vars: list[tuple[str, str]],
    e0: int,
    init_verify: list[int],
    steps: list[tuple[str, int, list[int]]],
    all_vars: list[str],
) -> pd.DataFrame:
    """Generic-join kernel for one hypercube cell of an arbitrary
    connected binary-edge pattern: semi-join reduce every edge against
    every other edge sharing a variable (bounded fixpoint), then bind
    variables in plan order — each new variable expands from ONE edge
    and is hash-verified against every sibling edge, so candidates are
    the intersection the NPRR generic join prescribes."""
    empty = pd.DataFrame({v: pd.Series(dtype="int64") for v in all_vars})
    pdf = pdf.drop_duplicates(["rel", "x", "y"])
    arrs: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for ei in range(len(edge_vars)):
        e = pdf[pdf["rel"] == ei]
        if not len(e):
            return empty
        arrs[ei] = (e["x"].to_numpy(), e["y"].to_numpy())

    occ: dict[str, list[tuple[int, int]]] = {}
    for ei, (u, v) in enumerate(edge_vars):
        occ.setdefault(u, []).append((ei, 0))
        occ.setdefault(v, []).append((ei, 1))
    for _ in range(len(edge_vars)):
        changed = False
        for ei, (u, v) in enumerate(edge_vars):
            xi, yi = arrs[ei]
            mask = np.ones(len(xi), dtype=bool)
            for var, vals in ((u, xi), (v, yi)):
                for ej, cj in occ[var]:
                    if ej == ei:
                        continue
                    mask &= np.isin(vals, np.unique(arrs[ej][cj]))
            if not mask.all():
                arrs[ei] = (xi[mask], yi[mask])
                changed = True
                if not len(arrs[ei][0]):
                    return empty
        if not changed:
            break

    def frame(ei: int) -> pd.DataFrame:
        u, v = edge_vars[ei]
        return pd.DataFrame({u: arrs[ei][0], v: arrs[ei][1]})

    partial = frame(e0)
    for ei in init_verify:
        partial = partial.merge(frame(ei), on=list(edge_vars[e0]))
        if not len(partial):
            return empty
    for w, expand, verify in steps:
        partial = partial.merge(frame(expand), on=other_var(edge_vars, expand, w))
        for ej in verify:
            partial = partial.merge(frame(ej), on=[other_var(edge_vars, ej, w), w])
        if not len(partial):
            return empty
    return partial[all_vars].astype("int64")


def other_var(edge_vars: list[tuple[str, str]], ei: int, w: str) -> str:
    u, v = edge_vars[ei]
    return v if u == w else u


def pattern_join(
    edges: list[DataFrame],
    edge_vars: list[tuple[str, str]],
    cube_side: int | None = None,
) -> DataFrame:
    """Worst-case-optimal-style join of an arbitrary CONNECTED pattern
    of binary relations — the general per-bag evaluator for GHD bags
    that are neither a triangle nor a pure cycle (round-5 verdict item
    5; e.g. a chorded C4, a K4 forced into one bag). Generalizes the
    cycle hypercube: one axis per VARIABLE, each tuple hashed
    on its two variables' axes and replicated along the rest, then each
    cell runs the generic-join kernel (semi-join reduction + expand/
    verify per variable). The reference's lftj asserts exactly-3
    TableScans (SqlPlusCompiler.scala:155-168); this is the step past
    both that restriction and the pure-cycle generalization.

    ``edges[i]`` is a 2-column DataFrame whose columns bind, in order,
    the two variable names in ``edge_vars[i]``. Output columns are the
    pattern's variables, sorted. Replication is cube_side^(n_vars - 2)
    per tuple, so cube_side defaults to ~parallelism^(1/n_vars).
    """
    if len(edges) != len(edge_vars):
        raise ValueError("edges and edge_vars must align")
    e0, init_verify, steps, all_vars = _plan_pattern(edge_vars)
    n = len(all_vars)
    if cube_side is None:
        par = edges[0].sparkSession.sparkContext.defaultParallelism
        cube_side = max(2, round(par ** (1.0 / n)))
    p = cube_side
    axis = {v: j for j, v in enumerate(all_vars)}

    parts: list[DataFrame] = []
    for ei, df in enumerate(edges):
        u, v = edge_vars[ei]
        xcol, ycol = df.columns[:2]
        d = df.select(
            F.lit(ei).alias("rel"),
            F.col(xcol).cast("long").alias("x"),
            F.col(ycol).cast("long").alias("y"),
        )
        cid, _ = _cid_exploded(
            [p] * n,
            {
                axis[u]: F.pmod(F.hash(F.col("x")), F.lit(p)),
                axis[v]: F.pmod(F.hash(F.col("y")), F.lit(p)),
            },
        )
        parts.append(d.select("rel", "x", "y", cid.alias("cid")))
    cells = parts[0]
    for d in parts[1:]:
        cells = cells.unionByName(d)
    cells = _cell_repartition(cells, ["cid"], p**n)
    schema = ", ".join(f"{v} long" for v in all_vars)
    return cells.groupBy("cid").applyInPandas(
        lambda pdf: _pattern_in_cell(pdf, edge_vars, e0, init_verify, steps, all_vars),
        schema=schema,
    )


def triangles_wcoj(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All directed triangles (a→b→c→a) of one edge table, as a set —
    the self-join special case of :func:`triangle_join` (two Catalyst
    hash joins and one DISTINCT)."""
    e = edges.select(src, dst)
    return triangle_join(e, e, e)
