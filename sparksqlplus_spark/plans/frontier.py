"""Bounded order-dominance folds for keyless multi-comparison
correlated subqueries.

A keyless conjunction of k = 2..5 order comparisons
(``EXISTS(i: i.c0 OP0 o.d0 AND ... AND i.c{k-1} OP o.d{k-1})`` over the
whole inner table, or the three-valued facts of a keyless
comparison-filtered NOT IN) reduces to a k-D dominance query against
the Pareto SKYLINE of the compared columns: a raw row satisfies every
comparison iff some skyline point does (weak dominance preserves
satisfaction for strict and non-strict ops alike). At k = 2 the
skyline is the 2-D staircase. ONE family serves every k:

  * ``global_skyline_points`` folds the GLOBAL skyline without a
    single-partition window: (1) a leading-dims pre-reduction with
    map-side combine, (2) a per-Arrow-batch skyline via
    ``mapInArrow`` (each batch's skyline is a superset reduction),
    (3) a bounded plan-time merge of the batch skylines on the
    driver — the same metadata-scale-collect class as the
    const-probe stats gates, capped at ``cap`` points (a real
    skyline is tiny unless the data is a deliberate anti-chain;
    above the cap the fold raises and ``mode='auto'`` rides the
    spark.sql fallback).
  * ``keyed_skyline_view`` builds one skyline per partition key (the
    per-y match view of NOT IN): a JVM window staircase at k = 2, an
    ``applyInArrow`` sweep at k = 3..5.
  * ``skyline_one_row_df`` inlines a folded skyline as a one-row
    ``array<struct<u0..u{k-1}>>`` column, probed JVM-side by
    ``expressions.SkyWitness``.

Supported dtypes: integral, date, timestamp, timestamp_ntz, decimal,
default-collation string, and float/double — float orders on a key
replicating Spark's double total order (NaN largest and self-equal,
-0.0 = 0.0) while storing original values for the JVM-side probe.
Non-default string collations raise and ride the fallback. All batch
stages are ARROW-native (round 14): pandas return paths mask NaN to
NULL, so mapInArrow/applyInArrow carry the values bit-exact.

The ``<>``-containing shapes (argmax, diagonal stats, U/V, prefix-
diagonal) have their own folds further down.

Reference parity note: the reference's TreeLikeArray (SURVEY R9/R12,
sqlplus-core TreeLikeArray) bounds its sorted dictionary by the
frontier's change points; this module is the same bound for the
keyless/global case.
"""

from __future__ import annotations

# Round 16 (the over-cap sibling of VERDICT r14 What's-wrong #1):
# every gate in this module — dtype limits, non-default collations,
# and the inline caps on the keyless folds' driver merges — fires on
# a statement the DIALECT supports (it parsed, validated, and
# planned; only the bounded fold declined at runtime). They raise
# RoutedToFallback, not plain UnsupportedSqlError, so Engine.sql's
# auto-mode rescue applies the non-full => DISTINCT contract to the
# spark.sql fallback run: pre-fix, an over-cap keyless 4-comparison
# skyline on anti-chain data returned the 300-row ANSI bag where the
# engine's own semantics (and mode='cqc', had the fold fit) say 5
# distinct rows. UnsupportedSqlError stays imported for isinstance
# compatibility notes; RoutedToFallback subclasses it, so callers
# that catch-and-replan and the pytest raise pins are unaffected.
from sparksqlplus_spark.parser.sql import (
    RoutedToFallback,
    UnsupportedSqlError,
)

# The merge cap of every keyless fold's plan-time collect: a real skyline or
# statistic is tiny unless the data is a deliberate anti-chain, and a
# fold above the cap raises into the spark.sql fallback.
KEYLESS_FRONTIER_CAP = 65536

_NEQ_ORDER_DTYPE_MSG = (
    "the order dims of <>-containing views support integral/date/"
    "timestamp/float/double columns only (got {dt})"
)


def functools_reduce_and(conds):
    import functools

    return functools.reduce(lambda a, b: a & b, conds)


def _sweep4_indexed(items):
    """Pure 4-D dominance scan (round 14 — extracted so every 4-D
    site shares ONE implementation and a brute-force oracle,
    tests/test_cqc_queries.py:test_sweep4_brute). ``items`` yields
    ``(idx, tail)`` with ``tail`` a length-3 int64 numpy array of the
    ORIENTED trailing coords, pre-sorted ascending by the oriented
    leading coord. Returns the kept idx list: every insertion-time
    non-dominated row.

    The output is NEVER re-filtered: a later point is weakly WORSE on
    the leading coord (ascending processing order), so it cannot
    dominate an earlier kept row in all four coords — the pre-round-14
    code pruned the output on the trailing coords alone and dropped
    genuine witnesses (e.g. oriented (0,3,3,4) pruned by (4,2,2,3)).
    Only the internal dominance structure prunes: a kept tail >= the
    new point's is covered by it for every future test. The result is
    a superset of the exact skyline — possibly retaining an equal-
    leading-coord row a later point dominates — which is exact for
    the F.exists witness probes all consumers run."""
    import numpy as np

    kept = None  # (0, len(tail)) once the first tail fixes the width
    keep: list = []
    for idx, p in items:
        if kept is None:
            kept = np.empty((0, p.shape[0]), dtype="int64")
        if kept.shape[0] and (kept <= p).all(axis=1).any():
            continue  # weakly dominated (leading coord <= by order)
        if kept.shape[0]:
            kept = kept[~(kept >= p).all(axis=1)]
        kept = np.vstack([kept, p])
        keep.append(idx)
    return keep


def _sweep4_tails(items):
    """Generic-comparable sibling of _sweep4_indexed for the driver-
    side 4-D merge: ``items`` yields ``(idx, tail)`` with ``tail`` a
    tuple of comparables (ints/dates, descending dims wrapped for
    reverse order), pre-sorted ascending by the oriented leading
    coord. Same never-filter-the-output contract (round 14 fix)."""
    kept_tails: list = []
    keep: list = []
    for idx, tail in items:
        if any(
            all(q <= p for q, p in zip(kt, tail))
            for kt in kept_tails
        ):
            continue
        kept_tails = [
            kt for kt in kept_tails
            if not all(q >= p for q, p in zip(kt, tail))
        ]
        kept_tails.append(tail)
        keep.append(idx)
    return keep


_SKY_DTYPE_MSG = (
    "k-D skyline folds support integral/date/timestamp/float/double/"
    "decimal/binary-collation-string columns only (got {dt})"
)


class _Rev:
    """Exact reverse-order wrapper for descending dims — native
    Python comparisons of the wrapped values (int/date/datetime/
    Decimal/str/float-order tuples), no numeric conversion that could
    collapse distinct values."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, o):
        return o.v < self.v

    def __le__(self, o):
        return o.v <= self.v

    def __gt__(self, o):
        return o.v > self.v

    def __ge__(self, o):
        return o.v >= self.v

    def __eq__(self, o):
        return o.v == self.v


def _sweep_indexed(triples):
    """triples: iterable of (idx, _, k1, k2) orientation keys
    ("smaller is better" — any comparables: ints on the fast path,
    native objects/_Rev on the object path), pre-sorted by the
    leading key; returns kept idx list (the 3-D bisect-staircase
    sweep shared by keyed_skyline_view and global_skyline_points)."""
    import bisect

    u1s: list = []
    u2s: list = []
    keep = []
    for idx, _, p1, p2 in triples:
        i = bisect.bisect_right(u1s, p1)
        if i > 0 and u2s[i - 1] <= p2:
            continue
        keep.append(idx)
        j = bisect.bisect_left(u1s, p1)
        k2 = j
        while k2 < len(u1s) and u2s[k2] >= p2:
            k2 += 1
        u1s[j:k2] = [p1]
        u2s[j:k2] = [p2]
    return keep


def _dim_kind(dt):
    """Classify a Spark dtype for the k-D skyline orientation keys
    (round 14 — the dtype-gate widening): 'i64' dims cast exactly to
    int64 (integral/date/timestamp/timestamp_ntz); 'f64' dims embed
    Spark's double total order into int64 via the IEEE-754 bit trick
    (see _arrow_key_i64); 'obj' dims (decimal, default-collation
    string — Arrow hands them to pandas as Python Decimal/str whose
    comparisons match Spark's exactly) push their whole group through
    the generic-comparable sweeps. None -> unsupported (non-default
    string collations), raise into the mode='auto' fallback."""
    from pyspark.sql import types as T

    if isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.DateType, T.TimestampType, T.TimestampNTZType),
    ):
        return "i64"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f64"
    if isinstance(dt, T.DecimalType):
        return "obj"
    if isinstance(dt, T.StringType) and repr(dt) in (
        "StringType()",  # default (UTF8_BINARY) collation only
        "StringType('UTF8_BINARY')",
    ):
        return "obj"
    return None


def _sky_kinds(schema, ucols):
    """Per-dim kind map for a skyline pre-reduction; raises into the
    fallback on any unsupported dim dtype. Returns (kinds, obj_path):
    one 'obj' dim pushes the whole group through the object sweep."""
    kinds = {}
    for f in schema.fields:
        if f.name in ucols:
            kd = _dim_kind(f.dataType)
            if kd is None:
                raise RoutedToFallback(
                    _SKY_DTYPE_MSG.format(dt=f.dataType)
                )
            kinds[f.name] = kd
    return kinds, any(kinds[u] == "obj" for u in ucols)


def _arrow_key_i64(col, kind, asc):
    """pyarrow column -> int64 numpy orientation keys ("smaller is
    better"). 'i64': a direct exact int64
    cast (timestamp/timestamp_ntz int64 casts only rescale the epoch
    unit — order-exact; date32 goes through int32). 'f64': the
    order-preserving IEEE-754 bit embedding of Spark's double total
    order — -0.0 normalized onto 0.0 first, negative-sign bit
    patterns complemented, every NaN (any payload/sign) mapped to
    int64 max so NaN sorts last and equals itself; float32 widens to
    float64 exactly. ``col`` is a pyarrow (Chunked)Array — the sweeps
    are ARROW-native end to end (round 14): the pandas return path of
    applyInPandas/mapInPandas masks NaN to NULL (pyarrow
    from_pandas), which corrupted float skylines."""
    import numpy as np
    import pyarrow as pa

    if kind == "f64":
        a = col.to_numpy(zero_copy_only=False).astype("float64")
        key = _f64_key_i64(a)
    else:
        if pa.types.is_date32(col.type):
            col = col.cast(pa.int32())
        key = col.cast(pa.int64()).to_numpy(zero_copy_only=False)
    return key if asc else -key


def _f64_key_i64(a):
    """float64 numpy array -> int64 keys replicating Spark's double
    total order (see _arrow_key_i64)."""
    import numpy as np

    a = a.copy()
    a[a == 0.0] = 0.0
    u = a.view(np.uint64)
    # total-order transform: negatives (sign bit set) flip ALL bits
    # (reversing their magnitude order below every positive);
    # non-negatives set the sign bit (shifting above every negative);
    # flipping the sign bit back reinterprets the monotone uint64 as
    # a monotone signed int64
    sign = np.uint64(1) << np.uint64(63)
    key_u = np.where((u & sign) != 0, ~u, u | sign)
    key = (key_u ^ sign).view(np.int64).copy()
    key[np.isnan(a)] = np.iinfo(np.int64).max
    return key


def _i64_key_f64(k):
    """Bit-exact inverse of _f64_key_i64 (round 15 — the keyed U/V
    sweeps reconstruct combined V coordinates in their original
    double type): int64 total-order keys -> float64. Every NaN
    collapsed to int64 max by the forward map re-materializes as the
    canonical NaN; -0.0 was normalized forward, so 0.0 comes back."""
    import numpy as np

    k = np.asarray(k, dtype=np.int64)
    sign = np.uint64(1) << np.uint64(63)
    key_u = k.view(np.uint64) ^ sign
    u = np.where((key_u & sign) != 0, key_u & ~sign, ~key_u)
    out = u.astype(np.uint64).view(np.float64).copy()
    out[k == np.iinfo(np.int64).max] = np.nan
    return out


def _unkey_arrow(keys, orient_sign, kind, arrow_type):
    """Rebuild ORIGINAL-typed arrow values from oriented int64 sweep
    keys (round 15 — the applyInArrow replacement for the pandas
    _unorient_series, which could not carry NaN): undo the descending
    negation, then invert the kind's key map ('f64' via _i64_key_f64,
    'i64' via the exact epoch/int cast chain)."""
    import numpy as np
    import pyarrow as pa

    k = np.asarray([x * orient_sign for x in keys], dtype="int64")
    if kind == "f64":
        vals = _i64_key_f64(k)
        return pa.array(vals, type=pa.float64()).cast(arrow_type)
    arr = pa.array(k, type=pa.int64())
    if pa.types.is_date32(arrow_type):
        return arr.cast(pa.int32()).cast(arrow_type)
    return arr.cast(arrow_type)


def _okey_py(v, kind, asc):
    """Single-value orientation key for the driver-side merge and the
    object-dtype sweeps: floats map onto Spark's double total order
    (NaN last and self-equal; Python already treats -0.0 == 0.0);
    every other kind compares natively (int, date, datetime, Decimal,
    str). Descending dims wrap in _Rev — exact reverse order, no
    numeric negation."""
    if kind == "f64":
        import math

        v = (1, 0.0) if math.isnan(v) else (0, v)
    return v if asc else _Rev(v)


def _sky_sweep_table(tbl, ucols, kinds, asc, k, obj_path):
    """Arrow-native skyline sweep over a pyarrow Table (round 14 —
    applyInArrow/mapInArrow preserve NaN where the pandas return path
    masks it to NULL): int64 orientation keys + the vectorized sweeps
    on the fast path, generic-comparable keys via _okey_py + the
    shared staircase/dominance scans when a decimal/string dim is
    present. Kept rows are selected positionally with ``take`` — the
    output carries the ORIGINAL arrow values, bit-exact. At k = 2 the
    fast path is a vectorized running minimum (the 2-D staircase) and
    the object path runs _sweep4_tails on 1-wide tails."""
    import numpy as np
    import pyarrow as pa

    if tbl.num_rows == 0:
        return tbl
    if obj_path:
        ks = [
            [
                _okey_py(v, kinds[u], a)
                for v in tbl.column(u).to_pylist()
            ]
            for u, a in zip(ucols, asc)
        ]
        pos = sorted(range(tbl.num_rows), key=lambda i: ks[0][i])
        if k == 3:
            keep = _sweep_indexed(
                (i, None, ks[1][i], ks[2][i]) for i in pos
            )
        else:
            keep = _sweep4_tails(
                (i, tuple(ks[j][i] for j in range(1, k)))
                for i in pos
            )
    else:
        ks = [
            _arrow_key_i64(tbl.column(u), kinds[u], a)
            for u, a in zip(ucols, asc)
        ]
        pos = np.argsort(ks[0], kind="stable")
        if k == 2:
            # the 2-D staircase: keep the rows that strictly improve
            # the running minimum of the oriented trailing key
            run = np.minimum.accumulate(ks[1][pos])
            mask = np.empty(len(run), dtype=bool)
            mask[0] = True
            mask[1:] = run[1:] < run[:-1]
            keep = pos[mask]
        elif k == 3:
            keep = _sweep_indexed(
                (int(i), None, ks[1][i], ks[2][i]) for i in pos
            )
        else:
            keep = _sweep4_indexed(
                (
                    int(i),
                    np.array(
                        [ks[j][i] for j in range(1, k)], dtype="int64"
                    ),
                )
                for i in pos
            )
    return tbl.take(pa.array(keep, type=pa.int64()))


def keyed_skyline_view(src, part_pairs, dims, ops, out):
    """Per-key Pareto SKYLINE view over k = 2..5 ``dims``: one row per
    part tuple with ``out = array<struct<u0..u{k-1}>>`` holding the
    weakly minimal points of ``dims`` under the orientation induced by
    ``ops`` (each op in < <= > >=; </<= orient "smaller is better").
    A raw row satisfying every ``u_i OP_i d_i`` exists iff some
    skyline point does (weak dominance preserves satisfaction for
    strict and non-strict ops alike), so an F.exists probe over the
    array is exact — the reference's TreeLikeArray argument.

    Build: (1) a (part, u0..u{k-2}) pre-reduction with map-side
    combine (best last dim per point — the only candidate a probe can
    use), (2) the per-part skyline, (3) a part-keyed collect_list. At
    k = 2 step (2) is a JVM window staircase partitioned by the part
    key (running best u1 in u0 order, keeping the rows where it
    changes) — measured as fast as the Arrow sweep on few groups and
    faster on many. At k = 3..5 it is an applyInArrow sweep per part
    (_sky_sweep_table: a bisect staircase at k = 3, a dominance scan
    over the kept trailing coords at k = 4..5, whose output is never
    re-filtered — see _sweep4_indexed). Never a single-partition
    window. The array holds the skyline, the minimal sufficient
    statistic — worst case (an anti-chain) equals the input's
    distinct leading-dims count, typical case is small. Rows with a
    NULL compared column are filtered (they cannot witness an order
    comparison).

    Supported dtypes: integral/date/timestamp/timestamp_ntz (exact
    int64 orientation keys), float/double (the IEEE-754 bit embedding
    of Spark's double total order — see _arrow_key_i64), and
    decimal/default-collation string (generic-comparable sweep on the
    Python objects Arrow hands over) — non-default string collations
    raise into the mode='auto' fallback."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    k = len(dims)
    # 6+ stays out: high-D skylines degenerate toward the whole
    # group, no effective reduction
    assert 2 <= k <= 5 and len(ops) == k
    ucols = [f"u{i}" for i in range(k)]
    asc = [op in ("<", "<=") for op in ops]
    bestl = F.min if asc[-1] else F.max
    names = [n for _, n in part_pairs]
    pre = (
        src.filter(
            functools_reduce_and(
                [F.col(c).isNotNull() for c in dims]
            )
        )
        .select(
            *[F.col(c).alias(n) for c, n in part_pairs],
            *[F.col(c).alias(u) for c, u in zip(dims, ucols)],
        )
        .groupBy(*names, *ucols[:-1])
        .agg(bestl(ucols[-1]).alias(ucols[-1]))
    )
    kinds, obj_path = _sky_kinds(pre.schema, ucols)  # the dtype gate
    if k == 2:
        order = F.col("u0").asc() if asc[0] else F.col("u0").desc()
        lw = Window.partitionBy(*names).orderBy(order)
        w = lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sky = pre.select(*names, "u0", bestl("u1").over(w).alias("u1"))
        sky = sky.withColumn("__pv", F.lag("u1").over(lw)).filter(
            F.col("__pv").isNull() | (F.col("u1") != F.col("__pv"))
        )
    else:
        def sweep(tbl):
            return _sky_sweep_table(tbl, ucols, kinds, asc, k, obj_path)

        sky = pre.groupBy(*names).applyInArrow(sweep, pre.schema)
    return sky.groupBy(*names).agg(
        F.collect_list(
            F.struct(
                *[F.col(u).alias(u) for u in ucols]
            )
        ).alias(out)
    )


def global_skyline_points(inner, dims, ops, cap):
    """Fold the GLOBAL Pareto skyline of k = 2..5 ``dims`` over
    ``inner`` (the keyless sibling of keyed_skyline_view; at k = 2 the
    2-D staircase): a leading-dims pre-reduction with map-side
    combine, a per-Arrow-batch skyline via ``mapInArrow`` (each
    batch's skyline is a superset reduction — unlike the
    pair-combination staircases, skylines merge), and a bounded
    driver-side merge re-running the sweep over the unioned batch
    skylines — the metadata-scale-collect class, capped at ``cap``
    points (the 4-D+ merge is a Python dominance scan, so its cap is
    tightened to 4096 to bound the worst-case driver work). Returns
    ``(points, types)`` tuples. Dtypes mirror keyed_skyline_view;
    non-default collations raise into the mode='auto' fallback, as
    does a skyline above the cap."""
    from pyspark.sql import functions as F

    k = len(dims)
    assert 2 <= k <= 5 and len(ops) == k
    if k >= 4:
        cap = min(cap, 4096)
    ucols = [f"u{i}" for i in range(k)]
    asc = [op in ("<", "<=") for op in ops]
    bestl = F.min if asc[-1] else F.max
    pre = (
        inner.filter(
            functools_reduce_and(
                [F.col(c).isNotNull() for c in dims]
            )
        )
        .select(
            *[F.col(c).alias(u) for c, u in zip(dims, ucols)],
        )
        .groupBy(*ucols[:-1])
        .agg(bestl(ucols[-1]).alias(ucols[-1]))
    )
    kinds, obj_path = _sky_kinds(pre.schema, ucols)

    def batch_skyline(it):
        import pyarrow as pa

        for b in it:
            tbl = pa.Table.from_batches([b])
            out = _sky_sweep_table(tbl, ucols, kinds, asc, k, obj_path)
            if out.num_rows:
                yield from out.to_batches()

    rows = pre.mapInArrow(batch_skyline, pre.schema).take(cap + 1)
    if len(rows) > cap:
        raise RoutedToFallback(
            f"keyless {k}-comparison skyline exceeds the "
            f"{cap}-point inline cap"
        )

    tagged = sorted(
        (
            tuple(
                _okey_py(r[u], kinds[u], a)
                for u, a in zip(ucols, asc)
            )
            + (i,)
            for i, r in enumerate(rows)
        )
    )
    if k == 3:
        keep = _sweep_indexed(
            (t[-1], t[0], t[1], t[2]) for t in tagged
        )
    else:
        # bounded generic dominance scan (1-wide tails at k = 2; cap
        # <= 4096 at k >= 4; output never re-filtered)
        keep = _sweep4_tails((t[-1], t[1:-1]) for t in tagged)
    pts = [tuple(rows[i][u] for u in ucols) for i in keep]
    return pts, tuple(f.dataType for f in pre.schema.fields)


def _neq_order2_sweep(rows):
    """Pure sweep for the ``a <> d1 AND b OP2 d2 AND c OP3 d3``
    witness statistic (round 13 latest — keyed <>+order+order
    triples). ``rows`` = (idx, a, ob, oc) with ob/oc ORIENTED ints
    ("smaller is better" per op; see keyed_neq_order2_view). Returns
    ``(u_keep, v_pts)``:

    * ``u_keep`` — indices of the region staircase U: sorted by ob,
      the rows where the running-best oc improves. A probe region
      R(d2, d3) (rows within both order comparisons) is nonempty iff
      some U point is within, and that point's ROW is in R — so its
      ``a`` annotation reads off R's unique a-class whenever R has
      only one (exactness via V below).
    * ``v_pts`` — oriented (ob, oc) points of the staircase V of
      PAIR-COMBINED points over row pairs with DISTINCT a: R contains
      two distinct-a rows iff some V point is within (the combined
      point (max ob, max oc) of a pair is within iff both members
      are, for strict and non-strict order ops alike). Minimal
      combined points are found in one pass: for each row s in ob
      order, the best distinct-a partner among earlier rows has
      oc = m1 (prefix-best) unless the prefix best is attained ONLY
      by s's own class, then m2 (best over other classes) — the
      argmin/runner-up maintenance of the keyless <>+order fold,
      incremental.
    """
    u_keep: list = []
    v_cand: list = []
    best = None
    m1 = None  # best oc in prefix
    a1: object = None  # its unique attaining class, or ... multi
    MULTI = object()
    m2 = None  # best oc among classes != a1 (when a1 single)
    for idx, a, ob, oc in rows:
        # U staircase
        if best is None or oc < best:
            best = oc
            u_keep.append(idx)
        # V candidate for s = this row (prefix excludes it)
        if m1 is not None:
            mc = m1 if (a1 is MULTI or a1 != a) else m2
            if mc is not None:
                v_cand.append((ob, mc if mc > oc else oc))
        # prefix stats update
        if m1 is None or oc < m1:
            if m1 is not None and a1 is not MULTI and a1 != a:
                m2 = m1
            m1, a1 = oc, a
        elif oc == m1 and a1 is not MULTI and a1 != a:
            m2 = m1
            a1 = MULTI
        elif a1 is not MULTI and a1 != a and (m2 is None or oc < m2):
            m2 = oc
    # staircase-reduce the V candidates (already in ob order)
    v_pts: list = []
    vbest = None
    for ob, oc in v_cand:
        if vbest is None or oc < vbest:
            vbest = oc
            v_pts.append((ob, oc))
    return u_keep, v_pts


def _neq2_order_sweep(rows):
    """Pure sweep for the ``a <> d1 AND b <> d2 AND c OP3 d3`` witness
    statistic (round 13 latest — keyed <>+<>+order triples). ``rows``
    = (a, b, oc) sorted by oc ascending (oc ORIENTED so the region
    rows-with-c-within GROWS along the sweep). Emits one entry per
    change point: ``(oc, da, db, ua, ub, f1, f2)`` — the prefix's
    distinct counts, its unique a/b (first-seen; only consulted when
    the count is 1), and the current FAILING (d1, d2) points (None
    padded). Exactness: once da >= 2 and db >= 2, the no-witness set
    is at most the diagonal pair's two cross points (the
    diagonal-witness lemma, api._keyless_neq_pair_fold), computed
    once over that prefix (O(prefix)) and from then on only FILTERED
    by each new row (a
    point keeps failing iff the row matches its a or its b) — O(1)
    amortized, never recomputed."""
    entries: list = []
    seen_a: dict = {}
    seen_b: dict = {}
    prefix: list = []
    fails = None  # None = single-a/b regime; else list of (x, y)
    prev = None
    last_oc = None

    def snapshot(oc):
        da, db = len(seen_a), len(seen_b)
        ua = next(iter(seen_a)) if da == 1 else None
        ub = next(iter(seen_b)) if db == 1 else None
        f1 = fails[0] if fails else None
        f2 = fails[1] if fails and len(fails) > 1 else None
        return (oc, da, db, ua, ub, f1, f2)

    def init_fails():
        # first prefix with da >= 2 and db >= 2: find a diagonal pair
        # (p, q) with p.a != q.a and p.b != q.b, then verify its two
        # cross points — the only candidates that can fail
        r0 = prefix[0]
        s = next((r for r in prefix if r[0] != r0[0]), None)
        t = next((r for r in prefix if r[1] != r0[1]), None)
        if s is not None and s[1] != r0[1]:
            p, q = r0, s
        elif t is not None and t[0] != r0[0]:
            p, q = r0, t
        else:
            p, q = s, t  # s.a != r0.a = t.a, t.b != r0.b = s.b
        out = []
        for x, y in ((p[0], q[1]), (q[0], p[1])):
            if all(r[0] == x or r[1] == y for r in prefix):
                out.append((x, y))
        return out

    def flush(oc):
        nonlocal prev
        snap = snapshot(oc)
        if prev is None or snap[1:] != prev[1:]:
            entries.append(snap)
        prev = snap

    for a, b, oc in rows:
        if last_oc is not None and oc != last_oc:
            flush(last_oc)
        last_oc = oc
        prefix.append((a, b))
        seen_a[a] = True
        seen_b[b] = True
        if fails is None:
            if len(seen_a) >= 2 and len(seen_b) >= 2:
                fails = init_fails()
        else:
            fails = [f for f in fails if a == f[0] or b == f[1]]
    if last_oc is not None:
        flush(last_oc)
    return entries


def keyed_neq_order2_view(src, part_pairs, a_col, b_col, c_col, ops,
                          out_u, out_v):
    """Per-key U/V statistic view for ``a <> d1 AND b OP2 d2 AND
    c OP3 d3`` witness probes (round 13 latest): one row per part with
    ``out_u = array<struct<u, v, a>>`` (the region staircase, each
    point annotated with an attaining row's a) and ``out_v =
    array<struct<u, v>>`` (the distinct-a pair-combination staircase).
    The witness for (d1, d2, d3) is then pure JVM-side logic
    (neq_triple_witness_col): a V point within -> >= 2 distinct a in
    the region -> witness iff d1 non-NULL; else a U point within
    reads the region's unique a -> witness iff it differs from d1.

    Build: rows with NULL a/b/c filtered (they can never witness),
    ONE applyInPandas sweep per part (O(n log n) sort + linear sweep,
    Arrow-batched) emitting flat tagged points, then a part-keyed
    two-collect aggregate — two part-key exchanges, one row per part,
    flag joins broadcast-able. Dtypes (round 15): b/c integral/date/
    timestamp/float/double (exact or IEEE-754 total-order int64
    orientation keys; the sweep is applyInArrow so floats round-trip
    bit-exact); ``a`` may be any equality-comparable type (only
    ==/!= is used on it; floats arrive pre-embedded via neq_canon)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    asc2 = ops[0] in ("<", "<=")
    asc3 = ops[1] in ("<", "<=")
    names = [n for _, n in part_pairs]
    pre = src.filter(
        F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
        & F.col(c_col).isNotNull()
    ).select(
        *[F.col(c).alias(n) for c, n in part_pairs],
        F.col(a_col).alias("__a"),
        F.col(b_col).alias("__u"),
        F.col(c_col).alias("__v"),
    )
    # round 15 (second pass): float/double ORDER dims join the view —
    # the sweep now runs applyInArrow on the IEEE-754 total-order
    # keys (the pandas path masked NaN to NULL on return, the reason
    # the r14 gate existed), and the combined V coordinates rebuild
    # bit-exact via the inverse key map (_unkey_arrow)
    kind_u = _dim_kind(pre.schema["__u"].dataType)
    kind_v = _dim_kind(pre.schema["__v"].dataType)
    for n, kk in (("__u", kind_u), ("__v", kind_v)):
        if kk not in ("i64", "f64"):
            raise RoutedToFallback(
                _NEQ_ORDER_DTYPE_MSG.format(dt=pre.schema[n].dataType)
            )
    _gate_neq_class_dtype(pre.schema["__a"].dataType)
    out_schema = T.StructType(
        [f for f in pre.schema.fields]
        + [T.StructField("__kind", T.IntegerType(), False)]
    )

    # V points carry combined coordinates that may not correspond to
    # any single row, so the sweep can't emit them as row subsets —
    # rebuild original-typed values from the oriented keys instead.
    sign2 = 1 if asc2 else -1
    sign3 = 1 if asc3 else -1

    def sweep_flat(tbl):
        import numpy as np
        import pyarrow as pa

        n_rows = tbl.num_rows
        kind_col = pa.array([0] * n_rows, type=pa.int32())
        if n_rows == 0:
            return tbl.append_column("__kind", kind_col)
        ob = _arrow_key_i64(tbl.column("__u"), kind_u, asc2)
        oc = _arrow_key_i64(tbl.column("__v"), kind_v, asc3)
        a_vals = tbl.column("__a").to_pylist()
        order = np.argsort(ob, kind="stable")
        rows = [
            (int(i), a_vals[i], int(ob[i]), int(oc[i])) for i in order
        ]
        u_keep, v_pts = _neq_order2_sweep(rows)
        u_part = tbl.take(pa.array(u_keep, type=pa.int64()))
        u_part = u_part.append_column(
            "__kind", pa.array([0] * len(u_keep), type=pa.int32())
        )
        if not v_pts:
            return u_part
        m = len(v_pts)
        first = pa.array([0] * m, type=pa.int64())
        v_cols = [tbl.column(n).take(first) for n in names]
        v_cols.append(pa.nulls(m, type=tbl.schema.field("__a").type))
        v_cols.append(
            _unkey_arrow(
                [p[0] for p in v_pts], sign2, kind_u,
                tbl.schema.field("__u").type,
            )
        )
        v_cols.append(
            _unkey_arrow(
                [p[1] for p in v_pts], sign3, kind_v,
                tbl.schema.field("__v").type,
            )
        )
        v_cols.append(pa.array([1] * m, type=pa.int32()))
        v_part = pa.Table.from_arrays(
            v_cols, schema=u_part.schema
        )
        return pa.concat_tables([u_part, v_part])

    pts = pre.groupBy(*names).applyInArrow(sweep_flat, out_schema)
    return pts.groupBy(*names).agg(
        F.collect_list(
            F.when(
                F.col("__kind") == 0,
                F.struct(
                    F.col("__u").alias("u"),
                    F.col("__v").alias("v"),
                    F.col("__a").alias("a"),
                ),
            )
        ).alias(out_u),
        F.collect_list(
            F.when(
                F.col("__kind") == 1,
                F.struct(
                    F.col("__u").alias("u"), F.col("__v").alias("v")
                ),
            )
        ).alias(out_v),
    )


def keyed_neq2_order_view(src, part_pairs, a_col, b_col, c_col, op3,
                          out):
    """Per-key statistic view for ``a <> d1 AND b <> d2 AND c OP3
    d3`` witness probes (round 13 latest): one row per part with
    ``out = array<struct<ord, c, da, db, ua, ub, f1a, f1b, f2a,
    f2b>>`` — the prefix diagonal statistics at every change point of
    the region rows-with-c-within as it grows along OP3's
    orientation (see _neq2_order_sweep; ord is the oriented sort key,
    the array is array_sort'ed on it so the probe's last-within
    lookup is positional). Rows with NULL a/b/c filtered; ONE
    applyInArrow sweep per part + a part-keyed sorted collect — two
    part-key exchanges, one row per part. ``c`` integral/date/
    timestamp/float/double (round 15 — Arrow-native orientation
    keys); a/b may be any equality-comparable type (floats arrive
    pre-embedded via neq_canon)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    asc3 = op3 in ("<", "<=")
    names = [n for _, n in part_pairs]
    pre = src.filter(
        F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
        & F.col(c_col).isNotNull()
    ).select(
        *[F.col(c).alias(n) for c, n in part_pairs],
        F.col(a_col).alias("__a"),
        F.col(b_col).alias("__b"),
        F.col(c_col).alias("__c"),
    )
    # round 15 (second pass): float/double ORDER dim joins the view —
    # applyInArrow on the IEEE-754 total-order keys (see
    # keyed_neq_order2_view); each entry's original c is recovered by
    # row index, so no value ever rides a pandas return path
    kind_c = _dim_kind(pre.schema["__c"].dataType)
    if kind_c not in ("i64", "f64"):
        raise RoutedToFallback(
            _NEQ_ORDER_DTYPE_MSG.format(dt=pre.schema["__c"].dataType)
        )
    _gate_neq_class_dtype(pre.schema["__a"].dataType)
    _gate_neq_class_dtype(pre.schema["__b"].dataType)
    a_dt = pre.schema["__a"].dataType
    b_dt = pre.schema["__b"].dataType
    c_dt = pre.schema["__c"].dataType
    out_schema = T.StructType(
        [f for f in pre.schema.fields if f.name not in ("__a", "__b")]
        + [
            T.StructField("__ord", T.LongType(), False),
            T.StructField("__da", T.LongType(), False),
            T.StructField("__db", T.LongType(), False),
            T.StructField("__ua", a_dt),
            T.StructField("__ub", b_dt),
            T.StructField("__f1a", a_dt),
            T.StructField("__f1b", b_dt),
            T.StructField("__f2a", a_dt),
            T.StructField("__f2b", b_dt),
        ]
    )

    def sweep(tbl):
        import numpy as np
        import pyarrow as pa

        a_type = tbl.schema.field("__a").type
        b_type = tbl.schema.field("__b").type
        if tbl.num_rows == 0:
            base = tbl.drop_columns(["__a", "__b"])
            for cn, ct in (
                ("__ord", pa.int64()), ("__da", pa.int64()),
                ("__db", pa.int64()), ("__ua", a_type),
                ("__ub", b_type), ("__f1a", a_type), ("__f1b", b_type),
                ("__f2a", a_type), ("__f2b", b_type),
            ):
                base = base.append_column(cn, pa.array([], type=ct))
            return base
        oc = _arrow_key_i64(tbl.column("__c"), kind_c, asc3)
        a_vals = tbl.column("__a").to_pylist()
        b_vals = tbl.column("__b").to_pylist()
        order = np.argsort(oc, kind="stable")
        rows = [
            (a_vals[i], b_vals[i], int(oc[i])) for i in order
        ]
        entries = _neq2_order_sweep(rows)
        # recover an original c value per oriented change point BY ROW
        # INDEX (take keeps the arrow value bit-exact — floats incl.
        # NaN never leave arrow)
        c_idx = {int(oc[i]): i for i in range(tbl.num_rows)}
        m = len(entries)
        first = pa.array([0] * m, type=pa.int64())
        cols = [tbl.column(n).take(first) for n in names]
        cols.append(
            tbl.column("__c").take(
                pa.array([c_idx[e[0]] for e in entries], type=pa.int64())
            )
        )
        cols.append(pa.array([e[0] for e in entries], type=pa.int64()))
        cols.append(pa.array([e[1] for e in entries], type=pa.int64()))
        cols.append(pa.array([e[2] for e in entries], type=pa.int64()))
        cols.append(pa.array([e[3] for e in entries], type=a_type))
        cols.append(pa.array([e[4] for e in entries], type=b_type))
        cols.append(
            pa.array(
                [e[5][0] if e[5] else None for e in entries], type=a_type
            )
        )
        cols.append(
            pa.array(
                [e[5][1] if e[5] else None for e in entries], type=b_type
            )
        )
        cols.append(
            pa.array(
                [e[6][0] if e[6] else None for e in entries], type=a_type
            )
        )
        cols.append(
            pa.array(
                [e[6][1] if e[6] else None for e in entries], type=b_type
            )
        )
        return pa.Table.from_arrays(
            cols, names=[f.name for f in out_schema.fields]
        )

    pts = pre.groupBy(*names).applyInArrow(sweep, out_schema)
    return pts.groupBy(*names).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__ord").alias("ord"),
                    F.col("__c").alias("c"),
                    F.col("__da").alias("da"),
                    F.col("__db").alias("db"),
                    F.col("__ua").alias("ua"),
                    F.col("__ub").alias("ub"),
                    F.col("__f1a").alias("f1a"),
                    F.col("__f1b").alias("f1b"),
                    F.col("__f2a").alias("f2a"),
                    F.col("__f2b").alias("f2b"),
                )
            )
        ).alias(out)
    )


def global_neq_order2_points(inner, a_col, b_col, c_col, ops, cap):
    """KEYLESS ``a <> d1 AND b OP2 d2 AND c OP3 d3`` witness fold
    (round 14 — the keyless sibling of keyed_neq_order2_view, closing
    a standing fallback cell squarely in the regime where native wins:
    Catalyst nested-loops keyless inequality correlation, measured 33x
    slower at 10x in the r14 A/B). Build: a (a, b) -> best-c
    pre-reduction with map-side combine (keeping the best oriented c
    per (a, b) preserves region membership per class, hence every
    U/V fact), a capped ``take``, and the SAME pure sweep the keyed
    applyInPandas runs (_neq_order2_sweep) on the driver — the
    metadata-scale-collect class. Returns ``(u_rows, v_pts, (a_dt,
    b_dt, c_dt))`` with raw-valued tuples ready for
    neq_triple_one_row_df; probes reuse expressions.NeqTripleWitness
    unchanged.

    Dtypes (round 15): b/c integral/date/timestamp/timestamp_ntz/
    float/double (generic comparable keys — _Rev for descending dims,
    (nan_flag, value) tuples for floats — since the pure sweep is
    comparison-only); a any equality-comparable type (floats arrive
    pre-embedded via neq_canon)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    op2, op3 = ops
    asc2 = op2 in ("<", "<=")
    asc3 = op3 in ("<", "<=")
    bestc = F.min if asc3 else F.max
    pre = (
        inner.filter(
            F.col(a_col).isNotNull()
            & F.col(b_col).isNotNull()
            & F.col(c_col).isNotNull()
        )
        .select(
            F.col(a_col).alias("__a"),
            F.col(b_col).alias("__u"),
            F.col(c_col).alias("__v"),
        )
        .groupBy("__a", "__u")
        .agg(bestc("__v").alias("__v"))
    )
    # round 15 (second pass): float/double order dims join the fold —
    # the Arrow batch stage and the driver sweep both run on the
    # IEEE-754 total-order keys ('f64' kind), and the combined V
    # coords un-embed back to bit-exact doubles before reinjection
    kind2 = _dim_kind(pre.schema["__u"].dataType)
    kind3 = _dim_kind(pre.schema["__v"].dataType)
    for f, kk in (("__u", kind2), ("__v", kind3)):
        if kk not in ("i64", "f64"):
            raise RoutedToFallback(
                "keyless <>-triple folds support integral/date/"
                "timestamp/float/double order dims only "
                f"(got {pre.schema[f].dataType})"
            )
    _gate_neq_class_dtype(pre.schema["__a"].dataType)

    def batch_reduce(it):
        # per-class 2-D staircase reduction per Arrow batch (round 14
        # late): the U/V facts only need each class's Pareto frontier
        # of (u, v) — region membership per class is preserved, so
        # pair existence and annotations are too. This keeps the
        # capped take bounded by the summed per-class frontiers, not
        # the distinct (a, u) count.
        from collections import defaultdict

        import pyarrow as pa

        for b in it:
            tbl = pa.Table.from_batches([b])
            if tbl.num_rows == 0:
                continue
            a_vals = tbl.column("__a").to_pylist()
            ou = _arrow_key_i64(tbl.column("__u"), kind2, asc2)
            ov = _arrow_key_i64(tbl.column("__v"), kind3, asc3)
            groups = defaultdict(list)
            for i, av in enumerate(a_vals):
                groups[av].append(i)
            keep: list = []
            for idxs in groups.values():
                idxs.sort(key=lambda i: ou[i])
                best = None
                for i in idxs:
                    if best is None or ov[i] < best:
                        best = ov[i]
                        keep.append(i)
            keep.sort()
            yield from tbl.take(
                pa.array(keep, type=pa.int64())
            ).to_batches()

    rows = pre.mapInArrow(batch_reduce, pre.schema).take(cap + 1)
    if len(rows) > cap:
        raise RoutedToFallback(
            f"keyless <>-triple fold exceeds the {cap}-row inline cap"
        )
    # driver sweep on generic comparable keys (_Rev for descending
    # dims — the pure sweep is comparison-only), so date/timestamp
    # dims need no numeric plumbing; _Rev-wrapped combined V coords
    # unwrap back to original values
    srt = sorted(
        (
            (
                i,
                r["__a"],
                _okey_py(r["__u"], kind2, asc2),
                _okey_py(r["__v"], kind3, asc3),
            )
            for i, r in enumerate(rows)
        ),
        key=lambda t: t[2],
    )
    u_keep, v_pts = _neq_order2_sweep(srt)
    u_rows = [
        (rows[i]["__u"], rows[i]["__v"], rows[i]["__a"]) for i in u_keep
    ]

    def unwrap(k, kk):
        k = k.v if isinstance(k, _Rev) else k
        if kk == "f64":
            # _okey_py's float key is (nan_flag, value) — value keeps
            # the original double bit-exact (NaN re-materializes)
            return float("nan") if k[0] == 1 else k[1]
        return k

    v_raw = [(unwrap(u, kind2), unwrap(v, kind3)) for u, v in v_pts]
    return (
        u_rows,
        v_raw,
        (
            pre.schema["__a"].dataType,
            pre.schema["__u"].dataType,
            pre.schema["__v"].dataType,
        ),
    )


def neq_dim_is_float(*dts) -> bool:
    """True when a <>-dim needs the canonical embedding: its INNER
    column is float/double (only inner-inner equality drives the class
    bookkeeping; an exact inner dim with a float probe is already
    correct — the probe comparison happens JVM-side with Spark's own
    widening)."""
    from pyspark.sql import types as T

    return any(isinstance(dt, (T.FloatType, T.DoubleType)) for dt in dts)


def neq_canon(col):
    """Spark-side canonical embedding of a float/double <>-dim (round
    15, closing the r14 float gate): ``CAST(CAST(col AS DOUBLE) + 0.0
    AS STRING)``. Equality is the ONLY operation the machinery applies
    to a <>-dim, so any injective map works; this one is JVM-native
    (no UDF), and the string image equality-matches Spark's double
    =/<> exactly: float widens to double losslessly, ``+ 0.0``
    normalizes -0.0 to 0.0 (Spark treats them equal), every NaN
    renders as the single string 'NaN' (Spark treats NaN self-equal),
    and NULL passes through. Strings also round-trip the pandas/Arrow
    class bookkeeping without the NaN->NULL masking that motivated the
    r14 gate. Callers apply it to BOTH the inner dim column and the
    outer probe expression whenever neq_dim_is_float(inner_dt)."""
    from pyspark.sql import functions as F

    return (col.cast("double") + F.lit(0.0)).cast("string")


def canon_float_neq_dims(inner, dims):
    """Float <>-dim canonicalization for the <>-statistic folds and
    views: for each ``(inner column, outer Expr)`` pair whose INNER
    dtype is float/double, append a neq_canon helper column to
    ``inner`` and embed the outer Expr identically
    (expressions.neq_canon_expr), so the class bookkeeping downstream
    never sees a raw float. Exact dims pass through untouched (an
    exact inner dim with a float probe is already correct — see
    neq_dim_is_float). Returns ``(inner, [(column, Expr), ...])`` with
    the canonicalized names and Exprs substituted in order."""
    from pyspark.sql import functions as F

    from sparksqlplus_spark.expressions import neq_canon_expr

    out = []
    for i, (col, outer) in enumerate(dims):
        if neq_dim_is_float(inner.schema[col].dataType):
            nc = f"__cn_neq{i}"
            inner = inner.withColumn(nc, neq_canon(F.col(col)))
            out.append((nc, neq_canon_expr(outer)))
        else:
            out.append((col, outer))
    return inner, out


def _gate_neq_class_dtype(dt):
    """<>-dim dtype gate for the <>-statistic views and folds: the
    CLASS bookkeeping compares values in Python/pandas (binary
    equality), so a dim whose Spark equality differs from binary
    equality must not reach it raw. Round 14 gated float/double (NaN
    self-equality + -0.0 diverge); round 15 closes that cell — every
    caller now pre-embeds float dims via neq_canon, so a float
    arriving HERE means a caller missed the embedding: the raise is a
    correctness backstop that rides the fallback under mode='auto'
    (and surfaces as a typed decline to the cqc/naive re-plans, where
    no fallback exists) instead of silently splitting NaN classes.
    Non-default string collations remain genuinely gated (pandas
    compares code points; ICU collations equate differing byte
    strings)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.FloatType, T.DoubleType)):
        raise RoutedToFallback(
            "<>-statistic folds require float/double <>-dims to be "
            "pre-embedded via neq_canon (caller missed the round-15 "
            "canonicalization)"
        )
    if isinstance(dt, T.StringType) and not dt.isUTF8BinaryCollation():
        raise RoutedToFallback(
            f"<>-statistic folds do not support non-default string "
            f"collations (got {dt.collation}; the class bookkeeping "
            "compares code points)"
        )


def neq_triple_one_row_df(spark, u_rows, v_pts, a_dt, u_dt, v_dt):
    """One-row DataFrame carrying a folded keyless <>-triple
    statistic: ``__upts: array<struct<u,v,a>>`` (annotated region
    staircase) + ``__vpts: array<struct<u,v>>`` (distinct-a
    pair-combination staircase) — the same field layout
    keyed_neq_order2_view collects, so NeqTripleWitness probes both
    identically. Empty arrays = empty population (witness FALSE)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "__upts",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("u", u_dt),
                            T.StructField("v", v_dt),
                            T.StructField("a", a_dt),
                        ]
                    )
                ),
                False,
            ),
            T.StructField(
                "__vpts",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("u", u_dt),
                            T.StructField("v", v_dt),
                        ]
                    )
                ),
                False,
            ),
        ]
    )
    return spark.createDataFrame([(u_rows, v_pts)], schema)


def global_neq2_order_entries(inner, a_col, b_col, c_col, op3, cap):
    """KEYLESS ``a <> d1 AND b <> d2 AND c OP3 d3`` witness fold
    (round 14 — the keyless sibling of keyed_neq2_order_view; same
    motivation as global_neq_order2_points). Build: an (a, b) ->
    best-c pre-reduction (region membership of a PAIR is decided by
    its best oriented c, and every prefix stat is a function of the
    set of distinct (a, b) pairs within), a capped ``take``, and the
    SAME pure sweep the keyed path runs (_neq2_order_sweep) on the
    driver. Returns ``(entries, (a_dt, b_dt, c_dt))`` where entries
    are raw-valued (ord, c, da, db, ua, ub, f1a, f1b, f2a, f2b)
    tuples, ord-ascending — the layout neq2_order_witness_col probes.

    Dtypes (round 15): c integral/date/timestamp/timestamp_ntz/
    float/double (generic comparable driver keys); a/b any
    equality-comparable type (floats arrive pre-embedded via
    neq_canon)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    asc3 = op3 in ("<", "<=")
    bestc = F.min if asc3 else F.max
    pre = (
        inner.filter(
            F.col(a_col).isNotNull()
            & F.col(b_col).isNotNull()
            & F.col(c_col).isNotNull()
        )
        .select(
            F.col(a_col).alias("__a"),
            F.col(b_col).alias("__b"),
            F.col(c_col).alias("__c"),
        )
        .groupBy("__a", "__b")
        .agg(bestc("__c").alias("__c"))
    )
    # round 15 (second pass): float/double order dim joins the fold
    # (the driver sweep runs on _okey_py's (nan_flag, value) keys,
    # whose comparisons match Spark's double total order)
    kind3 = _dim_kind(pre.schema["__c"].dataType)
    if kind3 not in ("i64", "f64"):
        raise RoutedToFallback(
            "keyless <>-triple folds support integral/date/timestamp/"
            f"float/double order dims only "
            f"(got {pre.schema['__c'].dataType})"
        )
    _gate_neq_class_dtype(pre.schema["__a"].dataType)
    _gate_neq_class_dtype(pre.schema["__b"].dataType)
    rows = pre.take(cap + 1)
    if len(rows) > cap:
        raise RoutedToFallback(
            f"keyless <>-triple fold exceeds the {cap}-row inline cap"
        )
    # generic comparable keys (the pure sweep is comparison-only);
    # the stored ``ord`` is just the region-growing index — the
    # witness filters on the ORIGINAL ``c`` and the array is already
    # sorted, so no numeric orientation is needed
    srt = sorted(
        (
            (r["__a"], r["__b"], _okey_py(r["__c"], kind3, asc3))
            for r in rows
        ),
        key=lambda t: t[2],
    )
    entries = _neq2_order_sweep(srt)

    def unwrap(k):
        k = k.v if isinstance(k, _Rev) else k
        if kind3 == "f64":
            # _okey_py's float key is (nan_flag, value) — bit-exact
            return float("nan") if k[0] == 1 else k[1]
        return k

    out = [
        (
            i,
            unwrap(e[0]),
            e[1],
            e[2],
            e[3],
            e[4],
            e[5][0] if e[5] else None,
            e[5][1] if e[5] else None,
            e[6][0] if e[6] else None,
            e[6][1] if e[6] else None,
        )
        for i, e in enumerate(entries)
    ]
    return (
        out,
        (
            pre.schema["__a"].dataType,
            pre.schema["__b"].dataType,
            pre.schema["__c"].dataType,
        ),
    )


def neq2_order_one_row_df(spark, entries, a_dt, b_dt, c_dt):
    """One-row DataFrame carrying a folded keyless 2-<> statistic:
    ``__npts: array<struct<ord,c,da,db,ua,ub,f1a,f1b,f2a,f2b>>`` —
    the layout keyed_neq2_order_view collects (already ord-sorted),
    probed by Neq2OrderWitness unchanged."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "__npts",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("ord", T.LongType()),
                            T.StructField("c", c_dt),
                            T.StructField("da", T.LongType()),
                            T.StructField("db", T.LongType()),
                            T.StructField("ua", a_dt),
                            T.StructField("ub", b_dt),
                            T.StructField("f1a", a_dt),
                            T.StructField("f1b", b_dt),
                            T.StructField("f2a", a_dt),
                            T.StructField("f2b", b_dt),
                        ]
                    )
                ),
                False,
            )
        ]
    )
    return spark.createDataFrame([(entries,)], schema)


def neq2_order_witness_col(arr, d1, d2, d3, op3):
    """JVM-side witness probe over a keyed_neq2_order_view row: TRUE
    iff some raw row of the part's population satisfies ``a <> d1 AND
    b <> d2 AND c OP3 d3``. The applicable entry is the LAST
    array element whose region is within OP3's threshold (the array
    is sorted in region-growing order); its prefix stats decide:
    single-a/-b folds on ua/ub, else the probe fails only at the
    (at most two) recorded failing points. NULL-safe throughout
    (try_element_at; NULL array / NULL thresholds never yield
    TRUE)."""
    from pyspark.sql import functions as F

    cmp3 = _CMP_COL[op3]
    app = F.try_element_at(
        F.filter(arr, lambda e: cmp3(e["c"], d3)), F.lit(-1)
    )
    da, db = app["da"], app["db"]
    ua, ub = app["ua"], app["ub"]
    # da == 1 branch: the unique a must differ; some b differs iff
    # db >= 2 (needs non-NULL d2) or the unique b differs
    single_a = F.coalesce(ua != d1, F.lit(False)) & (
        ((db >= 2) & d2.isNotNull())
        | F.coalesce(ub != d2, F.lit(False))
    )
    # db == 1 branch (da >= 2 there): some a differs from any
    # non-NULL d1; the unique b must differ
    single_b = F.coalesce(ub != d2, F.lit(False)) & d1.isNotNull()
    bad = F.coalesce(
        (d1 == app["f1a"]) & (d2 == app["f1b"]), F.lit(False)
    ) | F.coalesce(
        (d1 == app["f2a"]) & (d2 == app["f2b"]), F.lit(False)
    )
    diag = d1.isNotNull() & d2.isNotNull() & ~bad
    return F.coalesce(
        F.when(app.isNull(), F.lit(False))
        .when(da == 1, single_a)
        .when(db == 1, single_b)
        .otherwise(diag),
        F.lit(False),
    )


def neq_triple_witness_col(u_arr, v_arr, d1, d2, d3, op2, op3):
    """JVM-side witness probe over a keyed_neq_order2_view row:
    TRUE iff some raw row of the part's population satisfies
    ``a <> d1 AND b OP2 d2 AND c OP3 d3``. Two-valued given non-NULL
    d1 (guarded inside); a NULL array (join miss) or NULL d2/d3 never
    yields TRUE."""
    from pyspark.sql import functions as F

    cmp2 = _CMP_COL[op2]
    cmp3 = _CMP_COL[op3]
    in_v = F.coalesce(
        F.exists(v_arr, lambda e: cmp2(e["u"], d2) & cmp3(e["v"], d3)),
        F.lit(False),
    )
    in_u = F.filter(
        u_arr, lambda e: cmp2(e["u"], d2) & cmp3(e["v"], d3)
    )
    # try_element_at: NULL on an empty/missing array instead of the
    # ANSI element_at raise (the session runs ANSI-on; relying on &
    # short-circuit would be fragile under expression reordering)
    uniq = F.coalesce(F.size(in_u) >= 1, F.lit(False)) & F.coalesce(
        F.try_element_at(in_u, F.lit(1))["a"] != d1, F.lit(False)
    )
    return d1.isNotNull() & (in_v | uniq)


_CMP_COL = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


_EXACT_SCALAR_TYPES_MSG = (
    "keyless <>-shapes support integral/date/timestamp columns only "
    "(got {dt})"
)


def _gate_order_scalars(df, cols):
    """Order-dim gate for the collected-literal folds (round 15):
    exact scalars PLUS float/double — safe wherever the ordering and
    the best() aggregates run Spark-side and every Python-side
    comparison goes through _spark_eq_py."""
    from pyspark.sql import types as T

    ok_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.DateType, T.TimestampType, T.FloatType, T.DoubleType,
    )
    for f in df.schema.fields:
        if f.name in cols and not isinstance(f.dataType, ok_types):
            raise RoutedToFallback(
                _EXACT_SCALAR_TYPES_MSG.format(dt=f.dataType)
            )


def _spark_eq_py(a, b) -> bool:
    """Python-side equality matching Spark's `=` on collected scalars:
    NaN equals NaN (Python nan != nan); -0.0 == 0.0 agrees in both
    worlds; everything else is plain ==."""
    import math

    if (
        isinstance(a, float)
        and isinstance(b, float)
        and math.isnan(a)
        and math.isnan(b)
    ):
        return True
    return a == b


def keyless_neq_order_stats(src, a_col, b_col, op_b):
    """GLOBAL argmax/runner-up triple for a keyless ``a <> d1 AND
    b OP d2`` witness population (round 13 late — extracted from
    api._keyless_neq_order_fold so the NOT IN executors share it):
    one plan-time TakeOrderedAndProject job (top-2 distinct-a groups
    by best b) over rows with non-NULL a AND b. Returns None when the
    population is empty, else ``(b1, a1, multi, b2)`` — best b, its
    arg a, whether 2+ distinct a attain b1, and the runner-up best
    (None when absent). The witness for (d1, d2) then folds to:

      d1 NOT NULL AND ((b1 OP d2 AND (multi OR a1 <> d1))
                       OR (NOT multi AND a1 = d1 AND b2 OP d2))

    Metadata-scale collect (2 rows). Dtypes: the ORDER dim must be
    integral/date/timestamp (the multi check compares collected b
    values driver-side); the <>-dim takes any class-bookkeeping-safe
    type — floats arrive pre-embedded via neq_canon (round 15)."""
    from pyspark.sql import functions as F

    pre = (
        src.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .select(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .groupBy("__a")
        .agg(
            (F.max if op_b in (">", ">=") else F.min)("__b").alias(
                "__ab"
            )
        )
    )
    # round 15: only the ORDER dim (__ab — Python-compared in the
    # multi check and the collected-literal folds) needs a dtype
    # gate; the <>-dim is equality-only (Spark groupBy + F.lit
    # round-trip) and takes any class-bookkeeping-safe type — floats
    # arrive pre-embedded via neq_canon (callers), per the usual
    # gate. Round 15 (second pass): the ORDER dim takes float/double
    # too — best() and the top-2 sort run Spark-side (NaN largest,
    # asc puts NaN last / desc first, consistent with best=max/min),
    # the collected extremes re-enter as F.lit/Lit literals compared
    # JVM-side, and the ONE Python comparison (the multi tie check)
    # handles the NaN-is-self-equal divergence explicitly below.
    _gate_order_scalars(pre, ("__ab",))
    _gate_neq_class_dtype(pre.schema["__a"].dataType)
    order_col = (
        F.col("__ab").desc() if op_b in (">", ">=")
        else F.col("__ab").asc()
    )
    rows = pre.orderBy(order_col, F.col("__a")).limit(2).collect()
    if not rows:
        return None
    b1, a1 = rows[0]["__ab"], rows[0]["__a"]
    multi = len(rows) > 1 and _spark_eq_py(rows[1]["__ab"], b1)
    b2 = rows[1]["__ab"] if len(rows) > 1 else None
    return (b1, a1, multi, b2)


def keyless_diag_stats(src, a_col, b_col):
    """GLOBAL diagonal-witness statistic for a keyless ``a <> d1 AND
    b <> d2`` witness population (round 13 late — extracted from
    api._keyless_neq_pair_fold): 1-3 plan-time scalar aggregate jobs
    over rows with non-NULL a AND b. Returns None (empty), or
    ``("single", da, db, ua, ub)`` when either coordinate has one
    distinct value, or ``("diag", pa, pb, qa, qb, w1, w2)`` — the
    chosen diagonal pair's coordinates and its two cross-point
    witness bits. The witness for (d1, d2) folds per the
    diagonal-witness lemma (api._keyless_neq_pair_fold):

      single: (da = 1 ? ua <> d1 : d1 NOT NULL)
              AND (db = 1 ? ub <> d2 : d2 NOT NULL)
      diag:   d1/d2 NOT NULL AND NOT ((d1 = pa AND d2 = qb AND w1 = 0)
                                   OR (d1 = qa AND d2 = pb AND w2 = 0))
    """
    from pyspark.sql import functions as F

    rows = src.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    # round 15: BOTH dims here are <>-dims (equality-only — the
    # Python branch selection compares collected values with ==/!=,
    # which is exact for every class-bookkeeping-safe type); floats
    # arrive pre-embedded via neq_canon (callers)
    _gate_neq_class_dtype(rows.schema["a"].dataType)
    _gate_neq_class_dtype(rows.schema["b"].dataType)
    g = rows.agg(
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
        F.min("a").alias("ua"),
        F.min("b").alias("ub"),
        F.min(F.struct("a", "b")).alias("r1"),
    ).collect()[0]
    if g["da"] == 0:
        return None
    if g["da"] == 1 or g["db"] == 1:
        return ("single", g["da"], g["db"], g["ua"], g["ub"])
    r1a, r1b = g["r1"]["a"], g["r1"]["b"]
    g2 = rows.agg(
        F.min(
            F.when(F.col("a") != F.lit(r1a), F.struct("a", "b"))
        ).alias("s"),
        F.min(
            F.when(F.col("b") != F.lit(r1b), F.struct("a", "b"))
        ).alias("t"),
    ).collect()[0]
    s, t = g2["s"], g2["t"]
    if s["b"] != r1b:
        pa, pb, qa, qb = r1a, r1b, s["a"], s["b"]
    elif t["a"] != r1a:
        pa, pb, qa, qb = r1a, r1b, t["a"], t["b"]
    else:
        pa, pb, qa, qb = t["a"], t["b"], s["a"], s["b"]
    g3 = rows.agg(
        F.max(
            F.when(
                (F.col("a") != F.lit(pa)) & (F.col("b") != F.lit(qb)),
                1,
            ).otherwise(0)
        ).alias("w1"),
        F.max(
            F.when(
                (F.col("a") != F.lit(qa)) & (F.col("b") != F.lit(pb)),
                1,
            ).otherwise(0)
        ).alias("w2"),
    ).collect()[0]
    return ("diag", pa, pb, qa, qb, g3["w1"], g3["w2"])


def skyline_one_row_df(spark, pts, types):
    """One-row DataFrame with ``__pts: array<struct<u0..u{k-1}>>``
    for a folded global skyline (broadcast crossJoin / registered
    one-row view). An empty skyline yields an empty array — F.exists
    FALSE, the empty-set fold."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "__pts",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(f"u{i}", t)
                            for i, t in enumerate(types)
                        ]
                    )
                ),
                False,
            )
        ]
    )
    return spark.createDataFrame([(pts,)], schema)

