"""CQC execution on DataFrames: Yannakakis-style reduce + enumerate.

This is the Spark-first re-expression of the reference's generated RDD
program (SURVEY §2.3, §4.2; sqlplus-core/.../compile/SqlPlusCompiler.scala,
sqlplus-lib/.../helper/ImplicitConversions.scala):

*Reduce* (leaves → root, reference reduceRelation SqlPlusCompiler.scala:228-515):
each child is semi-joined into its parent (`left_semi`, R10), and every
cross-relation inequality incident to the child either resolves against
the parent (conditional semi-join / min-max filter) or propagates upward
as a per-join-key min/max "extra column" (R5+R6+R7: sortValuesWith +
extractFieldInHeadElement + appendExtraColumn ≡ ``groupBy(key).agg(min)``
+ equi-join here).

*Enumerate* (root → leaves over the connex subtree, SqlPlusCompiler.scala:126-131,
654-812): plain equi-joins re-applying the original comparisons as
filters (R13-R16 — the reference's sorted-takeWhile early termination is
an output-sensitivity optimization; Catalyst's joins + AQE take its
place here).

Semantics guarantees kept from the reference:
- full queries → bag semantics (enumerate joins every relation);
- non-full queries → set semantics: project + DISTINCT over the connex
  subtree only (SURVEY C23 — the #1 correctness trap);
- aggregation (C20) and top-k (C22) are executed (the reference planned
  but never generated code for them).

Scale notes: reduction never collects to the driver; extra columns are
per-key aggregates (map-side partial agg + one shuffle per tree edge);
semi-joins broadcast automatically when the reduced side is small (AQE).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparksqlplus_spark.catalog import Catalog
from sparksqlplus_spark.expressions import AggCall, Col, Cond, Expr, Star
from sparksqlplus_spark.parser.sql import RoutedToFallback, UnsupportedSqlError
from sparksqlplus_spark.plans.context import Comparison, Context, Relation
from sparksqlplus_spark.plans.gyo import JoinTree, choose_root, connex_subtree, gyo_join_tree


@dataclass
class _Side:
    """One endpoint of a migrating comparison."""

    host: int  # current host rid
    phys: str | None = None  # physical mf column name once propagated
    orig_expr: Expr | None = None  # original expression (pre-migration)

    def column(self, var_map) -> Column:
        if self.phys is not None:
            return F.col(self.phys)
        return self.orig_expr.to_spark(var_map)


@dataclass
class _CompState:
    cid: int
    op: str  # < <= > >=
    left: _Side
    right: _Side
    resolved: bool = False


def agg_signature(rel: Relation) -> tuple | None:
    """Identity of an aggregated view, independent of its FROM alias —
    two subqueries with this same signature are byte-identical views
    (reference SqlPlusCompiler.scala:38-53 deduplicates them the same
    way before materializing AggregatedRelations)."""
    if rel.kind != "agg":
        return None
    arg_key = rel.agg_arg_expr.key() if rel.agg_arg_expr is not None else None
    return (
        rel.table,
        rel.agg_func,
        rel.agg_group_cols,
        rel.agg_arg_col,
        arg_key,
        rel.agg_out_col,
    )


_CMPF = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _diagonal_stats_view(src, part_pairs, a_col, b_col):
    """Per-part DIAGONAL-WITNESS statistic for "∃ row: a <> d1 AND
    b <> d2" probes (round 13 — the api._keyless_neq_pair_fold
    statistic, shared with the NOT IN threshold executor): columns
    (part..., da, db, ua, ub, pa, pb, qa, qb, w1, w2) — distinct
    counts + unique values for the single-a/-b folds, the chosen
    diagonal pair's coordinates, and its two cross-point witness bits.
    Rows with NULL a/b must be pre-filtered by the caller. Three
    grouped passes, each one part-key exchange with the joins reusing
    it; ONE row per part."""
    names = [n for _, n in part_pairs]
    rows = src.select(
        *[F.col(c).alias(n) for c, n in part_pairs],
        F.col(a_col).alias("__a"),
        F.col(b_col).alias("__b"),
    )
    g1 = rows.groupBy(*names).agg(
        F.count_distinct("__a").alias("da"),
        F.count_distinct("__b").alias("db"),
        F.min("__a").alias("ua"),
        F.min("__b").alias("ub"),
        F.min(F.struct(F.col("__a").alias("a"), F.col("__b").alias("b"))).alias(
            "r1"
        ),
    )
    j2 = rows.join(g1.select(*names, "r1"), names)
    g2 = j2.groupBy(*names).agg(
        F.min(
            F.when(
                F.col("__a") != F.col("r1.a"),
                F.struct(F.col("__a").alias("a"), F.col("__b").alias("b")),
            )
        ).alias("s"),
        F.min(
            F.when(
                F.col("__b") != F.col("r1.b"),
                F.struct(F.col("__a").alias("a"), F.col("__b").alias("b")),
            )
        ).alias("t"),
    )
    v2 = g1.join(g2, names)
    diag_s = F.col("s").isNotNull() & (F.col("s.b") != F.col("r1.b"))
    diag_t = F.col("t").isNotNull() & (F.col("t.a") != F.col("r1.a"))
    p = F.when(diag_s | diag_t, F.col("r1")).otherwise(F.col("t"))
    q = F.when(diag_s, F.col("s")).otherwise(
        F.when(diag_t, F.col("t")).otherwise(F.col("s"))
    )
    v2 = v2.select(
        *names, "da", "db", "ua", "ub",
        p["a"].alias("pa"), p["b"].alias("pb"),
        q["a"].alias("qa"), q["b"].alias("qb"),
    )
    j3 = rows.join(v2.select(*names, "pa", "pb", "qa", "qb"), names)
    g3 = j3.groupBy(*names).agg(
        F.max(
            F.when(
                (F.col("__a") != F.col("pa"))
                & (F.col("__b") != F.col("qb")),
                1,
            ).otherwise(0)
        ).alias("w1"),
        F.max(
            F.when(
                (F.col("__a") != F.col("qa"))
                & (F.col("__b") != F.col("pb")),
                1,
            ).otherwise(0)
        ).alias("w2"),
    )
    return v2.join(g3, names)


def _apply_neq_pair_threshold_not_in(df, inner, sf, prefix: str):
    """KEYLESS correlated NOT IN whose inner set is filtered by TWO
    ``<>`` comparisons against the outer row (round 13): ``o.x NOT IN
    (SELECT y FROM t WHERE t.a <> o.d1 AND t.b <> o.d2)``. Each
    three-valued fact asks the diagonal-witness question over its
    population:

      within(d1, d2) = d1/d2 non-NULL AND (
        da = 1: ua <> d1 AND (db >= 2 OR ub <> d2)
        db = 1 (da >= 2): ub <> d2
        else: (d1 <> pa OR d2 <> qb OR w1 = 1)
          AND (d1 <> qa OR d2 <> pb OR w2 = 1))

    The set and NULL-y statistics fold at plan time (1-3 scalar jobs
    each, frontier.keyless_diag_stats) into literal predicates; the
    match fact stays a per-y _diagonal_stats_view (column probe — one
    row per y, the LEFT join never duplicates) or folds too (constant
    probe). Keyed groups never reach here (_apply_semi_filter routes
    them to the spark.sql fallback)."""
    from sparksqlplus_spark.plans.frontier import (
        canon_float_neq_dims,
        keyless_diag_stats,
    )

    thrs = sf.corr_threshold
    (_, d1e, a_col), (_, d2e, b_col) = thrs
    d1 = d1e.to_spark({r: r[1] for r in d1e.refs()})
    d2 = d2e.to_spark({r: r[1] for r in d2e.refs()})
    # round 15: float <>-dims embed via neq_canon (inner AND probe) —
    # keyless_diag_stats selects its branch on collected values in
    # Python, so the class bookkeeping must match Spark =/<>
    inner, [(a_col, d1), (b_col, d2)] = canon_float_neq_dims(
        inner, [(a_col, d1), (b_col, d2)], prefix
    )
    inner_t = inner.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    )
    stat_cols = ["da", "db", "ua", "ub", "pa", "pb", "qa", "qb", "w1", "w2"]

    def within(tagp):
        def c(name):
            return F.col(f"{tagp}{name}")

        # da=1: witness needs ua <> d1 plus SOME b <> d2 (db >= 2
        # guarantees one; db = 1 needs the unique b to differ).
        # db=1 (da >= 2 there): some a always differs from a non-NULL
        # d1, so only the unique b must differ.
        single_a = (c("ua") != d1) & ((c("db") >= 2) | (c("ub") != d2))
        single_b = c("ub") != d2
        diag = (
            ((d1 != c("pa")) | (d2 != c("qb")) | (c("w1") == 1))
            & ((d1 != c("qa")) | (d2 != c("pb")) | (c("w2") == 1))
        )
        return (
            d1.isNotNull()
            & d2.isNotNull()
            & F.coalesce(
                F.when(c("da") == 1, single_a)
                .when(c("db") == 1, single_b)
                .otherwise(diag),
                F.lit(False),
            )
        )

    def fold_within(stats):
        if stats is None:
            return F.lit(False)
        if stats[0] == "single":
            _, da, db, ua, ub = stats
            ca = (
                F.coalesce(F.lit(ua) != d1, F.lit(False))
                if da == 1
                else d1.isNotNull()
            )
            cb = (
                F.coalesce(F.lit(ub) != d2, F.lit(False))
                if db == 1
                else d2.isNotNull()
            )
            return ca & cb
        _, pa, pb, qa, qb, w1, w2 = stats
        bad1 = (
            (d1 == F.lit(pa)) & (d2 == F.lit(qb))
            if w1 == 0
            else F.lit(False)
        )
        bad2 = (
            (d1 == F.lit(qa)) & (d2 == F.lit(pb))
            if w2 == 0
            else F.lit(False)
        )
        return (
            d1.isNotNull()
            & d2.isNotNull()
            & ~F.coalesce(bad1 | bad2, F.lit(False))
        )

    w_a = fold_within(keyless_diag_stats(inner_t, a_col, b_col))
    helper: list[str] = []
    if sf.const_probe is not None:
        probe_lit, ic = sf.const_probe
        pl = probe_lit.to_spark({})
        probe_ok = pl.isNotNull()
        w_n = fold_within(
            keyless_diag_stats(
                inner_t.filter(F.col(ic).isNull()), a_col, b_col
            )
        )
        w_m = fold_within(
            keyless_diag_stats(
                inner_t.filter(F.col(ic) == pl), a_col, b_col
            )
        )
    else:
        (ov_p, ic), = sf.keys  # single-column probe (validated)
        probe_ok = F.col(ov_p).isNotNull()
        w_n = fold_within(
            keyless_diag_stats(
                inner_t.filter(F.col(ic).isNull()), a_col, b_col
            )
        )
        mp = f"{prefix}_mp"
        tagp = f"{prefix}_M"
        view = _diagonal_stats_view(
            inner_t.filter(F.col(ic).isNotNull()),
            [(ic, mp)],
            a_col,
            b_col,
        ).select(
            mp, *[F.col(c).alias(f"{tagp}{c}") for c in stat_cols]
        )
        df = df.join(view, F.col(ov_p) == F.col(mp), "left")
        w_m = within(tagp)
        helper += [f"{tagp}{c}" for c in stat_cols] + [mp]
    keep = ~w_a | (~w_m & ~w_n & probe_ok)
    return df.filter(keep).drop(*helper)


def _apply_neq_order_threshold_not_in(df, inner, sf, prefix: str):
    """KEYLESS correlated NOT IN whose inner set is filtered by a
    ``<>`` PAIRED with an order comparison against the outer row
    (round 13): ``o.x NOT IN (SELECT y FROM t WHERE t.a <> o.d1 AND
    t.b OP o.d2)``. Each three-valued fact (set nonempty / has NULL y /
    probe matched) asks "∃ row in the fact population with a <> d1 AND
    b OP d2", decided by a THREE-stat summary: b1 = best b, a1 = its
    arg a (NULL sentinel when 2+ distinct a attain b1), b2 = best b
    among a <> a1:

      within(d1, d2) = d1 NOT NULL AND (
          (b1 OP d2 AND (a1 sentinel-NULL OR a1 <> d1))
          OR (a1 = d1 AND b2 OP d2))

    NULL b1/b2 (view miss / no runner-up) and NULL d2 coalesce the
    comparisons to FALSE. The set/NULL-y triples fold at plan time
    (frontier.keyless_neq_order_stats — one TakeOrderedAndProject job
    each, the metadata-collect class) into literal predicates; the
    match fact stays distributed as a per-y triple view (column probe:
    one (y, a) pre-reduction + one top-2 window sharing the y key, one
    row per y) or a third plan-time fold (constant probe). Keyed
    groups never reach here (_apply_semi_filter routes them to the
    spark.sql fallback)."""
    from sparksqlplus_spark.plans.frontier import (
        canon_float_neq_dims,
        keyless_neq_order_stats,
    )

    thrs = sf.corr_threshold
    (_, d1e, a_col) = next(t for t in thrs if t[0] == "<>")
    (op_b, d2e, b_col) = next(t for t in thrs if t[0] != "<>")
    d1 = d1e.to_spark({r: r[1] for r in d1e.refs()})
    d2 = d2e.to_spark({r: r[1] for r in d2e.refs()})
    # round 15: a float <>-dim embeds via neq_canon (inner AND probe)
    # — keyless_neq_order_stats compares collected a values in Python
    inner, [(a_col, d1)] = canon_float_neq_dims(
        inner, [(a_col, d1)], prefix
    )
    best = F.max if op_b in (">", ">=") else F.min
    cmpb = _CMPF[op_b]
    inner_t = inner.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    )

    def triple_view(src, part_pairs, tagp):
        names = [n for _, n in part_pairs]
        pre = (
            src.select(
                *[F.col(c).alias(n) for c, n in part_pairs],
                F.col(a_col).alias("__a"),
                F.col(b_col).alias("__b"),
            )
            .groupBy(*names, "__a")
            .agg(best("__b").alias("__ab"))
        )
        order_col = (
            F.col("__ab").desc() if op_b in (">", ">=")
            else F.col("__ab").asc()
        )
        w = Window.partitionBy(*names).orderBy(order_col, F.col("__a"))
        top2 = pre.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= 2
        )
        view = top2.groupBy(*names).agg(
            F.max(F.when(F.col("__rn") == 1, F.col("__ab"))).alias(
                f"{tagp}b1"
            ),
            F.max(F.when(F.col("__rn") == 1, F.col("__a"))).alias(
                f"{tagp}a1r"
            ),
            F.max(F.when(F.col("__rn") == 2, F.col("__ab"))).alias(
                f"{tagp}b2"
            ),
        )
        return view.select(
            *names,
            f"{tagp}b1",
            f"{tagp}b2",
            F.when(
                F.col(f"{tagp}b2") == F.col(f"{tagp}b1"), F.lit(None)
            )
            .otherwise(F.col(f"{tagp}a1r"))
            .alias(f"{tagp}a1"),
        )

    def within(tagp):
        b1, b2 = F.col(f"{tagp}b1"), F.col(f"{tagp}b2")
        a1 = F.col(f"{tagp}a1")
        first = F.coalesce(cmpb(b1, d2), F.lit(False)) & (
            a1.isNull() | F.coalesce(a1 != d1, F.lit(False))
        )
        second = F.coalesce((a1 == d1) & cmpb(b2, d2), F.lit(False))
        return d1.isNotNull() & (first | second)

    def fold_within(stats):
        if stats is None:
            return F.lit(False)
        b1, a1, multi, b2 = stats
        first = F.coalesce(cmpb(F.lit(b1), d2), F.lit(False)) & (
            F.lit(True)
            if multi
            else F.coalesce(F.lit(a1) != d1, F.lit(False))
        )
        second = (
            F.lit(False)
            if multi or b2 is None
            else F.coalesce(
                (F.lit(a1) == d1) & cmpb(F.lit(b2), d2),
                F.lit(False),
            )
        )
        return d1.isNotNull() & (first | second)

    w_a = fold_within(
        keyless_neq_order_stats(inner_t, a_col, b_col, op_b)
    )
    helper = []
    if sf.const_probe is not None:
        probe_lit, ic = sf.const_probe
        pl = probe_lit.to_spark({})
        probe_ok = pl.isNotNull()
        w_n = fold_within(
            keyless_neq_order_stats(
                inner_t.filter(F.col(ic).isNull()), a_col, b_col, op_b,
            )
        )
        w_m = fold_within(
            keyless_neq_order_stats(
                inner_t.filter(F.col(ic) == pl), a_col, b_col, op_b
            )
        )
    else:
        (ov_p, ic), = sf.keys  # single-column probe (validated)
        probe_ok = F.col(ov_p).isNotNull()
        w_n = fold_within(
            keyless_neq_order_stats(
                inner_t.filter(F.col(ic).isNull()), a_col, b_col, op_b,
            )
        )
        mp = f"{prefix}_mp"
        view = triple_view(
            inner_t.filter(F.col(ic).isNotNull()),
            [(ic, mp)],
            f"{prefix}_M",
        )
        df = df.join(view, F.col(ov_p) == F.col(mp), "left")
        w_m = within(f"{prefix}_M")
        helper += [
            f"{prefix}_Mb1", f"{prefix}_Mb2", f"{prefix}_Ma1", mp,
        ]
    keep = ~w_a | (~w_m & ~w_n & probe_ok)
    return df.filter(keep).drop(*helper)


def _apply_sky_threshold_not_in(df, inner, sf, prefix: str):
    """KEYLESS correlated NOT IN whose inner set is filtered by TWO
    to FIVE order comparisons against the outer row: ``o.x NOT IN
    (SELECT y FROM t WHERE t.c0 OP0 o.d0 AND ... AND t.c{k-1} OP
    o.d{k-1})``. Each three-valued fact is a k-D DOMINANCE query
    against a Pareto SKYLINE (the 2-D staircase at k = 2): the set and
    NULL-y facts fold as GLOBAL skylines (frontier.global_skyline_points
    — capped driver merge, one-row broadcast crossJoins; never a
    single-partition window); the match fact is a per-y keyed skyline
    (plans/frontier.py:keyed_skyline_view — pre-reduction + per-y
    window staircase or applyInArrow sweep + y-keyed collect, one row
    per y, so the LEFT join never duplicates) for a column probe, or a
    third global fold for a constant probe. A NULL d_i makes F.exists
    non-TRUE -> coalesce FALSE -> the set folds empty (c OP NULL is
    UNKNOWN for every row). Non-default string collations and
    over-cap skylines raise RoutedToFallback inside the folds and
    ride mode='auto'. Keyed groups never reach here (_apply_semi_filter
    routes them to the spark.sql fallback)."""
    from sparksqlplus_spark.plans.frontier import (
        global_skyline_points,
        keyed_skyline_view,
        skyline_one_row_df,
    )

    ops = tuple(t[0] for t in sf.corr_threshold)
    dims = tuple(t[2] for t in sf.corr_threshold)
    thrs = [
        t[1].to_spark({r: r[1] for r in t[1].refs()})
        for t in sf.corr_threshold
    ]
    cmps = [_CMPF[op] for op in ops]

    def fold(src, out):
        # bounded plan-time fold, inlined as a one-row frame (the 4-D
        # merge cap is tightened inside the fold)
        pts, types = global_skyline_points(src, dims, ops, 65536)
        one = skyline_one_row_df(df.sparkSession, pts, types)
        return F.broadcast(one.withColumnRenamed("__pts", out))

    def within(arr):
        return F.coalesce(
            F.exists(
                F.col(arr),
                lambda e: functools.reduce(
                    lambda x, y: x & y,
                    [
                        cmp(e[f"u{i}"], thr)
                        for i, (cmp, thr) in enumerate(zip(cmps, thrs))
                    ],
                ),
            ),
            F.lit(False),
        )

    helper: list[str] = [f"{prefix}_pa", f"{prefix}_pn", f"{prefix}_pm"]
    df = df.crossJoin(fold(inner, f"{prefix}_pa"))
    if sf.const_probe is not None:
        probe_lit, ic = sf.const_probe
        pl = probe_lit.to_spark({})
        probe_ok = pl.isNotNull()
        df = df.crossJoin(
            fold(inner.filter(F.col(ic).isNull()), f"{prefix}_pn")
        )
        df = df.crossJoin(
            fold(inner.filter(F.col(ic) == pl), f"{prefix}_pm")
        )
    else:
        (ov_p, ic), = sf.keys  # single-column probe (validated)
        probe_ok = F.col(ov_p).isNotNull()
        df = df.crossJoin(
            fold(inner.filter(F.col(ic).isNull()), f"{prefix}_pn")
        )
        mp = f"{prefix}_mp"
        v_match = keyed_skyline_view(
            inner.filter(F.col(ic).isNotNull()),
            [(ic, mp)],
            dims,
            ops,
            f"{prefix}_pm",
        )
        df = df.join(v_match, F.col(ov_p) == F.col(mp), "left")
        helper.append(mp)
    keep = ~within(f"{prefix}_pa") | (
        ~within(f"{prefix}_pm") & ~within(f"{prefix}_pn") & probe_ok
    )
    return df.filter(keep).drop(*helper)


def _apply_neq_triple_not_in_keyless(df, inner, sf, prefix: str):
    """KEYLESS <>-containing triple-filtered correlated NOT IN (round
    14): ``o.x NOT IN (SELECT y FROM t WHERE t.a <> o.d1 AND t.b OP2
    o.d2 AND t.c OP3 o.d3)`` or the 2-<> + 1-order mix — no equality
    correlation, so the set and NULL-y fact populations are GLOBAL:
    each folds at plan time via the capped keyless stat helpers
    (plans/frontier.py:global_neq_order2_points /
    global_neq2_order_entries — an (a, b) -> best-c pre-reduction
    with map-side combine, a capped take, and the SAME pure sweeps
    the keyed applyInPandas path runs, driver-side), inlined as
    one-row broadcast crossJoins probed by the unchanged witness
    columns. The match fact stays DISTRIBUTED: a per-y keyed view
    (keyed_neq_order2_view / keyed_neq2_order_view partitioned by y —
    one row per y, the LEFT join on o.x = y never duplicates); a
    constant probe folds the ``y = const`` slice globally instead.
    Integral order dims only (the folds raise otherwise, riding the
    mode='auto' fallback — which the round-14 A/B showed is a
    nested-loop for Catalyst on keyless correlation, hence closing
    this cell natively)."""
    from sparksqlplus_spark.plans.frontier import (
        global_neq2_order_entries,
        global_neq_order2_points,
        keyed_neq2_order_view,
        keyed_neq_order2_view,
        neq2_order_one_row_df,
        neq2_order_witness_col,
        neq_triple_one_row_df,
        neq_triple_witness_col,
    )

    cap = 65536  # mirrors api.Engine._KEYLESS_FRONTIER_CAP
    spark = df.sparkSession
    n_neq = sum(1 for t in sf.corr_threshold if t[0] == "<>")
    neqs = [t for t in sf.corr_threshold if t[0] == "<>"]
    orders = [t for t in sf.corr_threshold if t[0] != "<>"]

    def thr(e):
        return e.to_spark({r: r[1] for r in e.refs()})

    helper: list[str] = []
    from sparksqlplus_spark.plans.frontier import canon_float_neq_dims

    if n_neq == 1:
        (_, e1, a_col), = neqs
        (op2, e2, b_col), (op3, e3, c_col) = orders
        d1, d2, d3 = thr(e1), thr(e2), thr(e3)
        # round 15: float <>-dims embed via neq_canon (inner + probe)
        inner, [(a_col, d1)] = canon_float_neq_dims(
            inner, [(a_col, d1)], prefix
        )

        def fold(src, tag):
            u_rows, v_pts, (a_dt, u_dt, v_dt) = (
                global_neq_order2_points(
                    src, a_col, b_col, c_col, (op2, op3), cap
                )
            )
            one = neq_triple_one_row_df(
                spark, u_rows, v_pts, a_dt, u_dt, v_dt
            )
            return (
                one.withColumnRenamed("__upts", f"{tag}_u")
                .withColumnRenamed("__vpts", f"{tag}_v")
            )

        def W(tag):
            return F.coalesce(
                neq_triple_witness_col(
                    F.col(f"{tag}_u"), F.col(f"{tag}_v"),
                    d1, d2, d3, op2, op3,
                ),
                F.lit(False),
            )

    else:
        (_, e1, a_col), (_, e2, b_col) = neqs
        (op3, e3, c_col), = orders
        d1, d2, d3 = thr(e1), thr(e2), thr(e3)
        # round 15: float <>-dims embed via neq_canon (inner + probe)
        inner, [(a_col, d1), (b_col, d2)] = canon_float_neq_dims(
            inner, [(a_col, d1), (b_col, d2)], prefix
        )

        def fold(src, tag):
            entries, (a_dt, b_dt, c_dt) = global_neq2_order_entries(
                src, a_col, b_col, c_col, op3, cap
            )
            one = neq2_order_one_row_df(spark, entries, a_dt, b_dt, c_dt)
            return one.withColumnRenamed("__npts", f"{tag}_n")

        def W(tag):
            return F.coalesce(
                neq2_order_witness_col(
                    F.col(f"{tag}_n"), d1, d2, d3, op3
                ),
                F.lit(False),
            )

    ta, tn, tm = f"{prefix}_sa", f"{prefix}_sn", f"{prefix}_sm"
    df = df.crossJoin(F.broadcast(fold(inner, ta)))
    if sf.const_probe is not None:
        probe_lit, ic = sf.const_probe
        pl = probe_lit.to_spark({})
        probe_ok = pl.isNotNull()
        df = df.crossJoin(
            F.broadcast(fold(inner.filter(F.col(ic).isNull()), tn))
        )
        df = df.crossJoin(
            F.broadcast(fold(inner.filter(F.col(ic) == pl), tm))
        )
    else:
        (ov_p, ic), = sf.keys  # single-column probe (validated)
        probe_ok = F.col(ov_p).isNotNull()
        df = df.crossJoin(
            F.broadcast(fold(inner.filter(F.col(ic).isNull()), tn))
        )
        # match view: the per-y keyed statistic — partitioned by y,
        # distributed; one row per y so the LEFT join never duplicates
        mp = f"{prefix}_mp"
        msrc = inner.filter(F.col(ic).isNotNull())
        if n_neq == 1:
            mview = keyed_neq_order2_view(
                msrc, [(ic, mp)], a_col, b_col, c_col, (op2, op3),
                f"{tm}_u", f"{tm}_v",
            )
        else:
            mview = keyed_neq2_order_view(
                msrc, [(ic, mp)], a_col, b_col, c_col, op3, f"{tm}_n",
            )
        df = df.join(mview, F.col(ov_p) == F.col(mp), "left")
        helper.append(mp)
    keep = ~W(ta) | (~W(tm) & ~W(tn) & probe_ok)
    drop = helper + [
        c
        for c in df.columns
        if c.startswith((f"{ta}_", f"{tn}_", f"{tm}_"))
    ]
    return df.filter(keep).drop(*drop)


def _apply_semi_filter(spark, catalog, df, sf, prefix: str):
    """Apply one planned [NOT] EXISTS (plans/context.py:SemiFilter):
    left_semi/left_anti of ``df`` against the filtered inner table.
    The inner side projects only the columns the join condition needs,
    renamed to ``{prefix}_N`` so they can't collide with the outer
    frame; equality keys drive the join, and ``extra`` correlated
    predicates (e.g. Q21's <>) AND into the join condition — their
    ("@o", name) refs resolve against the outer frame's columns."""
    if sf.expr_probe is not None:
        # probe-DEPENDENT probe EXPRESSION (round 13): `o.a + 1 NOT IN
        # (SELECT y ...)` — materialize the outer-only expression as a
        # temp column and re-enter with it as the single probe key;
        # every downstream branch (plain null-aware anti, corr_keys
        # stats views, corr_threshold extremes, pair staircases) then
        # runs unchanged, inheriting the three-valued gate (the temp
        # column is NULL exactly when the probe expression is UNKNOWN).
        # Pure projection — no extra job, no shuffle.
        import dataclasses

        pexpr, p_ic = sf.expr_probe
        tmp = f"{prefix}_px"
        dfp = df.withColumn(
            tmp, pexpr.to_spark({r: r[1] for r in pexpr.refs()})
        )
        # NOT IN carries its group equalities in corr_keys (sf.keys is
        # empty here); POSITIVE IN (late round 13) keeps them in keys
        # — append so the re-entry joins on probe AND correlations
        sf2 = dataclasses.replace(
            sf, keys=((tmp, p_ic), *sf.keys), expr_probe=None
        )
        return _apply_semi_filter(spark, catalog, dfp, sf2, prefix).drop(
            tmp
        )
    inner = catalog.get(sf.table).load(spark)
    imap = {("", c): c for c in inner.columns}
    for cond in sf.inner_filters:
        inner = inner.filter(cond.to_spark(imap))
    if sf.corr_threshold is not None:
        # CORRELATED NOT IN with an ORDER-comparison correlation
        # (round 12): o.x NOT IN (SELECT y FROM t WHERE [t.k = o.k
        # AND] t.c OP o.d) — the group's membership depends on the
        # outer row through the threshold, but each three-valued fact
        # is monotone in it, so ONE extreme per fact decides:
        #   set nonempty(o)  <=> best(c)            OP o.d
        #   has NULL y(o)    <=> best(c | y NULL)   OP o.d
        #   probe matched(o) <=> best(c | y = x)    OP o.d
        # (best = MIN for </<=, MAX for >/>=; rows with NULL c can
        # never satisfy c OP d and are filtered). Keep a row iff its
        # set is empty (group miss, or best outside the threshold, or
        # a NULL d — c OP NULL is UNKNOWN for every row), else iff
        # unmatched AND no in-threshold NULL y AND the probe is
        # non-NULL. Same view shapes as the plain corr_keys branch
        # (one row per group; match DISTINCT per (group, y) with every
        # column pinned) — no join duplicates; with no group keys the
        # stats view is ONE global row, broadcast.
        if len(sf.corr_threshold) >= 2 and sf.corr_keys:
            # KEYED multi-comparison NOT IN has no native plan: Catalyst's
            # own decorrelation measured 1.8-4.7x faster at sf0.1 AND 10x
            # (SCALING.md round-14 A/B). RoutedToFallback, not a plain
            # UnsupportedSqlError: the statement is in the dialect, so
            # api._plan_spec_inner fills needs_distinct from the built
            # Context and the fallback keeps the non-full => DISTINCT
            # contract (SURVEY C23). Keyless shapes stay native below —
            # Catalyst nested-loops them.
            raise RoutedToFallback(
                "keyed multi-comparison correlated NOT IN runs on the "
                "spark.sql fallback in every mode (Catalyst "
                "decorrelation measured faster — SCALING.md round-14 A/B)"
            )
        if len(sf.corr_threshold) >= 2:
            n_neq = sum(1 for t in sf.corr_threshold if t[0] == "<>")
            if not n_neq:
                # all-order pairs, triples, quads and quints
                # (build_context admits k up to 5): each fact is a k-D
                # dominance query against the global Pareto skyline
                return _apply_sky_threshold_not_in(df, inner, sf, prefix)
            if len(sf.corr_threshold) >= 3:
                # round 14: KEYLESS <>-containing triples — global
                # stat folds + a per-y match view (see the executor)
                return _apply_neq_triple_not_in_keyless(
                    df, inner, sf, prefix
                )
            if n_neq == 2:
                # round 13: a <>-with-<> pair — each fact asks the
                # diagonal-witness question over its population
                return _apply_neq_pair_threshold_not_in(
                    df, inner, sf, prefix
                )
            # round 13: <> paired with an order comparison — each
            # fact folds to the argmin/runner-up triple
            return _apply_neq_order_threshold_not_in(
                df, inner, sf, prefix
            )
        (t_op, t_outer, t_col), = sf.corr_threshold
        # the outer threshold is an outer-only EXPRESSION whose
        # ("@o", variable) refs resolve against the outer frame
        thr = t_outer.to_spark({r: r[1] for r in t_outer.refs()})
        neq = t_op == "<>"
        if neq:
            # c <> d: the subset contains a qualifying row iff it has
            # >= 2 DISTINCT c values (one must differ from any d) or
            # its unique c differs; a NULL d qualifies nothing
            def aggs_of(pred, tag):
                cval = (
                    F.when(pred, F.col(t_col)) if pred is not None
                    else F.col(t_col)
                )
                return [
                    F.count_distinct(cval).alias(f"{tag}c"),
                    F.min(cval).alias(f"{tag}v"),
                ]

            def within(tag):
                return F.coalesce(
                    thr.isNotNull()
                    & (
                        (F.col(f"{tag}c") >= 2)
                        | (F.col(f"{tag}v") != thr)
                    ),
                    F.lit(False),
                )

            def miss(tag):
                return F.col(f"{tag}c").isNull() | ~within(tag)

            def cols_of(tag):
                return [f"{tag}c", f"{tag}v"]
        else:
            cmpfn = {
                "<": lambda a, b: a < b,
                "<=": lambda a, b: a <= b,
                ">": lambda a, b: a > b,
                ">=": lambda a, b: a >= b,
            }[t_op]
            best = F.min if t_op in ("<", "<=") else F.max

            def aggs_of(pred, tag):
                cval = (
                    F.when(pred, F.col(t_col)) if pred is not None
                    else F.col(t_col)
                )
                return [best(cval).alias(f"{tag}v")]

            def within(tag):
                return F.coalesce(
                    cmpfn(F.col(f"{tag}v"), thr), F.lit(False)
                )

            def miss(tag):
                return F.col(f"{tag}v").isNull() | ~within(tag)

            def cols_of(tag):
                return [f"{tag}v"]

        corr = sf.corr_keys
        gref = [
            F.col(ic).alias(f"{prefix}_g{i}")
            for i, (_, ic) in enumerate(corr)
        ]
        gcols = [f"{prefix}_g{i}" for i in range(len(corr))]
        inner_t = inner.filter(F.col(t_col).isNotNull())
        ta, tn, tm = f"{prefix}_a", f"{prefix}_nl", f"{prefix}_mt"
        helper = cols_of(ta) + cols_of(tn) + gcols
        if sf.const_probe is not None:
            probe_lit, ic = sf.const_probe
            pl = probe_lit.to_spark({})
            stats = inner_t.groupBy(*gref).agg(
                *aggs_of(None, ta),
                *aggs_of(F.col(ic).isNull(), tn),
                *aggs_of(F.col(ic) == pl, tm),
            )
            out = (
                df.join(
                    stats,
                    functools.reduce(
                        lambda a, b: a & b,
                        [
                            F.col(ov) == F.col(g)
                            for (ov, _), g in zip(corr, gcols)
                        ],
                    ),
                    "left",
                )
                if gcols
                else df.join(F.broadcast(stats), how="cross")
            )
            probe_ok = pl.isNotNull()
            helper += cols_of(tm)
        else:
            (ov_p, ic), = sf.keys  # single-column probe (validated)
            stats = inner_t.groupBy(*gref).agg(
                *aggs_of(None, ta),
                *aggs_of(F.col(ic).isNull(), tn),
            )
            out = (
                df.join(
                    stats,
                    functools.reduce(
                        lambda a, b: a & b,
                        [
                            F.col(ov) == F.col(g)
                            for (ov, _), g in zip(corr, gcols)
                        ],
                    ),
                    "left",
                )
                if gcols
                else df.join(F.broadcast(stats), how="cross")
            )
            mcols = [f"{prefix}_m{i}" for i in range(len(corr))]
            match = (
                inner_t.filter(F.col(ic).isNotNull())
                .groupBy(
                    *[
                        F.col(icg).alias(m)
                        for (_, icg), m in zip(corr, mcols)
                    ],
                    F.col(ic).alias(f"{prefix}_mp"),
                )
                .agg(*aggs_of(None, tm))
            )
            mon = functools.reduce(
                lambda a, b: a & b,
                [
                    F.col(ov) == F.col(m)
                    for (ov, _), m in zip(corr, mcols)
                ]
                + [F.col(ov_p) == F.col(f"{prefix}_mp")],
            )
            out = out.join(match, mon, "left")
            probe_ok = F.col(ov_p).isNotNull()
            helper += cols_of(tm) + [f"{prefix}_mp", *mcols]
        set_empty = miss(ta)
        no_null = miss(tn)
        no_match = miss(tm)
        keep = set_empty | (no_match & no_null & probe_ok)
        return out.filter(keep).drop(*helper)
    if sf.corr_keys:
        # CORRELATED NOT IN (round 12): o.x NOT IN (SELECT y FROM t
        # WHERE t.k = o.k AND ...) — the inner SET is per-GROUP, so
        # the NULL facts are per-group aggregates, NOT the row-value
        # reading (which silently changes the semantics — see
        # plans/context.py). Keep a row iff
        #   its group is EMPTY (left-join miss; a NULL group key can
        #     match nothing, so it misses too — correct), or
        #   no group row matches the probe AND the group has no NULL
        #     y AND the probe itself is non-NULL.
        # Plan: one groupBy(corr) shuffle for (n, nn[, m]) stats +
        # one LEFT join per side — stats is one row per group and the
        # match view is DISTINCT on (group, y) with every column
        # pinned by the join condition, so neither join duplicates.
        # Both joins shuffle on the group key (the exchange is
        # reused); no collect, no broadcast assumption — scale-safe.
        corr = sf.corr_keys
        gref = [
            F.col(ic).alias(f"{prefix}_g{i}")
            for i, (_, ic) in enumerate(corr)
        ]
        gcols = [f"{prefix}_g{i}" for i in range(len(corr))]
        on = functools.reduce(
            lambda a, b: a & b,
            [F.col(ov) == F.col(g) for (ov, _), g in zip(corr, gcols)],
        )
        helper = [f"{prefix}_n", f"{prefix}_nn", *gcols]
        if sf.const_probe is not None:
            probe_lit, ic = sf.const_probe
            pl = probe_lit.to_spark({})
            stats = inner.groupBy(*gref).agg(
                F.count(F.lit(1)).alias(f"{prefix}_n"),
                F.count(F.col(ic)).alias(f"{prefix}_nn"),
                F.count(F.when(F.col(ic) == pl, 1)).alias(f"{prefix}_m"),
            )
            out = df.join(stats, on, "left")
            no_match = F.col(f"{prefix}_m").isNull() | (
                F.col(f"{prefix}_m") == 0
            )
            probe_ok = pl.isNotNull()
            helper.append(f"{prefix}_m")
        else:
            (ov_p, ic), = sf.keys  # single-column probe (validated)
            stats = inner.groupBy(*gref).agg(
                F.count(F.lit(1)).alias(f"{prefix}_n"),
                F.count(F.col(ic)).alias(f"{prefix}_nn"),
            )
            out = df.join(stats, on, "left")
            mcols = [f"{prefix}_m{i}" for i in range(len(corr))]
            match = (
                inner.select(
                    *[
                        F.col(icg).alias(m)
                        for (_, icg), m in zip(corr, mcols)
                    ],
                    F.col(ic).alias(f"{prefix}_mp"),
                )
                .filter(F.col(ic).isNotNull())
                .distinct()
            )
            mon = functools.reduce(
                lambda a, b: a & b,
                [
                    F.col(ov) == F.col(m)
                    for (ov, _), m in zip(corr, mcols)
                ],
            ) & (F.col(ov_p) == F.col(f"{prefix}_mp"))
            out = out.join(match, mon, "left")
            no_match = F.col(f"{prefix}_mp").isNull()
            probe_ok = F.col(ov_p).isNotNull()
            helper += [f"{prefix}_mp", *mcols]
        keep = F.col(f"{prefix}_n").isNull() | (
            no_match
            & (F.col(f"{prefix}_n") == F.col(f"{prefix}_nn"))
            & probe_ok
        )
        return out.filter(keep).drop(*helper)
    if sf.const_probe is not None:
        # CONSTANT-probe NOT IN (round 10): `5 NOT IN (SELECT x ...)`
        # — no correlation keys, but full three-valued semantics:
        #   empty set               -> keep every row
        #   probe matched           -> drop every row
        #   set has NULL / probe    -> UNKNOWN -> drop every row
        #     NULL (non-empty set)
        #   else                    -> keep every row
        # One broadcast one-row stats aggregate decides the gate —
        # same zero-collect shape as the single-key null-aware path.
        probe_lit, ic = sf.const_probe
        pl = probe_lit.to_spark({})
        stats = inner.agg(
            F.count(F.lit(1)).alias(f"{prefix}_n"),
            F.count(F.col(ic)).alias(f"{prefix}_nn"),
            F.count(F.when(F.col(ic) == pl, 1)).alias(f"{prefix}_m"),
        )
        out = df.join(F.broadcast(stats), how="cross")
        keep = (F.col(f"{prefix}_n") == 0) | (
            (F.col(f"{prefix}_m") == 0)
            & (F.col(f"{prefix}_n") == F.col(f"{prefix}_nn"))
            & pl.isNotNull()
        )
        return out.filter(keep).drop(
            f"{prefix}_n", f"{prefix}_nn", f"{prefix}_m"
        )
    if not sf.keys and not sf.extra:
        # uncorrelated [NOT] EXISTS: a constant gate. LIMIT 1 bounds
        # the probe (EXISTS only needs >= 1 row, so the scan
        # short-circuits) and the broadcast one-row side makes the
        # semi/anti a trivial BroadcastNestedLoop — one row against
        # the outer frame, no shuffle, no driver collect.
        probe = F.broadcast(
            inner.limit(1).select(F.lit(1).alias(f"{prefix}_g"))
        )
        return df.join(
            probe, F.lit(True), "left_anti" if sf.negated else "left_semi"
        )
    if sf.negated and sf.null_aware and len(sf.keys) > 1:
        # row-value NOT IN (round 9): (a, b) NOT IN S drops a row iff
        # some inner row is pairwise non-FALSE (each pair TRUE, or
        # UNKNOWN via a NULL on either side). The OR'd null-tolerant
        # condition cannot hash-join, so decompose by NULL pattern:
        #   A (all probe keys non-null — the bulk): a plain hash anti
        #     on all keys removes exact matches scalably, then a
        #     broadcast anti against ONLY the inner rows containing a
        #     NULL (usually tiny) resolves the UNKNOWN cases;
        #   B (some probe key NULL): such a row can only be dropped by
        #     an inner row matching on its non-null positions — a
        #     broadcast anti against the DISTINCT inner key set.
        # Empty S keeps every row, including NULL probes. The two
        # broadcast sides are DISTINCT key tuples: bounded by the
        # inner key cardinality, not the table. (This mirrors how
        # Spark itself plans null-aware anti joins — broadcast — but
        # keeps the bulk of the work on the hash path.)
        kc = [f"{prefix}_k{i}" for i in range(len(sf.keys))]
        ikeys = inner.select(
            *[F.col(ic).alias(k) for k, (_, ic) in zip(kc, sf.keys)]
        ).distinct()
        s_null = ikeys.filter(
            functools.reduce(
                lambda a, b: a | b, [F.col(k).isNull() for k in kc]
            )
        )
        ovs = [ov for ov, _ in sf.keys]
        probe_nonnull = functools.reduce(
            lambda a, b: a & b, [F.col(ov).isNotNull() for ov in ovs]
        )
        part_a = df.filter(probe_nonnull)
        part_b = df.filter(~probe_nonnull)
        a1 = part_a.join(
            ikeys,
            functools.reduce(
                lambda a, b: a & b,
                [F.col(ov) == F.col(k) for ov, k in zip(ovs, kc)],
            ),
            "left_anti",
        )
        cond_a = functools.reduce(
            lambda a, b: a & b,
            [
                F.col(k).isNull() | (F.col(ov) == F.col(k))
                for ov, k in zip(ovs, kc)
            ],
        )
        a2 = a1.join(F.broadcast(s_null), cond_a, "left_anti")
        cond_b = functools.reduce(
            lambda a, b: a & b,
            [
                F.col(ov).isNull()
                | F.col(k).isNull()
                | (F.col(ov) == F.col(k))
                for ov, k in zip(ovs, kc)
            ],
        )
        b2 = part_b.join(F.broadcast(ikeys), cond_b, "left_anti")
        return a2.unionByName(b2)
    if sf.negated and sf.null_aware:
        # NOT IN (subquery) three-valued NULL semantics, scalably:
        # an OR'd null-aware join condition would force a nested-loop
        # join, so split into (1) a hash anti join on the key — drops
        # real matches — and (2) a broadcast one-row aggregate of the
        # inner set deciding the NULL cases: an EMPTY set keeps every
        # row (even NULL probes); any inner NULL, or a NULL probe
        # against a non-empty set, yields UNKNOWN and drops the row.
        (ov, ic), = sf.keys  # validated single-key in build_context
        stats = inner.agg(
            F.count(F.lit(1)).alias(f"{prefix}_n"),
            F.count(F.col(ic)).alias(f"{prefix}_nn"),
        )
        keys = inner.select(F.col(ic).alias(f"{prefix}_k")).distinct()
        out = df.join(keys, F.col(ov) == F.col(f"{prefix}_k"), "left_anti")
        out = out.join(F.broadcast(stats), how="cross")
        keep = (F.col(f"{prefix}_n") == 0) | (
            (F.col(f"{prefix}_n") == F.col(f"{prefix}_nn"))
            & F.col(ov).isNotNull()
        )
        return out.filter(keep).drop(f"{prefix}_n", f"{prefix}_nn")
    need = [ic for _, ic in sf.keys]
    for cond in sf.extra:
        need += [c for a, c in cond.refs() if a == ""]
    ren: dict[str, str] = {}
    sel = []
    for c in dict.fromkeys(need):
        ren[c] = f"{prefix}_{len(ren)}"
        sel.append(F.col(c).alias(ren[c]))
    inner = inner.select(*sel)
    on = None
    for ov, ic in sf.keys:
        cond_col = F.col(ov) == F.col(ren[ic])
        on = cond_col if on is None else (on & cond_col)
    for cond in sf.extra:
        jmap = {("", c): ren[c] for c in ren}
        jmap.update({("@o", n): n for a, n in cond.refs() if a == "@o"})
        cond_col = cond.to_spark(jmap)
        on = cond_col if on is None else (on & cond_col)
    return df.join(inner, on, "left_anti" if sf.negated else "left_semi")


def build_relation_df(
    spark: SparkSession,
    catalog: Catalog,
    rel: Relation,
    local_filters: list[Cond],
    var_map,
    agg_cache: dict | None = None,
    semi_filters: list | None = None,
) -> DataFrame:
    """Materialize one relation with columns renamed to planner variables.

    scan → typed source scan (R1); agg → groupBy().agg() of the base
    table (R2/C21); local filters applied at the source so Catalyst
    pushes them into the scan (predicate pushdown). ``agg_cache`` (keyed
    by :func:`agg_signature`) shares ONE frame across identical
    aggregated views — the caller persists it when referenced twice, so
    the heaviest query family (graph q1/q3/q5 shapes: repeated COUNT
    views) scans and shuffles the base table once, not once per alias.
    """
    if rel.kind == "scan":
        df = catalog.get(rel.table).load(spark)
        if rel.sub_proj:
            # derived table (plans/context.py:_make_derived_relation):
            # base-column filters FIRST (they push into the scan and may
            # use unprojected columns), then the expression projection
            base_map = {("", c): c for c in df.columns}
            for cond in rel.pre_filters:
                df = df.filter(cond.to_spark(base_map))
            # lifted [NOT] EXISTS: semi/anti against the base frame
            # BEFORE the projection — the correlation column may not
            # survive it (plans/context.py derived-table notes)
            for i_sf, sf in enumerate(rel.pre_semi):
                df = _apply_semi_filter(spark, catalog, df, sf, f"__ps{i_sf}")
            df = df.select(
                *[e.to_spark(base_map).alias(n) for n, e in rel.sub_proj]
            )
    elif rel.kind == "agg":
        sig = agg_signature(rel)
        if agg_cache is not None and sig in agg_cache:
            df = agg_cache[sig]
        else:
            base = catalog.get(rel.table).load(spark)
            gcols = [F.col(b).alias(out) for b, out in rel.agg_group_cols]
            if rel.agg_arg_expr is not None:
                # expression argument (e.g. SUM(price * (1 - discount)));
                # refs may be unqualified or carry the subquery's FROM alias
                base_map = {("", c): c for c in base.columns}
                base_map.update({(rel.agg_base_alias, c): c for c in base.columns})
                agg = getattr(F, rel.agg_func)(rel.agg_arg_expr.to_spark(base_map))
            elif rel.agg_func == "count" and rel.agg_arg_col is None:
                agg = F.count(F.lit(1))
            else:
                arg = F.col(rel.agg_arg_col) if rel.agg_arg_col else F.lit(1)
                agg = getattr(F, rel.agg_func)(arg)
            df = base.groupBy(*gcols).agg(agg.alias(rel.agg_out_col))
            if agg_cache is not None:
                agg_cache[sig] = df
    else:
        raise UnsupportedSqlError(f"cannot materialize relation kind {rel.kind}")

    # rename columns -> variables; duplicate variables within one relation
    # become an equality filter + single column
    seen: dict[str, str] = {}
    cols: list[Column] = []
    extra_filters: list[Column] = []
    for c, v in rel.col_to_var.items():
        if v in seen:
            extra_filters.append(F.col(c) == F.col(seen[v]))
        else:
            seen[v] = c
            cols.append(F.col(c).alias(v))
    for flt in extra_filters:
        df = df.filter(flt)
    df = df.select(*cols)
    # local predicate pushdown (reference applySelfComparison R11 /
    # selection pushdown SURVEY §4.1)
    for cond in local_filters:
        df = df.filter(cond.to_spark(var_map))
    # planned [NOT] EXISTS (engine extension, plans/context.py:SemiFilter):
    # left_semi/left_anti against the filtered inner table — applied at
    # the source like any other pushed predicate, so the join tree,
    # acyclicity, and DISTINCT semantics are untouched (semi joins
    # never duplicate rows). NULL keys follow SQL: a NULL never
    # matches, so EXISTS drops the row and NOT EXISTS keeps it.
    for sf in semi_filters or []:
        df = _apply_semi_filter(spark, catalog, df, sf, "__sj")
    return df


class CqcExecutor:
    """Compile a Context into a DataFrame via the CQC two-phase plan."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        # aggregated views persisted because ≥2 aliases share them;
        # Spark's LRU evicts under pressure, clear_cache() forces it
        self.persisted: list[DataFrame] = []

    def clear_cache(self, blocking: bool = False) -> None:
        for df in self.persisted:
            df.unpersist(blocking=blocking)
        self.persisted.clear()

    def _build_all(self, ctx: Context) -> dict[int, DataFrame]:
        """Materialize every relation, sharing identical aggregated
        views (reference SqlPlusCompiler.scala:38-53).

        A view referenced by ≥2 aliases is persisted ONLY when its base
        table is not already Spark-cached: re-running a groupBy over a
        cached base is one in-memory agg — cheaper than writing a new
        cache entry — while at real scale (uncached 100 TB base) the
        persist saves a second full scan + shuffle. Frames persisted by
        a previous query are released first (execute-scoped lifecycle,
        so the executor's cache footprint stays bounded)."""
        from collections import Counter

        self.clear_cache()
        sig_counts = Counter(
            s for s in (agg_signature(r) for r in ctx.relations) if s is not None
        )
        agg_cache: dict = {}
        dfs = {
            r.rid: build_relation_df(
                self.spark,
                self.catalog,
                r,
                ctx.local_filters.get(r.rid, []),
                ctx.var_map,
                agg_cache=agg_cache,
                semi_filters=ctx.semi_filters.get(r.rid, []),
            )
            for r in ctx.relations
        }
        for sig, n in sig_counts.items():
            if n >= 2 and sig in agg_cache and not self._base_cached(sig[0]):
                agg_cache[sig].persist()
                self.persisted.append(agg_cache[sig])
        return dfs

    def _base_cached(self, table: str) -> bool:
        """Is the base table's DataFrame already in Spark's cache?"""
        try:
            meta = self.catalog.get(table)
            return meta.df is not None and meta.df.storageLevel.useMemory
        except Exception:
            return False

    # -- public -------------------------------------------------------------
    def execute(self, ctx: Context, reduce_mode: str = "selective") -> DataFrame:
        tree = gyo_join_tree(ctx.relations)
        if tree is None:
            raise UnsupportedSqlError("cyclic query — handled by the cyclic planner")
        return self.execute_tree(ctx, tree, reduce_mode)

    def execute_tree(
        self,
        ctx: Context,
        tree: JoinTree,
        reduce_mode: str = "selective",
        root_hint: str | None = None,
        count_mode: str = "rows",
    ) -> DataFrame:
        """reduce_mode:
        - 'full': classic Yannakakis — semi-join every edge, propagate
          every comparison (maximal pruning; pays one groupBy+join per
          edge — wins on dangling-heavy / highly selective data);
        - 'selective' (default): prune only where pruning can pay —
          edges whose child subtree carries a filter (or feeds a broken
          residual) AND whose pruning is not simply re-done by the
          enumeration (when the scope covers every relation — full and
          aggregation queries — each child re-joins inner at enumerate
          with filters folded into the join, so an optional semi-join
          first is redundant work: measured -34% on TPC-H Q3/Q10 at
          sf0.1 by skipping it); plus every edge leading OUT of the
          enumeration scope (those semi-joins are load-bearing for
          non-full semantics, not an optimization);
        - 'off': no reduction (debug).
        """
        var_map = ctx.var_map
        dfs = self._build_all(ctx)

        # ---- enumeration scope --------------------------------------------
        needed_vars = self._needed_vars(ctx)
        if ctx.is_full or ctx.aggregations or ctx.group_by:
            scope = set(tree.relations)
        else:
            scope = connex_subtree(tree, needed_vars)
            # free-connex branch dropping (reference restricts enumeration
            # to the connex subset, SqlPlusCompiler.scala:126-131): a
            # dropped component is exact only while ≤1 comparison touches
            # it — ≥2 independent min/max constraints can't guarantee a
            # single witness tuple, so such components rejoin the scope
            scope = self._extend_scope_for_comparisons(ctx, tree, scope)
        if root_hint is not None:
            # user-supplied enumeration root (reference C24 hint,
            # convert/HintHandler.scala — validated against the tree)
            root = ctx.relation_by_alias(root_hint).rid
            scope.add(root)
        else:
            root = choose_root(tree, ctx, scope)
        tree = tree.rerooted(root)
        # connexity: scope must be connected containing root; with our
        # needed-vars rule it is (Steiner subtree), re-rooting keeps it
        scope = self._close_scope(tree, scope)

        comps = [
            _CompState(
                cid=c.cid,
                op=c.op,
                left=_Side(host=c.left_rid, orig_expr=c.left),
                right=_Side(host=c.right_rid, orig_expr=c.right),
            )
            for c in ctx.comparisons
        ]

        # which subtrees can actually prune something?
        selective = self._selective_subtrees(ctx, tree)

        # comparisons touching a dropped relation MUST fully resolve
        # during reduction (their filters can't re-run at enumeration)
        must_resolve = {
            c.cid
            for c in comps
            if c.left.host not in scope or c.right.host not in scope
        }

        # ---- reduce phase (children before parents) ------------------------
        # when the scope covers every relation, optional reductions are
        # re-done by the enumeration joins themselves (inner join +
        # folded filters) — skip them (see reduce_mode docstring)
        scope_is_all = scope >= set(tree.relations)
        mf_cols: dict[int, list[str]] = {rid: [] for rid in tree.relations}
        for rid in tree.post_order():
            if rid == tree.root:
                continue
            mandatory = rid not in scope  # dropped subtree: semi-join IS the semantics
            hosts_pending = any(
                not c.resolved and c.cid in must_resolve and rid in (c.left.host, c.right.host)
                for c in comps
            )
            if reduce_mode == "off" and not (mandatory or hosts_pending):
                continue
            if (
                reduce_mode == "selective"
                and not mandatory
                and not hosts_pending
                and (scope_is_all or not selective[rid])
            ):
                continue
            dfs, comps = self._reduce_one(
                ctx, tree, dfs, comps, mf_cols, rid, in_scope=rid in scope
            )

        # root-level self-resolution: comparisons whose both endpoints
        # migrated to the root were already filtered in _migrate; nothing
        # else to do here.

        # ---- enumerate phase ------------------------------------------------
        global last_enumerate_mode
        if count_mode == "eager":
            counted = self._enumerate_counted(ctx, tree, dfs, mf_cols, scope)
            if counted is not None:
                last_enumerate_mode = "counted"
                return counted
        last_enumerate_mode = "rows"
        result = self._enumerate(ctx, tree, dfs, mf_cols, scope)
        return finalize(result, ctx)

    # -- helpers -----------------------------------------------------------
    def _needed_vars(self, ctx: Context) -> set[str]:
        vm = ctx.var_map
        needed: set[str] = set()
        for _, e in ctx.output:
            for a, c in e.refs():
                needed.add(vm[(a, c)])
        for e in ctx.group_by:
            for a, c in e.refs():
                needed.add(vm[(a, c)])
        for e, *_ in ctx.order_by:
            for a, c in e.refs():
                if (a, c) in vm:
                    needed.add(vm[(a, c)])
        for cond in ctx.residuals:
            for a, c in cond.refs():
                needed.add(vm[(a, c)])
        return needed

    def _extend_scope_for_comparisons(
        self, ctx: Context, tree: JoinTree, scope: set[int]
    ) -> set[int]:
        """Pull back into scope any dropped component touched by ≥2
        comparisons (single-comparison drops are ∃-exact via min/max
        propagation; multiple independent constraints are not)."""
        while True:
            dropped = set(tree.relations) - scope
            if not dropped:
                return scope
            # connected components of dropped nodes (tree edges only)
            comp_id: dict[int, int] = {}
            for rid in sorted(dropped):
                comp_id[rid] = rid
            changed = True
            while changed:
                changed = False
                for rid in dropped:
                    p = tree.parent.get(rid)
                    if p in dropped and comp_id[p] != comp_id[rid]:
                        tgt = min(comp_id[p], comp_id[rid])
                        src = max(comp_id[p], comp_id[rid])
                        for k, v in comp_id.items():
                            if v == src:
                                comp_id[k] = tgt
                        changed = True
            def boundary(rid: int) -> int | None:
                """First scope relation on the walk from rid toward the
                tree root (the point where a dropped subtree's min/max
                column enters the enumeration scope)."""
                cur = rid
                while cur not in scope:
                    if cur not in tree.parent:
                        return None
                    cur = tree.parent[cur]
                return cur

            touch: dict[int, set[int]] = {}
            unresolvable: set[int] = set()
            for comp in ctx.comparisons:
                in_dropped = [r for r in (comp.left_rid, comp.right_rid) if r in dropped]
                if not in_dropped:
                    continue
                for rid in in_dropped:
                    touch.setdefault(comp_id[rid], set()).add(comp.cid)
                # exactness: min/max propagation is per-tuple exact only
                # while it travels inside dropped subtrees; both sides
                # must surface at the SAME scope relation, where the
                # ∃-filter applies per boundary tuple
                sides = {boundary(comp.left_rid), boundary(comp.right_rid)}
                if len(sides) != 1 or None in sides:
                    unresolvable.add(comp.cid)
            # any component touched by ≥2 comparisons, or by an
            # unresolvable one, rejoins the scope
            bad_cids: set[int] = set(unresolvable)
            for comps_ in touch.values():
                if len(comps_) >= 2:
                    bad_cids |= comps_
            grew = False
            base = next(iter(sorted(scope)))
            for comp in ctx.comparisons:
                if comp.cid in bad_cids:
                    for rid in (comp.left_rid, comp.right_rid):
                        if rid not in scope:
                            scope |= set(tree.path(base, rid))
                            grew = True
            if not grew:
                return scope

    def _selective_subtrees(self, ctx: Context, tree: JoinTree) -> dict[int, bool]:
        """rid -> does the subtree rooted at rid carry any pruning power
        (a pushed-down filter)? Semi-joining an unfiltered complete
        subtree into its parent cannot remove parent rows on
        FK-complete data — it only costs a shuffle — so 'selective'
        mode skips those edges. (A residual equality from a break does
        not filter either side alone, so it does not count.)"""
        own: dict[int, bool] = {}
        for rel in ctx.relations:
            own[rel.rid] = bool(
                ctx.local_filters.get(rel.rid) or ctx.semi_filters.get(rel.rid)
            )
        out: dict[int, bool] = {}

        def walk(rid: int) -> bool:
            res = own[rid]
            for c in tree.children[rid]:
                res = walk(c) or res
            out[rid] = res
            return res

        walk(tree.root)
        return out

    def _close_scope(self, tree: JoinTree, scope: set[int]) -> set[int]:
        """Ensure scope is connected and contains the root (add path nodes)."""
        out = set(scope)
        out.add(tree.root)
        for rid in list(scope):
            cur = rid
            while cur in tree.parent and cur != tree.root:
                cur = tree.parent[cur]
                out.add(cur)
        return out

    def _reduce_one(
        self,
        ctx: Context,
        tree: JoinTree,
        dfs: dict[int, DataFrame],
        comps: list[_CompState],
        mf_cols: dict[int, list[str]],
        rid: int,
        in_scope: bool = True,
    ):
        """Reduce relation `rid` into its parent (one tree edge)."""
        parent = tree.parent[rid]
        key = list(tree.join_key(rid))
        child_df = dfs[rid]
        parent_df = dfs[parent]
        var_map = ctx.var_map

        incident = [c for c in comps if not c.resolved and rid in (c.left.host, c.right.host)]

        if not key and not incident:
            # cross-product edge with no migrating comparison: if the child
            # re-enters at enumeration there is nothing to prune; if it was
            # DROPPED from the enumeration scope its existential semantics
            # must survive here — parent keeps its rows iff child has ≥1 row
            if not in_scope:
                tag = f"__exists_{rid}"
                dfs[parent] = parent_df.crossJoin(
                    child_df.limit(1).select(F.lit(1).alias(tag))
                ).drop(tag)
            return dfs, comps

        if not incident:
            # plain Yannakakis semi-join (R10)
            dfs[parent] = parent_df.join(child_df.select(*key), key, "left_semi")
            return dfs, comps

        # comparisons incident to this child: build per-comparison min/max
        # extra columns over the reduced child, keyed by the join key
        # (R5+R6: sort + head ≡ groupBy().agg(min/max))
        aggs: list[Column] = []
        updates: list[tuple[_CompState, str, str]] = []  # (comp, side, mf_name)
        for comp in incident:
            side_name = "l" if comp.left.host == rid else "r"
            side = comp.left if side_name == "l" else comp.right
            # direction: does the parent need the child's min or max?
            # l OP r with OP in {<,<=}: exists l < r  <=>  min(l) < r
            #                           exists r > l  <=>  max(r) > l
            want_min = (side_name == "l") == (comp.op in ("<", "<="))
            mf_name = f"__mf_{comp.cid}_{side_name}"
            agg_fn = F.min if want_min else F.max
            aggs.append(agg_fn(side.column(var_map)).alias(mf_name))
            updates.append((comp, side_name, mf_name))

        if key:
            extras = child_df.groupBy(*key).agg(*aggs)
            # inner join appends mf columns AND semi-joins the parent on the
            # key (R7 appendExtraColumn: cogroup + append)
            parent_df = parent_df.join(extras, key, "inner")
        else:
            # keyless edge: a one-row GLOBAL min/max still migrates the
            # comparison exactly (∃ child row OP parent expr ⇔ extreme OP
            # parent expr). An empty child yields NULL aggregates, so the
            # resolved filter rejects every parent row — the existential
            # semantics of a dropped keyless child is preserved.
            extras = child_df.groupBy().agg(*aggs)
            parent_df = parent_df.crossJoin(extras)
        mf_cols[parent].extend(m for _, _, m in updates)

        # migrate endpoints; resolve when both endpoints now share a host
        for comp, side_name, mf_name in updates:
            side = comp.left if side_name == "l" else comp.right
            side.host = parent
            side.phys = mf_name
            if comp.left.host == comp.right.host:
                # both endpoints co-located -> exact ∃-pruning filter
                parent_df = parent_df.filter(
                    _cmp(comp.op, comp.left.column(var_map), comp.right.column(var_map))
                )
                comp.resolved = True

        dfs[parent] = parent_df
        return dfs, comps

    def _enumerate_counted(
        self,
        ctx: Context,
        tree: JoinTree,
        dfs: dict[int, DataFrame],
        mf_cols: dict[int, list[str]],
        scope: set[int],
    ) -> DataFrame | None:
        """Eager COUNT propagation (semiring annotation): for
        COUNT(*)-only aggregations over plain group columns, counts are
        pre-aggregated per relation and multiplied up the join tree,
        re-grouping after every join to only the variables still needed
        (group-by vars + unapplied condition vars + future join keys).

        Intermediates stay at distinct-combination size instead of the
        full path bag — a 4-hop COUNT per source materializes pair-count
        tables, never the m·d̄³ path rows (the AJAR / eager
        group-by-pushdown idea; the reference has no counterpart, its
        aggregations were planner-only). Exactness: COUNT(*) over the
        join is the semiring sum of per-relation multiplicity products;
        every filter's variables are retained in the grouping key until
        the filter is applied, so filters see the same groups the
        row-level plan would. Returns None when the query shape is not
        eligible (caller falls back to row-level enumeration).

        OPT-IN (count_mode='eager'): on sparse graphs distinct pairs ≈
        paths, so nothing collapses and the per-step aggregations are
        pure overhead — measured 1.6× slower on the sf0.01 test graph
        (avg out-degree ~4) — while on dense inputs (paths ≫ pairs) the
        collapse is the difference between pair-sized and bag-sized
        intermediates. Same dense-only verdict as the WCOJ kernel; see
        SCALING.md.
        """
        if not ctx.aggregations or not ctx.group_by or ctx.distinct:
            return None
        if any(
            a.func != "count" or not isinstance(getattr(a, "arg", None), Star)
            for _, a in ctx.aggregations
        ):
            return None
        # only worth the extra per-step aggregations when the plan has
        # ≥2 GROWTH joins (join key does not cover the child's PK —
        # path/graph shapes); pure FK-lookup plans keep the row plan
        growth = sum(
            1
            for rid in scope
            if rid != tree.root
            and not (
                set(tree.relations[rid].primary_key_vars)
                and set(tree.relations[rid].primary_key_vars)
                <= set(tree.join_key(rid))
            )
        )
        if growth < 2:
            return None
        var_map = ctx.var_map
        # group-by: plain columns only
        group_vars: list[str] = []
        for e in ctx.group_by:
            if not isinstance(e, Col):
                return None
            group_vars.append(var_map[(e.alias, e.name)])
        # outputs: plain group columns or bare COUNT(*) calls only
        out_plan: list[tuple[str, str]] = []  # (output name, source column)
        for name, e in ctx.output:
            if isinstance(e, Col):
                v = var_map[(e.alias, e.name)]
                if v not in group_vars:
                    return None
                out_plan.append((name, v))
            elif isinstance(e, AggCall) and e.func == "count" and isinstance(e.arg, Star):
                out_plan.append((name, "__cnt"))
            else:
                return None
        # ORDER BY: output aliases or exact output expressions only
        # (those are what _order_limit can resolve on the shaped frame)
        out_names = {n for n, _ in ctx.output}
        for e, *_ in ctx.order_by:
            if isinstance(e, Col) and e.alias == "" and e.name in out_names:
                continue
            if any(oe.key() == e.key() for _, oe in ctx.output):
                continue
            return None

        alias_rid = {r.alias: r.rid for r in ctx.relations}
        pending: list[tuple[set[int], set[str], object]] = []
        for comp in ctx.comparisons:
            if not {comp.left_rid, comp.right_rid} <= scope:
                continue
            vars_ = {
                var_map[(a, c)]
                for a, c in list(comp.left.refs()) + list(comp.right.refs())
            }
            pending.append(
                (
                    {comp.left_rid, comp.right_rid},
                    vars_,
                    lambda c=comp: _cmp(
                        c.op, c.left.to_spark(var_map), c.right.to_spark(var_map)
                    ),
                )
            )
        for cond in ctx.residuals:
            hosts = {alias_rid[a] for a, _ in cond.refs() if a in alias_rid}
            vars_ = {var_map[(a, c)] for a, c in cond.refs() if (a, c) in var_map}
            pending.append((hosts, vars_, lambda c=cond: c.to_spark(var_map)))

        def clean(rid: int) -> DataFrame:
            df = dfs[rid]
            drop = [c for c in mf_cols[rid] if c in df.columns]
            return df.drop(*drop) if drop else df

        gv = set(group_vars)
        joined: set[int] = {tree.root}
        applied: list[bool] = [False] * len(pending)

        def needed_now() -> set[str]:
            need = set(gv)
            for i, (hosts, vars_, _) in enumerate(pending):
                if not applied[i]:
                    need |= vars_
            for rid in scope - joined:
                need |= set(tree.join_key(rid))
            return need

        def regroup(df: DataFrame) -> DataFrame:
            cols = set(df.columns) - {"__cnt"}
            keep = sorted(needed_now() & cols)
            if set(keep) == cols:
                return df  # nothing to collapse — skip the shuffle
            return df.groupBy(*keep).agg(F.sum("__cnt").alias("__cnt"))

        def apply_ready(df: DataFrame) -> DataFrame:
            for i, (hosts, _, build) in enumerate(pending):
                if not applied[i] and hosts and hosts <= joined:
                    df = df.filter(build())
                    applied[i] = True
            return df

        root_df = clean(tree.root).withColumn("__cnt", F.lit(1).cast("long"))
        result = regroup(apply_ready(root_df))

        def join_score(rid: int) -> tuple[int, int]:
            rel = tree.relations[rid]
            key = set(tree.join_key(rid))
            pk = set(rel.primary_key_vars)
            score = 0 if pk and pk <= key else 1
            for i, (hosts, _, _) in enumerate(pending):
                if applied[i] or rid not in hosts:
                    continue
                if not (hosts - {rid} <= joined):
                    score += 2
            return (score, rel.cardinality or 1 << 40)

        # generalized frontier (same rule as _enumerate): joinable once
        # the key variables are present in the accumulated result
        result_vars = set(tree.relations[tree.root].variables)
        remaining = {rid for rid in scope if rid != tree.root}
        while remaining:
            ready = [
                r
                for r in remaining
                if (tree.join_key(r) and set(tree.join_key(r)) <= result_vars)
                or tree.parent.get(r) in joined
            ]
            ready.sort(key=join_score)
            rid = ready[0]
            remaining.discard(rid)
            key = list(tree.join_key(rid))
            joined.add(rid)
            result_vars |= set(tree.relations[rid].variables)
            child = clean(rid)
            child_cols = set(child.columns)
            child_keep = sorted((needed_now() | set(key)) & child_cols)
            if set(child_keep) == child_cols:
                # no columns to collapse: each row counts 1 (identical
                # result, avoids a pure-shuffle pre-agg)
                child_agg = child.withColumn("__c", F.lit(1).cast("long"))
            else:
                child_agg = child.groupBy(*child_keep).agg(
                    F.count(F.lit(1)).cast("long").alias("__c")
                )
            if key:
                result = result.join(child_agg, key, "inner")
            else:
                result = result.crossJoin(child_agg)
            result = result.withColumn(
                "__cnt", F.col("__cnt") * F.col("__c")
            ).drop("__c")
            result = regroup(apply_ready(result))

        for i, (hosts, _, build) in enumerate(pending):
            if not applied[i]:
                result = result.filter(build())
        # final grouping + output shaping
        result = result.groupBy(*sorted(gv)).agg(F.sum("__cnt").alias("__cnt"))
        out_cols = [F.col(src).alias(name) for name, src in out_plan]
        result = result.select(*out_cols)
        return _order_limit(result, ctx, post_agg=False)

    def _enumerate(
        self,
        ctx: Context,
        tree: JoinTree,
        dfs: dict[int, DataFrame],
        mf_cols: dict[int, list[str]],
        scope: set[int],
    ) -> DataFrame:
        var_map = ctx.var_map
        alias_rid = {r.alias: r.rid for r in ctx.relations}

        def clean(rid: int) -> DataFrame:
            df = dfs[rid]
            drop = [c for c in mf_cols[rid] if c in df.columns]
            return df.drop(*drop) if drop else df

        # pending cross-relation conditions: (hosts, spark-condition-builder);
        # comparisons touching a dropped relation were fully resolved by
        # forced min/max propagation during reduce — their columns no
        # longer exist here
        pending_conds: list[tuple[int, set[int], object]] = []
        for comp in ctx.comparisons:
            if not {comp.left_rid, comp.right_rid} <= scope:
                continue
            pending_conds.append(
                (
                    id(comp),
                    {comp.left_rid, comp.right_rid},
                    lambda c=comp: _cmp(
                        c.op, c.left.to_spark(var_map), c.right.to_spark(var_map)
                    ),
                )
            )
        for cond in ctx.residuals:
            hosts = {alias_rid[a] for a, _ in cond.refs() if a in alias_rid}
            pending_conds.append((id(cond), hosts, lambda c=cond: c.to_spark(var_map)))

        applied: set[int] = set()
        joined: set[int] = {tree.root}
        result = clean(tree.root)

        def apply_ready(result: DataFrame) -> DataFrame:
            # filters right after the enabling join — Catalyst folds them
            # into the join condition, so constrained growth never
            # materializes the unconstrained intermediate
            for key_, hosts, build in pending_conds:
                if key_ in applied or not hosts:
                    continue
                if hosts <= joined:
                    result = result.filter(build())
                    applied.add(key_)
            return result

        result = apply_ready(result)

        def join_score(rid: int) -> tuple[int, int, int]:
            """Order frontier joins: PK-covered lookups first (no row
            growth), then growth joins whose pending conditions become
            applicable (constrained), then unconstrained growth whose
            conditions still wait on other relations (worst: defer).
            Tie-breaks: filter-carrying children first (a selective
            lookup shrinks the stream before unfiltered lookups — TPC-H
            Q17's brand filter before the unfiltered AVG view), then
            cardinality."""
            rel = tree.relations[rid]
            key = set(tree.join_key(rid))
            pk = set(rel.primary_key_vars)
            score = 0 if pk and pk <= key else 1
            for key_, hosts, _ in pending_conds:
                if key_ in applied or rid not in hosts:
                    continue
                if not (hosts - {rid} <= joined):
                    score += 2  # joining now creates growth a later filter would bound
            filtered = (
                0
                if (ctx.local_filters.get(rid) or ctx.semi_filters.get(rid))
                else 1
            )
            return (score, filtered, rel.cardinality or 1 << 40)

        # generalized frontier: a relation is joinable once its tree
        # join-key variables are all present in the accumulated result —
        # not only once its tree PARENT joined. Running intersection
        # guarantees the parent key covers every variable shared with
        # any other relation, so an early join on those variables is
        # exact; this frees the ordering to put a selective filtered
        # lookup before an unfiltered one even when the tree nests them
        # (TPC-H Q17: part-with-brand-filter before the AVG view).
        result_vars = set(tree.relations[tree.root].variables)
        remaining = {rid for rid in scope if rid != tree.root}
        while remaining:
            ready = [
                r
                for r in remaining
                if (tree.join_key(r) and set(tree.join_key(r)) <= result_vars)
                or tree.parent.get(r) in joined
            ]
            ready.sort(key=join_score)
            rid = ready[0]
            remaining.discard(rid)
            key = list(tree.join_key(rid))
            child = clean(rid)
            if key:
                result = result.join(child, key, "inner")
            else:
                result = result.crossJoin(child)
            joined.add(rid)
            result_vars |= set(tree.relations[rid].variables)
            result = apply_ready(result)

        # safety net: anything whose hosts never fully joined (shouldn't
        # happen — scope covers all condition refs)
        for key_, hosts, build in pending_conds:
            if key_ not in applied:
                result = result.filter(build())
        return result


# debug/testing probe: which enumerate path did the last execute use?
last_enumerate_mode: str | None = None


def _cmp(op: str, l: Column, r: Column) -> Column:
    return {"<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r}[op]


def _agg_subcalls_of(expr) -> list:
    from sparksqlplus_spark.plans.context import _agg_subcalls

    return _agg_subcalls(expr)


def _replace_known(expr, phys: dict[str, str]):
    """Replace any subexpression whose key() is computed (group expr or
    aggregate) with a reference to its physical post-agg column."""
    from sparksqlplus_spark.expressions import map_expr

    def fn(node):
        k = getattr(node, "key", None)
        if k is not None and node.key() in phys:
            return Col("#", phys[node.key()])
        return None

    return map_expr(expr, fn)


def finalize(result: DataFrame, ctx: Context) -> DataFrame:
    """Shared tail: computations, aggregation, distinct, order, limit.

    Executes what the reference left planner-only: top-level aggregation
    (C20) and top-k (C22); applies the non-full ⇒ DISTINCT semantics (C23).
    """
    var_map = ctx.var_map

    if ctx.aggregations or ctx.group_by:
        # physical name for every distinct expression computed by the
        # groupBy: group expressions + each unique AggCall subexpression
        phys: dict[str, str] = {}  # expr.key() -> physical column
        group_cols: list[Column] = []
        group_names: list[str] = []
        for i, e in enumerate(ctx.group_by):
            if e.key() in phys:
                continue
            name = next((n for n, oe in ctx.output if oe.key() == e.key()), f"__gb_{i}")
            phys[e.key()] = name
            group_cols.append(e.to_spark(var_map).alias(name))
            group_names.append(name)
        def mk_agg(sub) -> Column:
            # GROUPING(e) must reference the materialized group COLUMN
            # (Spark matches grouping() args against the grouped frame's
            # expressions) — resolve through phys, not var_map
            if sub.func == "grouping" and ctx.group_mode != "plain":
                if sub.arg.key() not in phys:
                    raise UnsupportedSqlError(
                        "GROUPING() argument must be a GROUP BY expression"
                    )
                return F.grouping(F.col(phys[sub.arg.key()]))
            return sub.to_spark(var_map)

        agg_cols: list[Column] = []
        for n, oe in ctx.output:
            for sub in _agg_subcalls_of(oe):
                if sub.key() in phys:
                    continue
                name = n if oe.key() == sub.key() else f"__agg_{len(agg_cols)}"
                phys[sub.key()] = name
                agg_cols.append(mk_agg(sub).alias(name))
        for e, *_ in ctx.order_by:
            for sub in _agg_subcalls_of(e):
                if sub.key() not in phys:
                    name = f"__agg_{len(agg_cols)}"
                    phys[sub.key()] = name
                    agg_cols.append(mk_agg(sub).alias(name))
        # HAVING may use aggregates that are in neither the output nor
        # the sort list — compute them as helper columns the same way
        for cond in ctx.having:
            for sub in _agg_subcalls_of(cond):
                if sub.key() not in phys:
                    name = f"__agg_{len(agg_cols)}"
                    phys[sub.key()] = name
                    agg_cols.append(mk_agg(sub).alias(name))
        if not agg_cols:
            # GROUP BY without aggregates ≡ DISTINCT over the group exprs
            result = result.select(*group_cols).distinct()
        elif ctx.group_mode != "plain":
            # ROLLUP / CUBE / GROUPING SETS (engine extension):
            # materialize the group expressions as named columns first,
            # then hand the plain names to the grouped frame — Spark's
            # rollup/cube/groupingSets need the set members to be the
            # same expressions, which plain names guarantee
            gnames = group_names
            for name, gc in zip(gnames, group_cols):
                result = result.withColumn(name, gc)
            if ctx.group_mode == "rollup":
                gd = result.rollup(*gnames)
            elif ctx.group_mode == "cube":
                gd = result.cube(*gnames)
            else:
                # indices point into ctx.group_by; resolve through phys
                # (duplicate group exprs collapse to one physical name,
                # so a set can never silently lose a member)
                sets = [
                    list(
                        dict.fromkeys(
                            phys[ctx.group_by[i].key()] for i in s
                        )
                    )
                    for s in ctx.grouping_sets
                ]
                gd = result.groupingSets(sets, *gnames)
            result = gd.agg(*agg_cols)
        elif group_cols:
            result = result.groupBy(*group_cols).agg(*agg_cols)
        else:
            result = result.agg(*agg_cols)
        # rebuild each output over the aggregated frame
        post_map = {("#", p): p for p in phys.values()}
        # HAVING: post-aggregation filter (validated in build_context to
        # reference only group expressions and aggregates)
        for cond in ctx.having:
            result = result.filter(_replace_known(cond, phys).to_spark(post_map))
        out_cols = []
        for n, oe in ctx.output:
            reb = _replace_known(oe, phys)
            out_cols.append(reb.to_spark(post_map).alias(n))
        keep_sorts = []
        for i, (e, desc, nulls) in enumerate(ctx.order_by):
            if isinstance(e, Col) and e.alias == "":
                continue  # resolved by output alias below
            reb = _replace_known(e, phys)
            try:
                sp = reb.to_spark(post_map)
            except KeyError as missing:
                # ANSI-invalid: the sort expression references a column
                # that is neither grouped nor aggregated (round-16 fuzz
                # tail draws found finalize leaking a raw KeyError
                # here). Raise cleanly — under mode='auto' the
                # spark.sql fallback then surfaces Spark's own
                # AnalysisException for the invalid statement.
                raise UnsupportedSqlError(
                    "ORDER BY expression references a column not "
                    f"available after aggregation: {missing}"
                ) from None
            keep_sorts.append(sp.alias(f"__sort_{i}"))
        result = result.select(*out_cols, *keep_sorts)
        result = _order_limit(result, ctx, post_agg=True)
        result = result.select(*[F.col(n) for n, _ in ctx.output])
    else:
        sort_cols: list[Column] = []
        helper_sorts: list[tuple[int, bool]] = []  # (order_by idx, desc)
        out_names = {n for n, _ in ctx.output}
        for i, (e, desc, nulls) in enumerate(ctx.order_by):
            if isinstance(e, Col) and e.alias == "" and e.name in out_names:
                continue  # sorts on an output alias; handled post-projection
            sort_cols.append(e.to_spark(var_map).alias(f"__sort_{i}"))
            helper_sorts.append((i, desc))
        proj = [e.to_spark(var_map).alias(n) for n, e in ctx.output]
        result = result.select(*proj, *sort_cols)
        if not ctx.is_full or ctx.distinct:
            # non-full ⇒ set semantics (reference rewrites SELECT -> SELECT
            # DISTINCT for the baseline, CompileController.java:98-101).
            # Dedup must run over the OUTPUT columns only — an ORDER BY on
            # a non-output expression must not widen the distinct key, so
            # each helper sort key collapses to its best rank per output
            # row (min for asc, max for desc — deterministic).
            if helper_sorts:
                aggs = [
                    (F.max if desc else F.min)(F.col(f"__sort_{i}")).alias(f"__sort_{i}")
                    for i, desc in helper_sorts
                ]
                result = result.groupBy(*[F.col(n) for n, _ in ctx.output]).agg(*aggs)
            else:
                result = result.dropDuplicates()
        result = _order_limit(result, ctx, post_agg=False)
        result = result.select(*[F.col(n) for n, _ in ctx.output])
    return result


def _sort_col(col: Column, desc: bool, nulls: str | None) -> Column:
    """ORDER BY direction + NULLS FIRST/LAST (round 10); None keeps
    the Spark default (ASC nulls first, DESC nulls last — DuckDB
    agrees, so oracles match without an explicit spec)."""
    if nulls == "first":
        return col.desc_nulls_first() if desc else col.asc_nulls_first()
    if nulls == "last":
        return col.desc_nulls_last() if desc else col.asc_nulls_last()
    return col.desc() if desc else col.asc()


def _order_limit(result: DataFrame, ctx: Context, post_agg: bool) -> DataFrame:
    if ctx.order_by:
        sort_exprs: list[Column] = []
        for i, (e, desc, nulls) in enumerate(ctx.order_by):
            col = None
            if isinstance(e, Col) and e.alias == "":
                if e.name in result.columns:
                    col = F.col(e.name)
            if col is None:
                # match by expression key against outputs
                for n, oe in ctx.output:
                    if oe.key() == e.key() and n in result.columns:
                        col = F.col(n)
                        break
            if col is None and f"__sort_{i}" in result.columns:
                col = F.col(f"__sort_{i}")
            if col is None:
                if post_agg:
                    col = e.to_spark(ctx.var_map)
                else:
                    raise UnsupportedSqlError(f"cannot resolve ORDER BY expr {e.key()}")
            sort_exprs.append(_sort_col(col, desc, nulls))
        result = result.orderBy(*sort_exprs)
    if ctx.offset is not None:
        # skip-then-take: Spark's offset composes with the sorted
        # child; applying limit first would truncate the wrong rows
        result = result.offset(ctx.offset)
    if ctx.limit is not None:
        result = result.limit(ctx.limit)
    return result


def naive_execute(spark: SparkSession, catalog: Catalog, ctx: Context) -> DataFrame:
    """Baseline executor: greedy connected equi-joins + filters.

    Works for any Context shape (including cyclic queries, where it is
    the stand-in until the break/GHD planner lands) and doubles as the
    correctness cross-check in tests — analogous to the reference's
    paired `QueryNSparkSQL` baseline programs.
    """
    var_map = ctx.var_map
    agg_cache: dict = {}
    dfs = {
        r.rid: build_relation_df(
            spark, catalog, r, ctx.local_filters.get(r.rid, []), var_map,
            agg_cache=agg_cache, semi_filters=ctx.semi_filters.get(r.rid, []),
        )
        for r in ctx.relations
    }
    remaining = sorted(dfs)
    first = remaining.pop(0)
    result = dfs[first]
    result_vars = set(ctx.relations[first].variables)
    while remaining:
        pick = None
        for rid in remaining:
            if ctx.relations[rid].variables & result_vars:
                pick = rid
                break
        if pick is None:
            pick = remaining[0]  # cross product
        remaining.remove(pick)
        shared = sorted(ctx.relations[pick].variables & result_vars)
        if shared:
            result = result.join(dfs[pick], shared, "inner")
        else:
            result = result.crossJoin(dfs[pick])
        result_vars |= set(ctx.relations[pick].variables)
    for comp in ctx.comparisons:
        result = result.filter(
            _cmp(comp.op, comp.left.to_spark(var_map), comp.right.to_spark(var_map))
        )
    for cond in ctx.residuals:
        result = result.filter(cond.to_spark(var_map))
    return finalize(result, ctx)
