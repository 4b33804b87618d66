"""Three-valued flags for correlated and constant-probe NOT IN.

``probe NOT IN (SELECT y FROM t WHERE <group equalities> AND <threshold
comparisons>)`` is TRUE when the outer row's inner set is empty, FALSE
when some set row equals the probe, and UNKNOWN when it is unmatched
but the set holds a NULL y or the probe itself is NULL. Each family
below derives three facts over the set: it is non-empty (``W_a``), it
holds a NULL y (``W_n``), and the probe matched (``W_m``), and returns
the flag as an ``expressions`` CASE over them:

  * group keys only (no threshold, or no correlation at all): per-group
    ``(n, nn[, m])`` counts and a DISTINCT ``(group, y)`` match view;
  * one threshold ``c OP d``, keyed or keyless: per-group extremes of c
    (MIN/MAX; ``<>`` carries a distinct count and a unique value);
  * keyless 2-5 order comparisons: Pareto skylines (plans/frontier.py);
  * keyless ``<>`` + order: the argmin/runner-up triple;
  * keyless ``<>`` + ``<>``: the diagonal-witness statistic;
  * keyless ``<>``-containing triples: the U/V and prefix-diagonal
    statistics.

One flag serves both call sites. A WHERE conjunct keeps the rows whose
flag IS TRUE (compiler/cqc.py:_apply_semi_filter), and ``P OR x NOT IN
(...)`` evaluates the flag row by row (api.SparkSQLPlus._lift_or_exists).
The sites differ only in how a view reaches the outer rows: each family
hands each view to ``attach(view, pairs)``, which joins it on ``pairs``
(outer Expr, view column) — LEFT, never duplicating, since every view is
one row per join key — or, for ``pairs == []``, attaches a one-row view
to every row. ``attach`` returns the alias under which the flag refers
to the view's columns. Views only ever add columns; the keyless set and
NULL-y facts fold at plan time into one-row views or literals.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparksqlplus_spark.expr_memo import col as _col
from sparksqlplus_spark.expressions import (
    AndCond,
    CaseWhen,
    Cmp,
    Col,
    IsNull,
    Lit,
    Neq2OrderWitness,
    NeqTripleWitness,
    OrCond,
    SkyWitness,
)
from sparksqlplus_spark.parser.sql import RoutedToFallback, UnsupportedSqlError

ORDER_OPS = ("<", "<=", ">", ">=")
_TRUE = Lit(True, "boolean")
_FALSE = Lit(False, "boolean")
_NULL = Lit(None, "null")
_COMPLEMENT = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}


def not_in_family(ops) -> str:
    """The flag family of a NOT IN whose inner set is filtered by
    threshold comparisons with ``ops`` (each oriented ``<inner col> op
    <outer expr>``): the one shape classifier both call sites use.
    Raises UnsupportedSqlError (the spark.sql fallback) for shapes with
    no constant-size statistic: 3-``<>`` triples, ``<>``-containing
    quads and anything above five comparisons."""
    ops = list(ops)
    n_neq = ops.count("<>")
    if all(o in (*ORDER_OPS, "<>") for o in ops):
        if not ops:
            return "keys"
        if len(ops) == 1:
            return "threshold"
        if not n_neq and len(ops) <= 5:
            return "skyline"
        if len(ops) == 2:
            return "neq_pair" if n_neq == 2 else "neq_order"
        if len(ops) == 3 and n_neq <= 2:
            return "neq_triple"
    raise UnsupportedSqlError(
        "correlated NOT IN plans one threshold comparison, 2-5 order "
        "comparisons, a <> pair or <> + order pair, or a triple with "
        "one or two <>"
    )


def not_in_flag(inner, probe, corr, thrs, attach):
    """The three-valued flag of ``probe NOT IN (inner set)``.

    ``inner`` is the subquery table with its inner-only predicates
    applied; ``probe`` is ``(outer Expr, inner column)`` (an Expr with
    no refs is a constant probe); ``corr`` lists the group equalities
    as ``(outer Expr, inner column)``; ``thrs`` lists the threshold
    comparisons as ``(op, outer Expr, inner column)``. Keyed groups
    with two or more thresholds have no native plan: Catalyst's own
    decorrelation measured faster (SCALING.md round-14 A/B)."""
    family = not_in_family(t[0] for t in thrs)
    if corr and family not in ("keys", "threshold"):
        raise RoutedToFallback(
            "keyed multi-comparison correlated NOT IN runs on the "
            "spark.sql fallback in every mode (Catalyst decorrelation "
            "measured faster — SCALING.md round-14 A/B)"
        )
    if family == "keys":
        return _keys_flag(inner, probe, corr, attach)
    if family == "threshold":
        return _threshold_flag(inner, probe, corr, thrs[0], attach)
    return _KEYLESS[family](inner, probe, thrs, attach)


def lit_of(v):
    """expressions.Lit from a collected Python scalar (the plan-time
    stat folds' literal rebuilder)."""
    import datetime

    if isinstance(v, bool):
        return Lit(v, "boolean")
    if isinstance(v, int):
        return Lit(v, "bigint")
    if isinstance(v, float):
        return Lit(v, "double")
    if isinstance(v, datetime.datetime):
        return Lit(v, "timestamp")
    if isinstance(v, datetime.date):
        return Lit(v, "date")
    return Lit(v, "str")


def _any(conds):
    return conds[0] if len(conds) == 1 else OrCond(tuple(conds))


def _all(conds):
    return conds[0] if len(conds) == 1 else AndCond(tuple(conds))


def _group_view_cols(corr):
    """(inner column -> view column) for the group keys, and the join
    pairs that pin them; a column equated twice is carried once."""
    gsel: dict[str, str] = {}
    for _, ic in corr:
        gsel.setdefault(ic, f"__g{len(gsel)}")
    gcols = [_col(ic).alias(g) for ic, g in gsel.items()]
    return gcols, [(oc, gsel[ic]) for oc, ic in corr]


def _keys_flag(inner, probe, corr, attach):
    """Group keys only (an empty ``corr`` is the uncorrelated set). One
    grouped ``(n, nn)`` stats view — a constant probe's match count
    rides in the same row — and, for a column probe, a DISTINCT
    ``(group, y)`` match view. Keyless, the stats are one global row."""
    p_out, p_col = probe
    gcols, gpairs = _group_view_cols(corr)
    aggs = [F.count(F.lit(1)).alias("__n"), F.count(_col(p_col)).alias("__nn")]
    const = not p_out.refs()
    if const:
        pl = p_out.to_spark({})
        aggs.append(F.count(F.when(_col(p_col) == pl, 1)).alias("__m"))
    s = attach(inner.groupBy(*gcols).agg(*aggs), gpairs)
    if const:
        matched = Cmp(">", Col(s, "__m"), Lit(0, "int"))
    else:
        match = (
            inner.filter(_col(p_col).isNotNull())
            .select(*gcols, _col(p_col).alias("__mp"))
            .distinct()
        )
        m = attach(match, gpairs + [(p_out, "__mp")])
        matched = IsNull(Col(m, "__mp"), negated=True)
    n = Col(s, "__n")
    return CaseWhen(
        (
            # a group miss (keyed) or a zero global count: empty set
            (IsNull(n) if corr else Cmp("=", n, Lit(0, "int")), _TRUE),
            (matched, _FALSE),
            (Cmp("<", Col(s, "__nn"), n), _NULL),
            (IsNull(p_out), _NULL),
        ),
        _TRUE,
    )


def _threshold_flag(inner, probe, corr, thr, attach):
    """One threshold ``c OP d``, keyed or keyless. Each fact is
    monotone in d, so one extreme of c per fact population decides it:
    ``best(c) OP d`` with best = MIN for < <=, MAX for > >=. For ``<>``
    a population qualifies iff it has two distinct c values (one must
    differ from any non-NULL d) or its unique c differs, so it carries
    ``(count_distinct(c), min(c))``. Rows with a NULL c never qualify
    and are dropped. Stats are one row per group (one global row
    keyless); the match view one row per ``(group, y)``."""
    op, d, c = thr
    p_out, p_col = probe
    neq = op == "<>"
    best = F.min if op in ("<", "<=", "<>") else F.max

    def aggs_of(pred, tag):
        cval = F.when(pred, _col(c)) if pred is not None else _col(c)
        out = [best(cval).alias(f"{tag}v")]
        if neq:
            out.append(F.count_distinct(cval).alias(f"{tag}c"))
        return out

    def fact(alias, tag):
        # UNKNOWN on a join miss, which every CASE branch skips
        if neq:
            return OrCond(
                (
                    Cmp(">=", Col(alias, f"{tag}c"), Lit(2, "int")),
                    Cmp("<>", Col(alias, f"{tag}v"), d),
                )
            )
        return Cmp(op, Col(alias, f"{tag}v"), d)

    inner_t = inner.filter(_col(c).isNotNull())
    gcols, gpairs = _group_view_cols(corr)
    aggs = [*aggs_of(None, "__a"), *aggs_of(_col(p_col).isNull(), "__n")]
    const = not p_out.refs()
    if const:
        aggs += aggs_of(_col(p_col) == p_out.to_spark({}), "__m")
    s = attach(inner_t.groupBy(*gcols).agg(*aggs), gpairs)
    m = s
    if not const:
        match = (
            inner_t.filter(_col(p_col).isNotNull())
            .groupBy(*gcols, _col(p_col).alias("__mp"))
            .agg(*aggs_of(None, "__m"))
        )
        m = attach(match, gpairs + [(p_out, "__mp")])
    # the set is empty on a group miss (NULL extreme), a NULL d (c OP
    # NULL is UNKNOWN for every row), or no c within the threshold
    av = Col(s, "__av")
    if neq:
        outside = AndCond(
            (Cmp("=", Col(s, "__ac"), Lit(1, "int")), Cmp("=", av, d))
        )
    else:
        outside = Cmp(_COMPLEMENT[op], av, d)
    return CaseWhen(
        (
            (IsNull(av), _TRUE),
            (OrCond((IsNull(d), outside)), _TRUE),
            (fact(m, "__m"), _FALSE),
            (fact(s, "__n"), _NULL),
            (IsNull(p_out), _NULL),
        ),
        _TRUE,
    )


def _keyless_flag(w_a, w_m, w_n, probe, d_outs):
    """The flag over the keyless facts' witnesses: a NULL threshold
    empties the set, then matched -> FALSE, a NULL y within or a NULL
    probe against a non-empty set -> UNKNOWN, else TRUE (an empty set
    included). Past the first branch every threshold is non-NULL, so a
    witness is UNKNOWN only on a match-view miss, which the CASE skips
    like FALSE."""
    p_out = probe[0]
    return CaseWhen(
        (
            (_any([IsNull(d) for d in d_outs]), _TRUE),
            (w_m, _FALSE),
            (w_n, _NULL),
            (AndCond((IsNull(p_out), w_a)), _NULL),
        ),
        _TRUE,
    )


def _fact_sources(inner, probe):
    """The NULL-y population, and the match population as ``(src,
    const)``: for a constant probe the ``y = probe`` slice (folded like
    the other two), else the non-NULL-y rows (a view keyed on y)."""
    p_out, p_col = probe
    null_y = inner.filter(_col(p_col).isNull())
    if not p_out.refs():
        return null_y, inner.filter(_col(p_col) == p_out.to_spark({})), True
    return null_y, inner.filter(_col(p_col).isNotNull()), False


def _skyline_flag(inner, probe, thrs, attach):
    """Keyless 2-5 order comparisons: each fact is a k-D dominance probe
    against a Pareto skyline (the 2-D staircase at k = 2). The set and
    NULL-y skylines fold globally at plan time
    (frontier.global_skyline_points: capped plan-time merge, one-row
    views); the match fact is a per-y keyed skyline
    (frontier.keyed_skyline_view) for a column probe, or a third global
    fold for a constant one. Non-default string collations and
    over-cap skylines raise RoutedToFallback inside the folds."""
    from sparksqlplus_spark.plans.frontier import (
        KEYLESS_FRONTIER_CAP,
        global_skyline_points,
        keyed_skyline_view,
        skyline_one_row_df,
    )

    ops, outs, cols = (tuple(x) for x in zip(*thrs))
    spark = inner.sparkSession
    inner = inner.filter(
        functools.reduce(lambda a, b: a & b, [_col(c).isNotNull() for c in cols])
    )

    def fold(src):
        pts, types = global_skyline_points(src, cols, ops, KEYLESS_FRONTIER_CAP)
        return attach(skyline_one_row_df(spark, pts, types), [])

    def wit(alias):
        return SkyWitness(Col(alias, "__pts"), ops, outs)

    null_y, msrc, const = _fact_sources(inner, probe)
    a, n = fold(inner), fold(null_y)
    if const:
        m = fold(msrc)
    else:
        m = attach(
            keyed_skyline_view(msrc, [(probe[1], "__mp")], cols, ops, "__pts"),
            [(probe[0], "__mp")],
        )
    return _keyless_flag(wit(a), wit(m), wit(n), probe, outs)


def _neq_order_flag(inner, probe, thrs, attach):
    """Keyless ``a <> d1 AND b OP d2``: each fact asks "some row with
    a <> d1 AND b OP d2", decided by the argmin/runner-up triple of
    its population — b1 = best b, a1 = its arg a (NULL when 2+
    distinct a attain b1), b2 = best b among a <> a1:

      within = (b1 OP d2 AND (a1 NULL OR a1 <> d1)) OR (a1 = d1 AND b2 OP d2)

    The set and NULL-y triples fold at plan time
    (frontier.keyless_neq_order_stats, one small job each) into
    literal predicates; the match triple is a per-y view (one row per
    y) or a third fold for a constant probe."""
    from sparksqlplus_spark.plans.frontier import (
        canon_float_neq_dims,
        keyless_neq_order_stats,
    )

    (_, d1, a_col) = next(t for t in thrs if t[0] == "<>")
    (op_b, d2, b_col) = next(t for t in thrs if t[0] != "<>")
    inner, [(a_col, d1)] = canon_float_neq_dims(inner, [(a_col, d1)])
    inner = inner.filter(_col(a_col).isNotNull() & _col(b_col).isNotNull())

    def stats(src):
        return keyless_neq_order_stats(src, a_col, b_col, op_b)

    def fold_wit(st):
        if st is None:
            return _FALSE
        b1, a1, multi, b2 = st
        first = AndCond(
            (
                Cmp(op_b, lit_of(b1), d2),
                IsNull(d1, negated=True) if multi else Cmp("<>", lit_of(a1), d1),
            )
        )
        if multi or b2 is None:
            return first
        second = AndCond((Cmp("=", lit_of(a1), d1), Cmp(op_b, lit_of(b2), d2)))
        return OrCond((first, second))

    st_a = stats(inner)
    if st_a is None:
        return _TRUE  # no row at all: the set is empty for every outer row
    null_y, msrc, const = _fact_sources(inner, probe)
    if const:
        w_m = fold_wit(stats(msrc))
    else:
        m = attach(_neq_order_view(msrc, probe[1], a_col, b_col, op_b),
                   [(probe[0], "__mp")])
        b1, b2, a1 = Col(m, "__b1"), Col(m, "__b2"), Col(m, "__a1")
        w_m = OrCond(
            (
                AndCond(
                    (
                        IsNull(b1, negated=True),
                        Cmp(op_b, b1, d2),
                        OrCond((IsNull(a1), Cmp("<>", a1, d1))),
                    )
                ),
                AndCond(
                    (IsNull(b2, negated=True), Cmp("=", a1, d1), Cmp(op_b, b2, d2))
                ),
            )
        )
    return _keyless_flag(fold_wit(st_a), w_m, fold_wit(stats(null_y)), probe,
                         (d1, d2))


def _neq_order_view(src, y_col, a_col, b_col, op_b):
    """Per-y argmin/runner-up triple ``(__mp, __b1, __b2, __a1)``: a
    (y, a) pre-reduction to the best b per a, then a top-2 window
    sharing the y key; one row per y."""
    best = F.max if op_b in (">", ">=") else F.min
    pre = (
        src.select(
            _col(y_col).alias("__mp"), _col(a_col).alias("__a"),
            _col(b_col).alias("__b"),
        )
        .groupBy("__mp", "__a")
        .agg(best("__b").alias("__ab"))
    )
    order = _col("__ab").desc() if op_b in (">", ">=") else _col("__ab").asc()
    w = Window.partitionBy("__mp").orderBy(order, _col("__a"))
    top2 = pre.withColumn("__rn", F.row_number().over(w)).filter(
        _col("__rn") <= 2
    )
    view = top2.groupBy("__mp").agg(
        F.max(F.when(_col("__rn") == 1, _col("__ab"))).alias("__b1"),
        F.max(F.when(_col("__rn") == 1, _col("__a"))).alias("__a1r"),
        F.max(F.when(_col("__rn") == 2, _col("__ab"))).alias("__b2"),
    )
    return view.select(
        "__mp", "__b1", "__b2",
        F.when(_col("__b2") == _col("__b1"), F.lit(None))
        .otherwise(_col("__a1r"))
        .alias("__a1"),
    )


def _diagonal_stats_view(src, y_col, a_col, b_col):
    """Per-y diagonal-witness statistic for "some row with a <> d1 AND
    b <> d2": columns ``(__mp, da, db, ua, ub, pa, pb, qa, qb, w1,
    w2)`` — distinct counts and unique values for the single-a/-b
    cases, the chosen diagonal pair's coordinates, and its two
    cross-point witness bits. Rows with a NULL a or b must be filtered
    by the caller. Three grouped passes, each keyed on y with the joins
    reusing the exchange; one row per y."""
    rows = src.select(
        _col(y_col).alias("__mp"), _col(a_col).alias("__a"),
        _col(b_col).alias("__b"),
    )
    ab = F.struct(_col("__a").alias("a"), _col("__b").alias("b"))
    g1 = rows.groupBy("__mp").agg(
        F.count_distinct("__a").alias("da"),
        F.count_distinct("__b").alias("db"),
        F.min("__a").alias("ua"),
        F.min("__b").alias("ub"),
        F.min(ab).alias("r1"),
    )
    g2 = (
        rows.join(g1.select("__mp", "r1"), "__mp")
        .groupBy("__mp")
        .agg(
            F.min(F.when(_col("__a") != _col("r1.a"), ab)).alias("s"),
            F.min(F.when(_col("__b") != _col("r1.b"), ab)).alias("t"),
        )
    )
    diag_s = _col("s").isNotNull() & (_col("s.b") != _col("r1.b"))
    diag_t = _col("t").isNotNull() & (_col("t.a") != _col("r1.a"))
    p = F.when(diag_s | diag_t, _col("r1")).otherwise(_col("t"))
    q = F.when(diag_s, _col("s")).otherwise(
        F.when(diag_t, _col("t")).otherwise(_col("s"))
    )
    v2 = g1.join(g2, "__mp").select(
        "__mp", "da", "db", "ua", "ub",
        p["a"].alias("pa"), p["b"].alias("pb"),
        q["a"].alias("qa"), q["b"].alias("qb"),
    )
    g3 = (
        rows.join(v2.select("__mp", "pa", "pb", "qa", "qb"), "__mp")
        .groupBy("__mp")
        .agg(
            F.max(
                F.when((_col("__a") != _col("pa")) & (_col("__b") != _col("qb")), 1)
                .otherwise(0)
            ).alias("w1"),
            F.max(
                F.when((_col("__a") != _col("qa")) & (_col("__b") != _col("pb")), 1)
                .otherwise(0)
            ).alias("w2"),
        )
    )
    return v2.join(g3, "__mp")


def _neq_pair_flag(inner, probe, thrs, attach):
    """Keyless ``a <> d1 AND b <> d2``: each fact asks the
    diagonal-witness question over its population. With non-NULL d1,
    d2 a witness exists iff

      da = 1: ua <> d1 AND (db >= 2 OR ub <> d2)
      db = 1 (da >= 2): ub <> d2
      else: (d1 <> pa OR d2 <> qb OR w1 = 1)
            AND (d1 <> qa OR d2 <> pb OR w2 = 1)

    The set and NULL-y statistics fold at plan time
    (frontier.keyless_diag_stats, 1-3 scalar jobs each) into literal
    predicates; the match statistic is a per-y _diagonal_stats_view or
    a third fold for a constant probe."""
    from sparksqlplus_spark.plans.frontier import (
        canon_float_neq_dims,
        keyless_diag_stats,
    )

    (_, d1, a_col), (_, d2, b_col) = thrs
    inner, [(a_col, d1), (b_col, d2)] = canon_float_neq_dims(
        inner, [(a_col, d1), (b_col, d2)]
    )
    inner = inner.filter(_col(a_col).isNotNull() & _col(b_col).isNotNull())

    def stats(src):
        return keyless_diag_stats(src, a_col, b_col)

    def fold_wit(st):
        # the NULL-threshold branch precedes every use of a witness, so
        # an unconstrained side needs no test
        if st is None:
            return _FALSE
        if st[0] == "single":
            _, da, db, ua, ub = st
            conds = []
            if da == 1:
                conds.append(Cmp("<>", lit_of(ua), d1))
            if db == 1:
                conds.append(Cmp("<>", lit_of(ub), d2))
            return _all(conds) if conds else _TRUE
        _, pa, pb, qa, qb, w1, w2 = st
        terms = []
        if w1 == 0:
            terms.append(OrCond((Cmp("<>", d1, lit_of(pa)), Cmp("<>", d2, lit_of(qb)))))
        if w2 == 0:
            terms.append(OrCond((Cmp("<>", d1, lit_of(qa)), Cmp("<>", d2, lit_of(pb)))))
        return _all(terms) if terms else _TRUE

    st_a = stats(inner)
    if st_a is None:
        return _TRUE  # no row at all: the set is empty for every outer row
    null_y, msrc, const = _fact_sources(inner, probe)
    if const:
        w_m = fold_wit(stats(msrc))
    else:
        m = attach(_diagonal_stats_view(msrc, probe[1], a_col, b_col),
                   [(probe[0], "__mp")])

        def vc(name):
            return Col(m, name)

        one, two = Lit(1, "int"), Lit(2, "int")
        w_m = OrCond(
            (
                AndCond(
                    (
                        Cmp("=", vc("da"), one),
                        Cmp("<>", vc("ua"), d1),
                        OrCond((Cmp(">=", vc("db"), two), Cmp("<>", vc("ub"), d2))),
                    )
                ),
                AndCond(
                    (
                        Cmp(">=", vc("da"), two),
                        Cmp("=", vc("db"), one),
                        Cmp("<>", vc("ub"), d2),
                    )
                ),
                AndCond(
                    (
                        Cmp(">=", vc("da"), two),
                        Cmp(">=", vc("db"), two),
                        OrCond(
                            (
                                Cmp("<>", d1, vc("pa")),
                                Cmp("<>", d2, vc("qb")),
                                Cmp("=", vc("w1"), one),
                            )
                        ),
                        OrCond(
                            (
                                Cmp("<>", d1, vc("qa")),
                                Cmp("<>", d2, vc("pb")),
                                Cmp("=", vc("w2"), one),
                            )
                        ),
                    )
                ),
            )
        )
    return _keyless_flag(fold_wit(st_a), w_m, fold_wit(stats(null_y)), probe,
                         (d1, d2))


def _neq_triple_flag(inner, probe, thrs, attach):
    """Keyless ``<>``-containing triples: ``a <> d1 AND b OP2 d2 AND
    c OP3 d3`` (the U/V two-staircase statistic) or ``a <> d1 AND
    b <> d2 AND c OP3 d3`` (the prefix-diagonal-stats array). The set
    and NULL-y statistics fold globally at plan time through the capped
    stat helpers (frontier.global_neq_order2_points /
    global_neq2_order_entries) into one-row views; the match statistic
    is a per-y keyed view (frontier.keyed_neq_order2_view /
    keyed_neq2_order_view, one row per y) or a third fold for a
    constant probe. Integral order dims only: the folds raise
    otherwise."""
    from sparksqlplus_spark.plans import frontier as fr

    spark = inner.sparkSession
    neqs = [t for t in thrs if t[0] == "<>"]
    orders = [t for t in thrs if t[0] != "<>"]
    cap = fr.KEYLESS_FRONTIER_CAP
    if len(neqs) == 1:
        (_, d1, a_col), = neqs
        (op2, d2, b_col), (op3, d3, c_col) = orders
        inner, [(a_col, d1)] = fr.canon_float_neq_dims(inner, [(a_col, d1)])

        def fold(src):
            u_rows, v_pts, (a_dt, u_dt, v_dt) = fr.global_neq_order2_points(
                src, a_col, b_col, c_col, (op2, op3), cap
            )
            return fr.neq_triple_one_row_df(spark, u_rows, v_pts, a_dt, u_dt, v_dt)

        def keyed(src):
            return fr.keyed_neq_order2_view(
                src, [(probe[1], "__mp")], a_col, b_col, c_col, (op2, op3),
                "__upts", "__vpts",
            )

        def wit(alias):
            return NeqTripleWitness(
                Col(alias, "__upts"), Col(alias, "__vpts"), d1, op2, d2, op3, d3
            )

    else:
        (_, d1, a_col), (_, d2, b_col) = neqs
        (op3, d3, c_col), = orders
        inner, [(a_col, d1), (b_col, d2)] = fr.canon_float_neq_dims(
            inner, [(a_col, d1), (b_col, d2)]
        )

        def fold(src):
            entries, (a_dt, b_dt, c_dt) = fr.global_neq2_order_entries(
                src, a_col, b_col, c_col, op3, cap
            )
            return fr.neq2_order_one_row_df(spark, entries, a_dt, b_dt, c_dt)

        def keyed(src):
            return fr.keyed_neq2_order_view(
                src, [(probe[1], "__mp")], a_col, b_col, c_col, op3, "__npts"
            )

        def wit(alias):
            return Neq2OrderWitness(Col(alias, "__npts"), d1, d2, op3, d3)

    null_y, msrc, const = _fact_sources(inner, probe)
    a = attach(fold(inner), [])
    n = attach(fold(null_y), [])
    if const:
        m = attach(fold(msrc), [])
    else:
        m = attach(keyed(msrc), [(probe[0], "__mp")])
    return _keyless_flag(wit(a), wit(m), wit(n), probe, (d1, d2, d3))


_KEYLESS = {
    "skyline": _skyline_flag,
    "neq_order": _neq_order_flag,
    "neq_pair": _neq_pair_flag,
    "neq_triple": _neq_triple_flag,
}
