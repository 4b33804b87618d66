"""Expression and condition AST for the conjunctive-SQL subset.

Covers the reference's expression surface (SURVEY §2.1 C7-C19):
column refs, typed literals (incl. DATE / INTERVAL DAY), arithmetic with
numeric promotion, CASE WHEN, EXTRACT(YEAR ...), LIKE / IN / BETWEEN /
IS NULL / OR, and the six comparison operators
(reference: sqlplus-core/.../expression/Expression.scala,
convert/Condition.scala, expression/Operator.scala).

Each node can render itself to a Spark ``Column`` given a mapping from
``(alias, column)`` to the physical (variable) column name — the engine
renames every relation's columns to planner variables, so equi-joins
become natural joins on shared names.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparksqlplus_spark.expr_memo import col, expr_cache

ColMap = dict[tuple[str, str], str]

# ---------------------------------------------------------------------------
# scalar expressions
# ---------------------------------------------------------------------------


class Expr:
    def refs(self) -> set[tuple[str, str]]:
        """All (alias, column) references in this expression."""
        raise NotImplementedError

    def to_spark(self, colmap: ColMap) -> Column:
        raise NotImplementedError

    def key(self) -> str:
        """Canonical string for dedup/grouping."""
        raise NotImplementedError


@dataclass(frozen=True)
class Col(Expr):
    alias: str  # relation alias ('' when unresolved single-table)
    name: str

    def refs(self):
        return {(self.alias, self.name)}

    def to_spark(self, colmap):
        return col(colmap[(self.alias, self.name)])

    def key(self):
        return f"{self.alias}.{self.name}"


@dataclass(frozen=True)
class Lit(Expr):
    value: object
    kind: str  # int | long | double | str | date | timestamp | interval_day

    def refs(self):
        return set()

    def to_spark(self, colmap):
        # repr tells apart values that compare equal (1, 1.0, True;
        # 0.0, -0.0), which would otherwise share one memo entry
        return _lit_column(self, repr(self.value))

    def key(self):
        return f"{self.kind}:{self.value!r}"


@expr_cache
def _lit_column(lit: Lit, _repr: str) -> Column:
    """A literal's Column, built once: literal pools repeat across
    statements, and a DATE literal alone is two function calls."""
    if lit.kind == "date":
        return F.to_date(F.lit(lit.value))
    if lit.kind == "timestamp":
        return F.to_timestamp(F.lit(lit.value))
    if lit.kind == "interval_day":
        # value = number of days; used in date arithmetic
        return F.expr(f"INTERVAL {int(lit.value)} DAY")
    return F.lit(lit.value)


@dataclass(frozen=True)
class Arith(Expr):
    op: str  # + - * / %
    left: Expr
    right: Expr

    def refs(self):
        return self.left.refs() | self.right.refs()

    def to_spark(self, colmap):
        l, r = self.left.to_spark(colmap), self.right.to_spark(colmap)
        if self.op == "+":
            return l + r
        if self.op == "-":
            return l - r
        if self.op == "*":
            return l * r
        if self.op == "/":
            return l / r
        if self.op == "%":
            # C-style remainder — Spark % and DuckDB % agree
            return l % r
        raise ValueError(self.op)

    def key(self):
        return f"({self.left.key()}{self.op}{self.right.key()})"


@dataclass(frozen=True)
class Neg(Expr):
    child: Expr

    def refs(self):
        return self.child.refs()

    def to_spark(self, colmap):
        return -self.child.to_spark(colmap)

    def key(self):
        return f"(-{self.child.key()})"


@dataclass(frozen=True)
class ExtractYear(Expr):
    """EXTRACT(YEAR FROM e) — the only EXTRACT flag the reference supports
    (LogicalPlanConverter.scala:705-713). Engine extension (round 8):
    MONTH / DAY / QUARTER fields too (``field``), mapped to the
    matching Spark datetime functions — same ANSI integers DuckDB
    returns."""

    child: Expr
    field: str = "year"

    def refs(self):
        return self.child.refs()

    def to_spark(self, colmap):
        fn = {
            "year": F.year,
            "month": F.month,
            "day": F.dayofmonth,
            "quarter": F.quarter,
        }[self.field]
        return fn(self.child.to_spark(colmap))

    def key(self):
        return f"{self.field}({self.child.key()})"


@dataclass(frozen=True)
class CaseWhen(Expr):
    """CASE WHEN c THEN e ... ELSE e END (LogicalPlanConverter.scala:684-703)."""

    branches: tuple[tuple["Cond", Expr], ...]
    otherwise: Expr

    def refs(self):
        out = self.otherwise.refs()
        for c, e in self.branches:
            out |= c.refs() | e.refs()
        return out

    def to_spark(self, colmap):
        col = None
        for c, e in self.branches:
            if col is None:
                col = F.when(c.to_spark(colmap), e.to_spark(colmap))
            else:
                col = col.when(c.to_spark(colmap), e.to_spark(colmap))
        return col.otherwise(self.otherwise.to_spark(colmap))

    def key(self):
        b = ";".join(f"{c.key()}->{e.key()}" for c, e in self.branches)
        return f"case({b};else {self.otherwise.key()})"


@dataclass(frozen=True)
class Func(Expr):
    """Scalar function call (kept generic; validated at planning time)."""

    name: str
    args: tuple[Expr, ...]

    def refs(self):
        out: set[tuple[str, str]] = set()
        for a in self.args:
            out |= a.refs()
        return out

    def to_spark(self, colmap):
        fn = getattr(F, self.name.lower(), None)
        if fn is None:
            raise ValueError(f"unsupported function {self.name}")
        return fn(*[a.to_spark(colmap) for a in self.args])

    def key(self):
        return f"{self.name.lower()}({','.join(a.key() for a in self.args)})"


@dataclass(frozen=True)
class Cast(Expr):
    """CAST(e AS TYPE) — executed for real (the reference silently drops
    casts, LogicalPlanConverter.scala:540-541)."""

    child: Expr
    type_name: str  # spark type name: int, bigint, double, string, date, timestamp

    def refs(self):
        return self.child.refs()

    def to_spark(self, colmap):
        return self.child.to_spark(colmap).cast(self.type_name)

    def key(self):
        return f"cast({self.child.key()} as {self.type_name})"


def neq_canon_expr(e: Expr) -> Expr:
    """AST-level mirror of plans/frontier.py:neq_canon (round 15):
    ``CAST(CAST(e AS DOUBLE) + 0.0 AS STRING)`` — the canonical
    float/double <>-dim embedding. Renders to the exact same Spark
    expression as the Column-level helper, so a probe embedded here
    equality-matches an inner dim embedded there (NaN -> the single
    string 'NaN', -0.0 normalized to 0.0, NULL passes through)."""
    return Cast(Arith("+", Cast(e, "double"), Lit(0.0, "double")), "string")


@dataclass(frozen=True)
class Star(Expr):
    """COUNT(*) argument."""

    def refs(self):
        return set()

    def to_spark(self, colmap):
        raise ValueError("* is only valid inside COUNT(*)")

    def key(self):
        return "*"


# 'grouping' is the GROUPING() indicator for ROLLUP/CUBE rows — it
# behaves like an aggregate syntactically (valid only under a grouped
# frame; F.grouping on the Spark side); build_context rejects it
# outside ROLLUP/CUBE/GROUPING SETS queries.
AGG_FUNCS = {"sum", "count", "avg", "min", "max", "grouping"}


@dataclass(frozen=True)
class AggCall(Expr):
    """Aggregate call in the SELECT list (SURVEY C20)."""

    func: str  # sum|count|avg|min|max
    arg: Expr  # Star() for COUNT(*)
    distinct: bool = False

    def refs(self):
        return self.arg.refs()

    def to_spark(self, colmap):
        if self.func == "count" and isinstance(self.arg, Star):
            return F.count(F.lit(1))
        inner = self.arg.to_spark(colmap)
        if self.distinct:
            if self.func == "count":
                return F.count_distinct(inner)
            if self.func == "sum":
                return F.sum_distinct(inner)
            if self.func == "avg":
                # no F.avg_distinct; the exact identity over the
                # distinct value set
                return F.sum_distinct(inner) / F.count_distinct(inner)
            if self.func in ("min", "max"):
                return getattr(F, self.func)(inner)  # DISTINCT is a no-op
            raise ValueError(f"DISTINCT unsupported for {self.func}")
        return getattr(F, self.func)(inner)

    def key(self):
        d = "distinct " if self.distinct else ""
        return f"{self.func}({d}{self.arg.key()})"


# window functions with 0 args / 1+ args (engine extension — the
# reference has no OVER clause at all)
WINDOW_RANK_FUNCS = {"row_number", "rank", "dense_rank"}
WINDOW_AGG_FUNCS = {"sum", "min", "max", "avg", "count", "lag", "lead"}


@dataclass(frozen=True)
class WindowCall(Expr):
    """fn(args) OVER (PARTITION BY ... ORDER BY ...) — engine extension
    (the reference's not-supported list has no window surface). Renders
    to F.fn(...).over(Window...) — Spark's default frame for an ordered
    window (RANGE UNBOUNDED PRECEDING..CURRENT ROW) matches the ANSI /
    DuckDB default, so no explicit frame spec is emitted. lag/lead take
    literal offset/default extras. Valid in SELECT items only
    (build_context rejects other positions)."""

    func: str
    args: tuple[Expr, ...]
    partition_by: tuple[Expr, ...]
    order_by: tuple[tuple[Expr, bool, str | None], ...]  # (expr, desc, nulls)
    # explicit frame spec: (kind, start, end) with kind 'rows'|'range'
    # and bounds already in Spark's Window convention
    # (Window.unboundedPreceding / -n / 0=CURRENT ROW / +n /
    # Window.unboundedFollowing — the same ints ANSI BETWEEN bounds map
    # to); None keeps Spark's default frame, which matches the
    # ANSI/DuckDB default for an ordered window
    frame: tuple[str, int, int] | None = None

    def refs(self):
        out: set[tuple[str, str]] = set()
        for a in self.args:
            out |= a.refs()
        for e in self.partition_by:
            out |= e.refs()
        for e, *_ in self.order_by:
            out |= e.refs()
        return out

    def to_spark(self, colmap):
        from pyspark.sql.window import Window

        if self.func in WINDOW_RANK_FUNCS:
            col = getattr(F, self.func)()
        elif self.func == "ntile":
            col = F.ntile(int(self.args[0].value))  # validated Lit
        elif self.func == "count" and isinstance(self.args[0], Star):
            col = F.count(F.lit(1))  # COUNT(*) OVER (...)
        elif self.func in ("lag", "lead"):
            inner = self.args[0].to_spark(colmap)
            extras = [a.value for a in self.args[1:]]  # validated Lits
            col = getattr(F, self.func)(inner, *extras)
        else:
            col = getattr(F, self.func)(self.args[0].to_spark(colmap))
        w = Window.partitionBy(
            *[e.to_spark(colmap) for e in self.partition_by]
        )
        if self.order_by:
            def _ord(e, d, nulls):
                c = e.to_spark(colmap)
                if nulls == "first":
                    return c.desc_nulls_first() if d else c.asc_nulls_first()
                if nulls == "last":
                    return c.desc_nulls_last() if d else c.asc_nulls_last()
                return c.desc() if d else c.asc()

            w = w.orderBy(*[_ord(e, d, n) for e, d, n in self.order_by])
        if self.frame is not None:
            kind, start, end = self.frame
            w = (
                w.rowsBetween(start, end)
                if kind == "rows"
                else w.rangeBetween(start, end)
            )
        return col.over(w)

    def key(self):
        a = ",".join(x.key() for x in self.args)
        p = ",".join(e.key() for e in self.partition_by)
        o = ",".join(
            f"{e.key()}{' desc' if d else ''}{' nulls ' + n if n else ''}"
            for e, d, n in self.order_by
        )
        f = (
            f" {self.frame[0]} {self.frame[1]}..{self.frame[2]}"
            if self.frame is not None
            else ""
        )
        return f"{self.func}({a}) over(partition {p} order {o}{f})"


# ---------------------------------------------------------------------------
# conditions (boolean)
# ---------------------------------------------------------------------------


class Cond:
    def refs(self) -> set[tuple[str, str]]:
        raise NotImplementedError

    def to_spark(self, colmap: ColMap) -> Column:
        raise NotImplementedError

    def key(self) -> str:
        raise NotImplementedError


CMP_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "<>": "<>"}


@dataclass(frozen=True)
class Cmp(Cond):
    op: str  # = | <> | < | <= | > | >=
    left: Expr
    right: Expr

    def refs(self):
        return self.left.refs() | self.right.refs()

    def to_spark(self, colmap):
        l, r = self.left.to_spark(colmap), self.right.to_spark(colmap)
        return {
            "=": l == r,
            "<>": l != r,
            "<": l < r,
            "<=": l <= r,
            ">": l > r,
            ">=": l >= r,
        }[self.op]

    def flipped(self) -> "Cmp":
        return Cmp(CMP_FLIP[self.op], self.right, self.left)

    def key(self):
        return f"({self.left.key()}{self.op}{self.right.key()})"


@dataclass(frozen=True)
class Like(Cond):
    """[NOT] LIKE with % patterns (SURVEY C9; Operator.scala:191-217)."""

    expr: Expr
    pattern: str
    negated: bool = False

    def refs(self):
        return self.expr.refs()

    def to_spark(self, colmap):
        c = self.expr.to_spark(colmap).like(self.pattern)
        return ~c if self.negated else c

    def key(self):
        n = "not " if self.negated else ""
        return f"({self.expr.key()} {n}like {self.pattern!r})"


@dataclass(frozen=True)
class InList(Cond):
    """[NOT] IN (literals) (SURVEY C10)."""

    expr: Expr
    values: tuple[object, ...]
    negated: bool = False

    def refs(self):
        return self.expr.refs()

    def to_spark(self, colmap):
        c = self.expr.to_spark(colmap).isin(list(self.values))
        return ~c if self.negated else c

    def key(self):
        n = "not " if self.negated else ""
        return f"({self.expr.key()} {n}in {self.values!r})"


@dataclass(frozen=True)
class IsNull(Cond):
    """IS [NOT] NULL — parse-only in the reference (codegen throws,
    Operator.scala:305-327); fully executable here (SURVEY C14)."""

    expr: Expr
    negated: bool = False

    def refs(self):
        return self.expr.refs()

    def to_spark(self, colmap):
        c = self.expr.to_spark(colmap)
        return c.isNotNull() if self.negated else c.isNull()

    def key(self):
        n = "not " if self.negated else ""
        return f"({self.expr.key()} is {n}null)"


@dataclass(frozen=True)
class SkyWitness(Cond):
    """Witness probe over a Pareto SKYLINE array column (k = 2..5
    dims; the 2-D staircase at k = 2): TRUE iff some struct element
    ``e`` of ``arr`` satisfies ``e.u0 OP0 outer0 AND ... AND
    e.u{k-1} OP outer{k-1}``. The skyline is built so this holds
    exactly when some raw inner row satisfies every comparison
    (plans/frontier.py). Ops are order comparisons only; a NULL outer
    operand or NULL array never yields TRUE — callers wrap in
    CaseWhen so UNKNOWN folds to the miss value."""

    arr: Expr  # array<struct<u0..u{k-1}>> column on the flag view
    ops: tuple  # k of < <= > >=
    outers: tuple  # k outer-only Exprs

    _OPS = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }

    def refs(self):
        out = set(self.arr.refs())
        for o in self.outers:
            out |= o.refs()
        return out

    def to_spark(self, colmap):
        import functools

        a = self.arr.to_spark(colmap)
        os_ = [o.to_spark(colmap) for o in self.outers]
        cs = [self._OPS[op] for op in self.ops]
        return F.exists(
            a,
            lambda e: functools.reduce(
                lambda x, y: x & y,
                [
                    c(e[f"u{i}"], o)
                    for i, (c, o) in enumerate(zip(cs, os_))
                ],
            ),
        )

    def key(self):
        parts = " ".join(
            f"{op} {o.key()}" for op, o in zip(self.ops, self.outers)
        )
        return f"(skywitness {self.arr.key()} {parts})"


@dataclass(frozen=True)
class NeqTripleWitness(Cond):
    """Witness probe over a keyed_neq_order2_view row (round 13
    latest — the keyed ``a <> d1 AND b OP2 d2 AND c OP3 d3`` triple):
    TRUE iff some raw row of the key's population satisfies all
    three. ``u_arr`` is the annotated region staircase, ``v_arr`` the
    distinct-a pair-combination staircase
    (plans/frontier.py:keyed_neq_order2_view); the probe logic lives
    in frontier.neq_triple_witness_col. A NULL array (join miss) or
    NULL outer operand never yields TRUE — callers wrap in CaseWhen
    so UNKNOWN folds to the miss value."""

    u_arr: Expr
    v_arr: Expr
    d1: Expr
    op2: str
    d2: Expr
    op3: str
    d3: Expr

    def refs(self):
        out = set(self.u_arr.refs()) | set(self.v_arr.refs())
        for o in (self.d1, self.d2, self.d3):
            out |= o.refs()
        return out

    def to_spark(self, colmap):
        from sparksqlplus_spark.plans.frontier import (
            neq_triple_witness_col,
        )

        return neq_triple_witness_col(
            self.u_arr.to_spark(colmap),
            self.v_arr.to_spark(colmap),
            self.d1.to_spark(colmap),
            self.d2.to_spark(colmap),
            self.d3.to_spark(colmap),
            self.op2,
            self.op3,
        )

    def key(self):
        return (
            f"(neqtriple {self.u_arr.key()} {self.v_arr.key()} "
            f"<> {self.d1.key()} {self.op2} {self.d2.key()} "
            f"{self.op3} {self.d3.key()})"
        )


@dataclass(frozen=True)
class Neq2OrderWitness(Cond):
    """Witness probe over a keyed_neq2_order_view row (round 13
    latest — the keyed ``a <> d1 AND b <> d2 AND c OP3 d3`` triple):
    TRUE iff some raw row of the key's population satisfies all
    three. ``arr`` holds the prefix diagonal statistics at every
    region change point (plans/frontier.py:keyed_neq2_order_view);
    the probe logic lives in frontier.neq2_order_witness_col. A NULL
    array (join miss) or NULL outer operand never yields TRUE."""

    arr: Expr
    d1: Expr
    d2: Expr
    op3: str
    d3: Expr

    def refs(self):
        out = set(self.arr.refs())
        for o in (self.d1, self.d2, self.d3):
            out |= o.refs()
        return out

    def to_spark(self, colmap):
        from sparksqlplus_spark.plans.frontier import (
            neq2_order_witness_col,
        )

        return neq2_order_witness_col(
            self.arr.to_spark(colmap),
            self.d1.to_spark(colmap),
            self.d2.to_spark(colmap),
            self.d3.to_spark(colmap),
            self.op3,
        )

    def key(self):
        return (
            f"(neq2order {self.arr.key()} <> {self.d1.key()} "
            f"<> {self.d2.key()} {self.op3} {self.d3.key()})"
        )


@dataclass(frozen=True)
class OrCond(Cond):
    """OR of conditions (SURVEY C12) — pushed into one relation when all
    columns co-locate, else kept as a post-join residual."""

    children: tuple[Cond, ...]

    def refs(self):
        out: set[tuple[str, str]] = set()
        for c in self.children:
            out |= c.refs()
        return out

    def to_spark(self, colmap):
        col = self.children[0].to_spark(colmap)
        for c in self.children[1:]:
            col = col | c.to_spark(colmap)
        return col

    def key(self):
        return "(" + " or ".join(c.key() for c in self.children) + ")"


@dataclass(frozen=True)
class AndCond(Cond):
    """AND inside an OR branch (top-level ANDs are flattened by the parser)."""

    children: tuple[Cond, ...]

    def refs(self):
        out: set[tuple[str, str]] = set()
        for c in self.children:
            out |= c.refs()
        return out

    def to_spark(self, colmap):
        col = self.children[0].to_spark(colmap)
        for c in self.children[1:]:
            col = col & c.to_spark(colmap)
        return col

    def key(self):
        return "(" + " and ".join(c.key() for c in self.children) + ")"


@dataclass(frozen=True)
class Exists(Cond):
    """[NOT] EXISTS (SELECT ... FROM table AS alias WHERE conds) —
    engine extension (the reference's not-supported list includes
    EXISTS). Only the single-table correlated-equality shape is
    represented; anything wider stays UnsupportedSqlError and rides
    the spark.sql fallback. Planned as a relation-local left_semi /
    left_anti join (the same primitive as the Yannakakis reduce),
    never evaluated as an inline column."""

    table: str
    table_alias: str
    conds: tuple[Cond, ...]
    negated: bool = False
    # set by the IN (subquery) desugar: when negated, SQL's NOT IN
    # three-valued NULL semantics apply (a NULL probe or any NULL in
    # the inner set yields UNKNOWN, filtering the row) — planned as a
    # null-aware anti join, not a plain left_anti. Ignored when
    # negated=False (a positive semi-join already drops NULL probes).
    null_aware: bool = False
    # multi-table EXISTS body (a parser.sql.QuerySpec with 2+ inner
    # FROM items and the combined ON+WHERE conjunction in .where).
    # api._lift_exists_joins plans the inner join block as a composite
    # view and rewrites this node to the single-table shape above;
    # table/table_alias/conds are empty placeholders while body is set.
    body: object | None = None
    # set by the IN (subquery) desugar: the FIRST n_probe conds are the
    # probe equalities (`probe_expr = inner_col`, one per row-value
    # position). Lets the keyless planners tell a CONSTANT probe
    # (`5 NOT IN (SELECT x ...)` — inner-only refs, so it otherwise
    # looks like an ordinary inner WHERE conjunct) apart from genuine
    # inner filters, which NOT IN's three-valued logic requires
    # (round 10). 0 for genuine EXISTS.
    n_probe: int = 0
    # NOT IN over a CTE (round 13): the parser can't register views,
    # so it carries the substituted CTE body here (a QuerySpec; table
    # keeps the CTE name for messages). api._lift_cte_not_in plans the
    # body as an ephemeral catalog view and rewrites this node to the
    # plain single-table null-aware form — the THREE-VALUED SemiFilter
    # path, unlike the two-valued Exists.body lift (which is why NOT
    # IN never rides body). None everywhere else.
    cte_body: object | None = None

    def refs(self):
        if self.body is not None:
            # outer refs only (best effort without a catalog: bare
            # names are treated as inner-scoped, matching the
            # innermost-wins resolution the lift applies)
            inner = {fi.alias for fi in self.body.from_items}
            out: set[tuple[str, str]] = set()
            for c in self.body.where:
                out |= {
                    r for r in c.refs() if r[0] != "" and r[0] not in inner
                }
            return out
        # outer refs only: inner-alias refs are scoped to the subquery
        out = set()
        for c in self.conds:
            out |= {r for r in c.refs() if r[0] != self.table_alias}
        return out

    def to_spark(self, colmap):
        raise ValueError("EXISTS must be planned as a semi-join, not inlined")

    def key(self):
        n = "not " if self.negated else ""
        na = "null-aware " if self.null_aware else ""
        if self.body is not None:
            tables = ",".join(
                f"{fi.table} as {fi.alias}" for fi in self.body.from_items
            )
            inner = " and ".join(c.key() for c in self.body.where)
            return f"({n}{na}exists [{tables}]: {inner})"
        inner = " and ".join(c.key() for c in self.conds)
        return f"({n}{na}exists {self.table} as {self.table_alias}: {inner})"


@dataclass(frozen=True, eq=False)
class ScalarSubquery(Expr):
    """Uncorrelated scalar subquery, e.g. ``x > (SELECT AVG(y) FROM
    t)`` — engine extension (reference not-supported list). Folded to
    a Lit BEFORE context building (api._fold_scalars): the inner query
    runs through the engine and its single value substitutes in. The
    one-value collect is metadata-scale (same class as the ANALYZE
    statistics the cyclic router gathers), not a data collect. A
    correlated subquery fails the inner build with an unknown-alias
    UnsupportedSqlError, so mode='auto' falls back to spark.sql."""

    spec: object  # parser.sql.QuerySpec (unhashable — eq=False)

    def refs(self):
        return set()

    def to_spark(self, colmap):
        raise ValueError("scalar subquery must be folded before execution")

    def key(self):
        return f"scalar-subquery@{id(self)}"


def map_expr(node, fn):
    """Top-down transform: if fn(node) returns non-None, substitute it;
    otherwise rebuild the node with transformed children."""
    hit = fn(node)
    if hit is not None:
        return hit
    if isinstance(node, (Col, Lit, Star, ScalarSubquery)):
        return node
    if isinstance(node, Arith):
        return Arith(node.op, map_expr(node.left, fn), map_expr(node.right, fn))
    if isinstance(node, Neg):
        return Neg(map_expr(node.child, fn))
    if isinstance(node, Cast):
        return Cast(map_expr(node.child, fn), node.type_name)
    if isinstance(node, ExtractYear):
        return ExtractYear(map_expr(node.child, fn), node.field)
    if isinstance(node, CaseWhen):
        return CaseWhen(
            tuple((map_expr(c, fn), map_expr(e, fn)) for c, e in node.branches),
            map_expr(node.otherwise, fn),
        )
    if isinstance(node, Func):
        return Func(node.name, tuple(map_expr(a, fn) for a in node.args))
    if isinstance(node, AggCall):
        return AggCall(node.func, map_expr(node.arg, fn), node.distinct)
    if isinstance(node, WindowCall):
        return WindowCall(
            node.func,
            tuple(map_expr(a, fn) for a in node.args),
            tuple(map_expr(e, fn) for e in node.partition_by),
            tuple((map_expr(e, fn), d, n) for e, d, n in node.order_by),
            node.frame,
        )
    if isinstance(node, Cmp):
        return Cmp(node.op, map_expr(node.left, fn), map_expr(node.right, fn))
    if isinstance(node, Like):
        return Like(map_expr(node.expr, fn), node.pattern, node.negated)
    if isinstance(node, InList):
        return InList(map_expr(node.expr, fn), node.values, node.negated)
    if isinstance(node, IsNull):
        return IsNull(map_expr(node.expr, fn), node.negated)
    if isinstance(node, OrCond):
        return OrCond(tuple(map_expr(c, fn) for c in node.children))
    if isinstance(node, AndCond):
        return AndCond(tuple(map_expr(c, fn) for c in node.children))
    if isinstance(node, Exists):
        return Exists(
            node.table,
            node.table_alias,
            tuple(map_expr(c, fn) for c in node.conds),
            node.negated,
            node.null_aware,
            node.body,
            node.n_probe,
            node.cte_body,
        )
    if isinstance(node, SkyWitness):
        return SkyWitness(
            map_expr(node.arr, fn),
            node.ops,
            tuple(map_expr(o, fn) for o in node.outers),
        )
    if isinstance(node, NeqTripleWitness):
        return NeqTripleWitness(
            map_expr(node.u_arr, fn),
            map_expr(node.v_arr, fn),
            map_expr(node.d1, fn),
            node.op2,
            map_expr(node.d2, fn),
            node.op3,
            map_expr(node.d3, fn),
        )
    if isinstance(node, Neq2OrderWitness):
        return Neq2OrderWitness(
            map_expr(node.arr, fn),
            map_expr(node.d1, fn),
            map_expr(node.d2, fn),
            node.op3,
            map_expr(node.d3, fn),
        )
    raise TypeError(f"unknown node {type(node)}")


def const_expr(e) -> bool:
    """True when `e` is a constant EXPRESSION the planner can evaluate
    plan-side via to_spark({}): no column refs, no subqueries, no
    aggregate/window calls (round 10 — widens the const-probe NOT IN
    gates from bare literals to e.g. `1 + 4`, `CAST('5' AS INT)`)."""
    if e.refs():
        return False
    bad = False

    def probe(n):
        nonlocal bad
        if isinstance(n, (AggCall, WindowCall, ScalarSubquery)):
            bad = True
        return None

    map_expr(e, probe)
    return not bad


def rewrite_refs(node, mapping: dict[tuple[str, str], tuple[str, str]]):
    """Rebuild an Expr/Cond with (alias,col) refs replaced per mapping."""
    if isinstance(node, Col):
        a = mapping.get((node.alias, node.name))
        return Col(*a) if a else node
    if isinstance(node, (Lit, Star)):
        return node
    if isinstance(node, Arith):
        return Arith(node.op, rewrite_refs(node.left, mapping), rewrite_refs(node.right, mapping))
    if isinstance(node, Neg):
        return Neg(rewrite_refs(node.child, mapping))
    if isinstance(node, Cast):
        return Cast(rewrite_refs(node.child, mapping), node.type_name)
    if isinstance(node, ExtractYear):
        return ExtractYear(rewrite_refs(node.child, mapping), node.field)
    if isinstance(node, CaseWhen):
        return CaseWhen(
            tuple((rewrite_refs(c, mapping), rewrite_refs(e, mapping)) for c, e in node.branches),
            rewrite_refs(node.otherwise, mapping),
        )
    if isinstance(node, Func):
        return Func(node.name, tuple(rewrite_refs(a, mapping) for a in node.args))
    if isinstance(node, AggCall):
        return AggCall(node.func, rewrite_refs(node.arg, mapping), node.distinct)
    if isinstance(node, WindowCall):
        return WindowCall(
            node.func,
            tuple(rewrite_refs(a, mapping) for a in node.args),
            tuple(rewrite_refs(e, mapping) for e in node.partition_by),
            tuple((rewrite_refs(e, mapping), d, n) for e, d, n in node.order_by),
            node.frame,
        )
    if isinstance(node, Cmp):
        return Cmp(node.op, rewrite_refs(node.left, mapping), rewrite_refs(node.right, mapping))
    if isinstance(node, Like):
        return Like(rewrite_refs(node.expr, mapping), node.pattern, node.negated)
    if isinstance(node, InList):
        return InList(rewrite_refs(node.expr, mapping), node.values, node.negated)
    if isinstance(node, IsNull):
        return IsNull(rewrite_refs(node.expr, mapping), node.negated)
    if isinstance(node, OrCond):
        return OrCond(tuple(rewrite_refs(c, mapping) for c in node.children))
    if isinstance(node, AndCond):
        return AndCond(tuple(rewrite_refs(c, mapping) for c in node.children))
    if isinstance(node, Exists):
        # scoping is the CALLER's concern: the mapping must contain
        # outer-scoped refs only — inner-scoped refs (the subquery
        # alias, or bare names the inner table owns) must not appear
        # as keys or they would be rewritten out of their scope
        return Exists(
            node.table,
            node.table_alias,
            tuple(rewrite_refs(c, mapping) for c in node.conds),
            node.negated,
            node.null_aware,
            node.body,
            node.n_probe,
            node.cte_body,
        )
    if isinstance(node, SkyWitness):
        return SkyWitness(
            rewrite_refs(node.arr, mapping),
            node.ops,
            tuple(rewrite_refs(o, mapping) for o in node.outers),
        )
    if isinstance(node, NeqTripleWitness):
        return NeqTripleWitness(
            rewrite_refs(node.u_arr, mapping),
            rewrite_refs(node.v_arr, mapping),
            rewrite_refs(node.d1, mapping),
            node.op2,
            rewrite_refs(node.d2, mapping),
            node.op3,
            rewrite_refs(node.d3, mapping),
        )
    if isinstance(node, Neq2OrderWitness):
        return Neq2OrderWitness(
            rewrite_refs(node.arr, mapping),
            rewrite_refs(node.d1, mapping),
            rewrite_refs(node.d2, mapping),
            node.op3,
            rewrite_refs(node.d3, mapping),
        )
    raise TypeError(f"unknown node {type(node)}")
