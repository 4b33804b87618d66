"""Query normalization: QuerySpec → Context.

Mirrors the reference's LogicalPlanConverter semantics (SURVEY §3.1 step 4,
sqlplus-core/.../convert/LogicalPlanConverter.scala): natural-join
normalization via union-find over equi-join columns (DisjointSet.scala:12-49),
a flat relation list (scans + aggregated subqueries), a classified
condition list, output variables, aggregations, and optional top-k —
with ``is_full`` deciding DISTINCT semantics (SURVEY C23).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from sparksqlplus_spark.catalog import Catalog, UnknownTableError
from sparksqlplus_spark.expressions import (
    AggCall,
    Cmp,
    Col,
    Cond,
    Exists,
    Expr,
    Lit,
    Star,
    const_expr,
    rewrite_refs,
)
from sparksqlplus_spark.parser.sql import FromItem, QuerySpec, UnsupportedSqlError
from sparksqlplus_spark.plans.not_in import not_in_family


class DisjointSet:
    """Union-find over (alias, column) pairs (reference utils/DisjointSet.scala)."""

    def __init__(self) -> None:
        self.parent: dict[tuple[str, str], tuple[str, str]] = {}

    def find(self, x: tuple[str, str]) -> tuple[str, str]:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: tuple[str, str], b: tuple[str, str]) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


@dataclass
class Relation:
    """A hyperedge over variables (reference graph/Relation.scala).

    kind: 'scan' (TableScanRelation) | 'agg' (AggregatedRelation) |
    'aux' (AuxiliaryRelation, minted during GYO) | 'bag' (GHD bag).
    """

    rid: int
    alias: str
    kind: str
    table: str | None = None
    # column name in the relation's output -> planner variable
    col_to_var: dict[str, str] = field(default_factory=dict)
    # agg-subquery payload (kind == 'agg'): SELECT group..., FUNC(arg) FROM table GROUP BY group...
    # each entry is (base column, output column name)
    agg_group_cols: tuple[tuple[str, str], ...] = ()
    agg_func: str | None = None
    agg_arg_col: str | None = None  # None => COUNT(*)
    agg_arg_expr: object | None = None  # Expr over base columns (beats agg_arg_col)
    agg_base_alias: str = ""  # the subquery's FROM alias (qualifies arg refs)
    agg_out_col: str | None = None
    cardinality: int | None = None
    primary_key_vars: tuple[str, ...] = ()
    # aux payload (kind == 'aux'): projection of another relation
    source_rid: int | None = None
    # derived-table payload (kind == 'scan' with sub_proj): the
    # FROM-subquery SELECT exprs... FROM table WHERE conds shape —
    # filters apply over base columns BEFORE the projection, so filter
    # columns need not be projected and pushdown reaches the scan
    sub_proj: tuple[tuple[str, object], ...] = ()  # (out name, Expr over base)
    pre_filters: tuple = ()  # Conds over base columns, refs ("", col)
    # [NOT] EXISTS inside the derived table's WHERE, lifted as a
    # semi/anti join applied BEFORE the projection (the correlation
    # column may be projected away — TPC-H Q22's custsale drops
    # c_custkey). SemiFilter.keys here pair (base column, inner column)
    pre_semi: tuple = ()

    @property
    def variables(self) -> frozenset[str]:
        return frozenset(self.col_to_var.values())

    def var_list(self) -> list[str]:
        return list(dict.fromkeys(self.col_to_var.values()))

    def __repr__(self) -> str:
        return f"Relation({self.rid}:{self.alias}:{self.kind}:{sorted(self.variables)})"


@dataclass
class Comparison:
    """A cross-relation inequality (reference graph/Comparison.scala).

    ``left``/``right`` are expressions each confined to one relation;
    ``op`` in < <= > >=. The compiler migrates endpoints up the join
    tree during reduction (min/max extra-column propagation).
    """

    cid: int
    op: str
    left: Expr
    right: Expr
    left_rid: int
    right_rid: int


@dataclass(frozen=True)
class SemiFilter:
    """A planned [NOT] EXISTS: left_semi / left_anti of one relation
    against a filtered inner table on equality keys (engine extension —
    the reference rejects EXISTS; this folds it into the same semi-join
    primitive the Yannakakis reduce already uses, so acyclicity and
    DISTINCT semantics are untouched)."""

    negated: bool
    table: str
    keys: tuple[tuple[str, str], ...]  # (outer variable, inner column)
    inner_filters: tuple[Cond, ...]  # refs are ("", inner column)
    # additional correlated predicates beyond the equality keys (e.g.
    # Q21's l2.l_suppkey <> l1.l_suppkey) — join-condition conjuncts.
    # Refs: outer side ("@o", outer variable) [top-level] or
    # ("@o", base column) [derived pre_semi]; inner side ("", column)
    extra: tuple[Cond, ...] = ()
    # NOT IN (subquery) three-valued NULL semantics: when negated, plan
    # as a null-aware anti join (hash anti on the key + a broadcast
    # one-row has-null/empty-set check) instead of a plain left_anti.
    # Only the single-key, no-extra shape is admitted (build_context
    # validates); ignored when negated=False.
    null_aware: bool = False
    # CONSTANT-probe NOT IN (round 10): `5 NOT IN (SELECT x ...)` has
    # no correlation keys (the probe conjunct is inner-only), but its
    # three-valued gate still needs the probe separated from genuine
    # inner filters — (probe Lit, inner column name). The executor
    # plans a broadcast one-row stats gate (empty set / matched /
    # has-NULL), zero collects. None for every other shape.
    const_probe: tuple | None = None
    # CORRELATED NOT IN (round 12): `o.x NOT IN (SELECT y FROM t WHERE
    # t.k = o.k)` — equality keys from the subquery's correlated WHERE,
    # kept apart from the probe (keys / const_probe): the inner SET is
    # per-GROUP, so the executor joins per-group (n, nn) stats and a
    # (group, y) match view instead of folding the group key into the
    # probe row-value (which silently changes NULL semantics).
    # Same (outer variable, inner column) convention as keys.
    corr_keys: tuple[tuple[str, str], ...] = ()
    # NOT IN whose inner set is ALSO filtered by threshold comparisons
    # against the outer row: `o.x NOT IN (SELECT y FROM t WHERE [t.k =
    # o.k AND] t.c < o.d ...)`. A TUPLE of triples (op, outer-only Expr
    # with ("@o", variable) refs, inner column), op oriented <inner c>
    # op <outer d>, in a shape plans/not_in.py:not_in_family admits;
    # the three per-group facts (set empty? has NULL y? probe matched?)
    # come from that family's flag. None otherwise.
    corr_threshold: tuple | None = None
    # Probe-DEPENDENT probe EXPRESSION (round 13): `o.a + 1 NOT IN
    # (SELECT y ...)` — the probe side is an outer-only EXPRESSION
    # rather than a bare outer Col (which rides `keys`) or a refs-free
    # constant (`const_probe`). Tuple (outer-only Expr with
    # ("@o", variable) refs, inner column name). The executor
    # materializes the expression as a temp outer column and re-enters
    # the single-key machinery — every downstream branch (plain
    # null-aware anti, the NOT IN flag) is reused unchanged, so the
    # three-valued gate (a NULL probe expression is UNKNOWN) is
    # inherited, not redone.
    # None for every other shape.
    expr_probe: tuple | None = None


@dataclass
class Context:
    """Normalized query (reference convert/Context.scala)."""

    relations: list[Relation]
    var_map: dict[tuple[str, str], str]  # (alias, col) -> variable
    local_filters: dict[int, list[Cond]]  # rid -> pushed-down predicates
    comparisons: list[Comparison]
    residuals: list[Cond]  # applied after the full join
    output: list[tuple[str, Expr]]  # (out name, expression over refs)
    group_by: list[Expr]
    aggregations: list[tuple[str, AggCall]]
    order_by: list[tuple[Expr, bool, str | None]]  # (expr, desc, nulls)
    limit: int | None
    distinct: bool
    is_full: bool
    # LIMIT n OFFSET m (round 10) — rows skipped after the sort,
    # before the limit
    offset: int | None = None
    # post-aggregation filters (HAVING conjunction — engine extension;
    # validated so every non-aggregate subexpression matches a GROUP BY
    # expression)
    having: list[Cond] = field(default_factory=list)
    # rid -> planned [NOT] EXISTS semi/anti joins (engine extension)
    semi_filters: dict[int, list[SemiFilter]] = field(default_factory=dict)
    # GROUP BY ROLLUP/CUBE/GROUPING SETS (engine extension):
    # 'plain' | 'rollup' | 'cube' | 'sets' (+ index lists into group_by)
    group_mode: str = "plain"
    grouping_sets: list[list[int]] = field(default_factory=list)

    def relation_by_alias(self, alias: str) -> Relation:
        for r in self.relations:
            if r.alias == alias:
                return r
        raise KeyError(alias)

    def all_variables(self) -> frozenset[str]:
        out: set[str] = set()
        for r in self.relations:
            out |= r.variables
        return frozenset(out)


_CMP_OPS = {"<", "<=", ">", ">="}


def _refs_aliases(node) -> set[str]:
    return {a for a, _ in node.refs()}


def _contains_exists(c) -> bool:
    if isinstance(c, Exists):
        return True
    return any(_contains_exists(k) for k in getattr(c, "children", ()))


def contains_window(node) -> bool:
    """True if any WindowCall appears in the expression tree."""
    from sparksqlplus_spark.expressions import WindowCall, map_expr

    hit = False

    def probe(n):
        nonlocal hit
        if isinstance(n, WindowCall):
            hit = True
        return None

    map_expr(node, probe)
    return hit


def expand_select_stars(spec: QuerySpec, catalog: Catalog) -> QuerySpec:
    """Return ``spec`` with SELECT ``*`` / ``a.*`` items expanded to
    explicit columns against the catalog, in FROM order (outer-join
    attachments included, ANSI left-to-right). Used by api._plan_spec
    BEFORE the USING rewrite and the QUALIFY/outer-join desugars — the
    desugars project named items, so an unexpanded star either crashed
    mid-plan or died in a fallback Spark cannot parse (QUALIFY,
    DISTINCT ON). Callers must reject USING/NATURAL joins first: ANSI
    star-expansion shows a merged join column ONCE, which this flat
    expansion cannot express (the spark.sql fallback handles those).
    No-op (same object) when no item is a star.
    """
    def is_star(e) -> bool:
        return isinstance(e, Star) or (isinstance(e, Col) and e.name == "*")

    if not any(is_star(si.expr) for si in spec.select):
        return spec
    from dataclasses import replace as dc_replace

    items = list(spec.from_items) + [oj.item for oj in spec.outer_joins]
    alias_cols: dict[str, list[str]] = {}
    order: list[str] = []
    for i, fi in enumerate(items):
        try:
            rel = _make_relation(i, fi, catalog)
        except UnknownTableError as exc:
            raise UnsupportedSqlError(str(exc)) from None
        alias_cols[fi.alias] = list(rel.col_to_var.keys())
        order.append(fi.alias)
    sel_items: list = []
    for si in spec.select:
        e = si.expr
        if not is_star(e):
            sel_items.append(si)
            continue
        if si.alias:
            raise UnsupportedSqlError("cannot alias *")
        if isinstance(e, Col):
            if e.alias not in alias_cols:
                raise UnsupportedSqlError(f"unknown alias {e.alias!r}")
            targets = [e.alias]
        else:
            targets = order
        cols = [(a, c) for a in targets for c in alias_cols[a]]
        names = [c for _, c in cols]
        if len(set(names)) != len(names):
            raise UnsupportedSqlError(
                "SELECT * with duplicate column names across FROM "
                "items; not in the subset"
            )
        sel_items.extend(type(si)(Col(a, c), None) for a, c in cols)
    return dc_replace(spec, select=sel_items)


def build_context(spec: QuerySpec, catalog: Catalog) -> Context:
    """Normalize a parsed query against the catalog.

    Follows LogicalPlanConverter.visitJoins semantics: every equi-join
    between plain column refs merges variables; conditions are pushed to
    a single relation when co-located, classified as cross-relation
    comparisons when they are binary inequalities between two relations,
    and kept as residual otherwise.
    """
    if spec.using_joins:
        # JOIN USING resolves against the catalog in api._expand_using
        # (the left owner of each using column needs schemas); a spec
        # still carrying markers cannot build directly
        raise UnsupportedSqlError("JOIN USING plans via api._expand_using")
    if spec.outer_joins or spec.inner_on:
        # OUTER JOIN attachments (and the inner-ON conjuncts a
        # RIGHT/FULL statement keeps separate) are planned by
        # api._run_outer (core inner block + post-join attach); a
        # direct context build cannot express them
        raise UnsupportedSqlError(
            "OUTER JOIN is planned by the outer-join planner"
        )
    if spec.qualify:
        # QUALIFY desugars in api._plan_qualify (derived table +
        # outer WHERE) before any context build
        raise UnsupportedSqlError(
            "QUALIFY is planned by the qualify desugar"
        )
    # ---- relations -------------------------------------------------------
    relations: list[Relation] = []
    alias_cols: dict[str, list[str]] = {}
    for i, fi in enumerate(spec.from_items):
        try:
            rel = _make_relation(i, fi, catalog)
        except UnknownTableError as exc:
            # the table may exist only as a Spark temp view — route to
            # the spark.sql fallback instead of dying here
            raise UnsupportedSqlError(str(exc)) from None
        relations.append(rel)
        alias_cols[fi.alias] = list(rel.col_to_var.keys())
    if len({r.alias for r in relations}) != len(relations):
        raise UnsupportedSqlError("duplicate FROM alias")

    # ---- resolve unqualified column refs ---------------------------------
    def owner_of(col: str) -> str:
        owners = [a for a, cols in alias_cols.items() if col in cols]
        if len(owners) != 1:
            raise UnsupportedSqlError(f"ambiguous or unknown column {col!r}")
        return owners[0]

    def qualify(node):
        refs = node.refs()
        mapping = {}
        for a, c in refs:
            if a == "":
                mapping[(a, c)] = (owner_of(c), c)
            elif a not in alias_cols:
                raise UnsupportedSqlError(f"unknown alias {a!r}")
            elif c not in alias_cols[a]:
                raise UnsupportedSqlError(f"unknown column {a}.{c}")
        return rewrite_refs(node, mapping) if mapping else node

    # [NOT] EXISTS conjuncts are scoped (inner alias shadows outer
    # columns), so they skip the flat qualifier and resolve below
    exists_conds = [c for c in spec.where if isinstance(c, Exists)]
    where = [qualify(c) for c in spec.where if not isinstance(c, Exists)]
    # ---- expand SELECT * / alias.* (round 11) -----------------------------
    # The parser leaves `*` as a Star item and `a.*` as Col(a, "*");
    # expand both against the catalog, in FROM order — previously a
    # bare star escaped to Star.to_spark's raw ValueError mid-plan,
    # breaking the auto-fallback contract for the most common SQL
    # statement there is. api._plan_spec expands BEFORE its USING
    # rewrite and desugars; this call covers direct build_context
    # users (engine.context, EXISTS/derived sub-builds). COUNT(*)'s
    # Star sits inside the AggCall arg and is untouched.
    sel_items = expand_select_stars(spec, catalog).select
    select = [(si.alias, qualify(si.expr)) for si in sel_items]
    group_by = [qualify(e) for e in spec.group_by]
    # HAVING must qualify like everything else: finalize renders its
    # aggregate helper columns through var_map, whose keys are
    # (alias, col) — an unqualified ref would KeyError at to_spark
    having = [qualify(c) for c in spec.having]
    # ORDER BY may reference an output alias — keep those unqualified
    out_aliases = {si.alias for si in sel_items if si.alias}

    def qualify_order(e: Expr) -> Expr:
        if isinstance(e, Col) and e.alias == "" and e.name in out_aliases:
            return e
        return qualify(e)

    order_by = [(qualify_order(oi.expr), oi.desc, oi.nulls) for oi in spec.order_by]

    # ---- natural-join normalization (union-find) --------------------------
    ds = DisjointSet()
    for a, cols in alias_cols.items():
        for c in cols:
            ds.find((a, c))
    join_conds: list[Cond] = []
    rest: list[Cond] = []
    for cond in where:
        if (
            isinstance(cond, Cmp)
            and cond.op == "="
            and isinstance(cond.left, Col)
            and isinstance(cond.right, Col)
            and cond.left.alias != cond.right.alias
        ):
            ds.union((cond.left.alias, cond.left.name), (cond.right.alias, cond.right.name))
            join_conds.append(cond)
        else:
            rest.append(cond)

    # mint variables per equivalence class, in deterministic order
    var_map: dict[tuple[str, str], str] = {}
    class_var: dict[tuple[str, str], str] = {}
    counter = 0
    for a, cols in alias_cols.items():
        for c in cols:
            root = ds.find((a, c))
            if root not in class_var:
                counter += 1
                class_var[root] = f"v{counter}"
            var_map[(a, c)] = class_var[root]
    for rel in relations:
        rel.col_to_var = {c: var_map[(rel.alias, c)] for c in rel.col_to_var}
        meta_pk = rel.primary_key_vars  # temporarily holds column names
        rel.primary_key_vars = tuple(
            var_map[(rel.alias, c)] for c in meta_pk if (rel.alias, c) in var_map
        )

    # ---- classify remaining conditions ------------------------------------
    alias_rid = {r.alias: r.rid for r in relations}
    local_filters: dict[int, list[Cond]] = {r.rid: [] for r in relations}

    # ---- [NOT] EXISTS → relation-local semi/anti joins (extension) --------
    semi_filters: dict[int, list[SemiFilter]] = {}
    for ex in exists_conds:
        if ex.body is not None:
            # multi-table bodies are rewritten to this single-table
            # shape by api._lift_exists_joins before the context build
            raise UnsupportedSqlError(
                "multi-table EXISTS must be lifted to a composite view"
            )
        try:
            inner_cols = set(catalog.get(ex.table).column_names)
        except UnknownTableError as exc:
            raise UnsupportedSqlError(str(exc)) from None
        if ex.table_alias in alias_cols:
            raise UnsupportedSqlError(
                f"EXISTS alias {ex.table_alias!r} shadows an outer alias"
            )

        def _resolve(c: Cond):
            """Scope refs: inner alias (or bare names the inner table
            owns — innermost scope wins) rewrite to ("", col); the rest
            must resolve against the outer FROM list."""
            mapping: dict[tuple[str, str], tuple[str, str]] = {}
            sides: set[str] = set()
            for a, col in c.refs():
                if a == ex.table_alias or (a == "" and col in inner_cols):
                    mapping[(a, col)] = ("", col)
                    sides.add("inner")
                elif a in alias_cols and col in alias_cols[a]:
                    sides.add("outer")
                elif a == "":
                    mapping[(a, col)] = (owner_of(col), col)
                    sides.add("outer")
                else:
                    raise UnsupportedSqlError(
                        f"unknown reference {a}.{col} inside EXISTS"
                    )
            return sides, (rewrite_refs(c, mapping) if mapping else c)

        keys: list[tuple[Col, str]] = []
        key_is_probe: list[bool] = []  # parallel to keys (Exists.n_probe)
        inner_only: list[Cond] = []
        extra_raw: list[Cmp] = []  # correlated non-equality Cmp (Col vs Col)
        outer_aliases: set[str] = set()

        def _col_sides(rw: Cmp):
            """Return (outer Col, inner Col) for a correlated Col-Col
            Cmp, or None if it isn't that shape."""
            if not (isinstance(rw.left, Col) and isinstance(rw.right, Col)):
                return None
            if rw.left.alias == "" and rw.right.alias != "":
                return rw.right, rw.left
            if rw.right.alias == "" and rw.left.alias != "":
                return rw.left, rw.right
            return None

        n_corr_keys = 0  # equality keys NOT from the probe conjuncts
        # probe-dependent probe EXPRESSION (round 13): (outer-only
        # Expr, inner col) when the NOT IN probe is e.g. `o.a + 1`
        expr_probe_raw: tuple | None = None
        corr_conds: list[tuple[int, Cond, set]] = []
        for idx, c in enumerate(ex.conds):
            sides, rw = _resolve(c)
            if sides <= {"inner"}:
                inner_only.append(rw)
                continue
            if sides <= {"outer"} and not ex.negated:
                # a conjunct inside EXISTS that touches only OUTER
                # columns (or constants) doesn't depend on inner rows:
                # EXISTS(inner AND P_outer) == P_outer AND EXISTS(inner)
                # — lift it to the enclosing WHERE (round 8). NOT the
                # negated form: NOT EXISTS(inner AND P) is
                # NOT P OR NOT EXISTS(inner), a disjunction this
                # conjunction cannot express — those raise below and
                # ride the fallback
                rest.append(rw)
                continue
            corr_conds.append((idx, rw, sides))

        def _threshold_of(rw):
            """(op, outer-only Expr, inner col name) for a correlated
            non-equality Cmp with a BARE inner column on one side and
            an outer-only expression on the other, op oriented
            <inner> op <outer>; None when not that shape (equality,
            expression inner side). Order ops reduce the three-valued
            facts to per-group MIN/MAX tests; <> to a distinct-count +
            unique-value test (compiler/cqc.py threshold branch)."""
            from sparksqlplus_spark.expressions import CMP_FLIP

            if not isinstance(rw, Cmp) or rw.op not in (
                "<", "<=", ">", ">=", "<>",
            ):
                return None

            def _inner_col(side):
                return isinstance(side, Col) and side.alias == ""

            def _outer_only(side):
                refs = side.refs()
                return bool(refs) and all(a != "" for a, _ in refs)

            if _inner_col(rw.left) and _outer_only(rw.right):
                return (rw.op, rw.right, rw.left.name)
            if _inner_col(rw.right) and _outer_only(rw.left):
                return (CMP_FLIP[rw.op], rw.left, rw.right.name)
            return None

        def _not_in_thresholds(rws):
            """The threshold triples of a NOT IN's non-equality
            correlations, in a shape plans/not_in.py plans natively."""
            thrs = [_threshold_of(rw) for rw in rws]
            if any(t is None for t in thrs):
                raise UnsupportedSqlError(
                    "NOT IN thresholds need a bare inner column against "
                    "an outer-only expression"
                )
            not_in_family(t[0] for t in thrs)
            return thrs

        for idx, rw, sides in corr_conds:
            pair = (
                _col_sides(rw)
                if isinstance(rw, Cmp) and sides == {"inner", "outer"}
                else None
            )
            if pair is None:
                # the PROBE conjunct of an IN/NOT IN whose probe side
                # is an outer-only EXPRESSION (round 13: `o.a + 1 NOT
                # IN (SELECT y ...)` — parser contract: probe conjuncts
                # sit at idx < n_probe as `<probe expr> = <inner col>`).
                # Recorded apart from keys; the executor materializes
                # the expression as a temp outer column and re-enters
                # the single-key machinery (SemiFilter.expr_probe).
                # POSITIVE IN takes the same route (late round 13) —
                # two-valued under WHERE, so the temp-column semi join
                # is exact; its correlation equalities stay in keys
                # and the executor re-enters with them appended.
                if (
                    ex.null_aware
                    and idx < ex.n_probe
                    and isinstance(rw, Cmp)
                    and rw.op == "="
                    and sides == {"inner", "outer"}
                    and expr_probe_raw is None
                ):

                    def _probe_of(lhs, rhs):
                        refs = lhs.refs()
                        if (
                            isinstance(rhs, Col)
                            and rhs.alias == ""
                            and refs
                            and all(a != "" for a, _ in refs)
                        ):
                            return (lhs, rhs.name)
                        return None

                    pr = _probe_of(rw.left, rw.right) or _probe_of(
                        rw.right, rw.left
                    )
                    if pr is not None:
                        outer_aliases.update(
                            a for a, _ in pr[0].refs() if a != ""
                        )
                        expr_probe_raw = pr
                        continue
                # an order comparison against an outer-only EXPRESSION
                # is admissible for the NOT IN threshold path (round
                # 12) — keep it raw for the gate sites below; every
                # other non-Col-Col correlation raises (fallback)
                if (
                    ex.null_aware
                    and ex.negated
                    and sides == {"inner", "outer"}
                    and _threshold_of(rw) is not None
                ):
                    outer_aliases.update(
                        a for a, _ in rw.refs() if a != ""
                    )
                    extra_raw.append(rw)
                    continue
                raise UnsupportedSqlError(
                    "EXISTS supports inner-local predicates and Col-Col "
                    "correlation only"
                )
            outer_col, inner_col = pair
            outer_aliases.add(outer_col.alias)
            if rw.op == "=":
                keys.append((outer_col, inner_col.name))
                key_is_probe.append(idx < ex.n_probe)
                if idx >= ex.n_probe:
                    n_corr_keys += 1
            else:
                extra_raw.append(rw)

        corr_keys: list[tuple[Col, str]] = []
        corr_const_probe = None
        corr_threshold_raw = None
        if ex.null_aware and ex.negated and n_corr_keys:
            # correlated NOT IN (round 12): `o.x NOT IN (SELECT y FROM
            # t WHERE t.k = o.k)` — the inner SET varies per outer row,
            # so its three-valued NULL facts (empty? has a NULL?) are
            # PER-GROUP, not the probe-column facts the row-value /
            # single-key paths compute (conflating the correlation key
            # into the probe row-value silently changed NULL semantics
            # — the pre-fix engine returned 1 of DuckDB's 4 rows on
            # test_not_in_correlated_where's data). Split the keys by
            # probe provenance; the executor plans per-group stats.
            # Supported: a single-column probe (outer Col or constant)
            # and the threshold comparisons (`AND t.c < o.d` filters
            # the group per outer row) plans/not_in.py:not_in_family
            # admits; keyed multi-comparison shapes route to the
            # spark.sql fallback when the plan is built. Wider shapes
            # raise and ride the fallback.
            if ex.n_probe != 1 or len(keys) - n_corr_keys > 1:
                raise UnsupportedSqlError(
                    "row-value NOT IN with a correlated WHERE is not "
                    "planned natively"
                )
            if extra_raw:
                corr_threshold_raw = _not_in_thresholds(extra_raw)
                extra_raw = []
            corr_keys = [k for k, p in zip(keys, key_is_probe) if not p]
            keys = [k for k, p in zip(keys, key_is_probe) if p]
            if not keys and expr_probe_raw is None:
                # the probe never reached keys — it must be the
                # constant-probe conjunct sitting first in inner_only
                # (parser contract: conds[0] is the probe)
                probe = inner_only[0] if inner_only else None
                if not (
                    isinstance(probe, Cmp)
                    and probe.op == "="
                    and isinstance(probe.left, Col)
                    and const_expr(probe.right)
                ):
                    raise UnsupportedSqlError(
                        "non-constant probe NOT IN with a correlated "
                        "WHERE is not planned natively"
                    )
                corr_const_probe = (probe.right, probe.left.name)
                inner_only = inner_only[1:]
        keyless_const_notin_thr = False
        if (
            not keys
            and not corr_keys
            and extra_raw
            and expr_probe_raw is None
        ):
            if ex.null_aware and ex.negated and ex.n_probe == 1:
                # keyless threshold-filtered NOT IN with a CONSTANT
                # probe (round 13): `2 NOT IN (SELECT y FROM t WHERE
                # t.c1 OP o.d1 ...)` — the probe conjunct sits first
                # in inner_only (parser contract); extract it here so
                # the keyless-threshold gate below plans the facts
                # (the executor's const_probe branches fold them from
                # global views/frontiers).
                probe = inner_only[0] if inner_only else None
                if not (
                    isinstance(probe, Cmp)
                    and probe.op == "="
                    and isinstance(probe.left, Col)
                    and const_expr(probe.right)
                ):
                    raise UnsupportedSqlError(
                        "non-constant probe NOT IN with a correlated "
                        "WHERE is not planned natively"
                    )
                corr_const_probe = (probe.right, probe.left.name)
                inner_only = inner_only[1:]
                keyless_const_notin_thr = True
            else:
                raise UnsupportedSqlError(
                    "EXISTS needs at least one equality correlation"
                )
        if (
            not keys
            and not corr_keys
            and expr_probe_raw is None
            and not keyless_const_notin_thr
        ):
            # uncorrelated [NOT] EXISTS (round 9): a constant gate —
            # true iff the filtered inner table has >= 1 row. Planned
            # as a keyless SemiFilter on the first relation
            # (_apply_semi_filter broadcasts a LIMIT 1 one-row probe,
            # so the gate costs one metadata-scale scan regardless of
            # outer size); attachment point is arbitrary since the
            # gate keeps either every row or none.
            #
            # A CONSTANT-PROBE null-aware NOT IN lands here too
            # (`5 NOT IN (SELECT x FROM t)`: the probe conjunct
            # `5 = x` has inner-only refs, so keys is empty) — and its
            # three-valued semantics differ from NOT EXISTS: a NULL in
            # the inner set with no match yields UNKNOWN (drop every
            # row), while the keyless gate would keep them. The parser
            # marks probe conjuncts (Exists.n_probe), so a LITERAL
            # probe separates from genuine inner filters and plans as
            # a const-probe SemiFilter (broadcast one-row stats gate,
            # round 10); a non-literal inner-scoped probe stays
            # unsupported — raise so mode='auto' routes to the
            # spark.sql fallback (the r10 advice fix: this shape was
            # silently two-valued before). Positive IN is
            # two-valued-equivalent under WHERE (UNKNOWN filters like
            # FALSE) and stays on the gate.
            if ex.null_aware and ex.negated:
                # the probe is conds[0] (parser contract, n_probe) and
                # — keyless means it has no outer refs — lands as the
                # FIRST inner_only element, resolved to ("", col) refs
                probe = (
                    inner_only[0]
                    if ex.n_probe == 1 and inner_only
                    else None
                )
                lit_side = icol_side = None
                if (
                    isinstance(probe, Cmp)
                    and probe.op == "="
                    and isinstance(probe.left, Col)
                    and const_expr(probe.right)
                ):
                    # any refs-free constant EXPRESSION works — the
                    # gate evaluates it via to_spark({}) (round 10
                    # widened from bare literals: `1 + 4 NOT IN ...`)
                    lit_side, icol_side = probe.right, probe.left
                if lit_side is None:
                    raise UnsupportedSqlError(
                        "non-constant probe NOT IN (subquery) "
                        "is three-valued; not planned natively"
                    )
                semi_filters.setdefault(relations[0].rid, []).append(
                    SemiFilter(
                        negated=True,
                        table=ex.table,
                        keys=(),
                        inner_filters=tuple(inner_only[1:]),
                        extra=(),
                        null_aware=True,
                        const_probe=(lit_side, icol_side.name),
                    )
                )
                continue
            semi_filters.setdefault(relations[0].rid, []).append(
                SemiFilter(
                    negated=ex.negated,
                    table=ex.table,
                    keys=(),
                    inner_filters=tuple(inner_only),
                    extra=(),
                    null_aware=False,
                )
            )
            continue
        if len(outer_aliases) != 1:
            raise UnsupportedSqlError(
                "EXISTS must correlate with exactly one outer relation"
            )
        if ex.null_aware and ex.negated and extra_raw:
            # KEYLESS threshold-filtered NOT IN: `o.x NOT IN (SELECT y
            # FROM t WHERE t.c < o.d ...)` — the inner set is
            # per-outer-row via the thresholds, so the three-valued
            # facts fold against GLOBAL statistics (plans/not_in.py)
            n_probe_slots = (
                len(keys)
                + (1 if expr_probe_raw is not None else 0)
                + (1 if corr_const_probe is not None else 0)
            )
            if n_probe_slots != 1:
                raise UnsupportedSqlError(
                    "NOT IN (subquery) with thresholds needs a single "
                    "probe"
                )
            corr_threshold_raw = _not_in_thresholds(extra_raw)
            extra_raw = []
        out_alias = next(iter(outer_aliases))
        rid = alias_rid[out_alias]
        # mark extra conds: outer refs -> ("@o", variable), inner stay ("", col)
        extra = tuple(
            rewrite_refs(
                rw,
                {
                    (out_alias, c): ("@o", var_map[(out_alias, c)])
                    for a, c in rw.refs()
                    if a == out_alias
                },
            )
            for rw in extra_raw
        )
        semi_filters.setdefault(rid, []).append(
            SemiFilter(
                negated=ex.negated,
                table=ex.table,
                keys=tuple(
                    (var_map[(k.alias, k.name)], ic) for k, ic in keys
                ),
                inner_filters=tuple(inner_only),
                extra=extra,
                null_aware=ex.null_aware,
                const_probe=corr_const_probe,
                corr_keys=tuple(
                    (var_map[(k.alias, k.name)], ic) for k, ic in corr_keys
                ),
                corr_threshold=(
                    tuple(
                        (
                            op,
                            rewrite_refs(
                                oexpr,
                                {
                                    (a, c): ("@o", var_map[(a, c)])
                                    for a, c in oexpr.refs()
                                },
                            ),
                            icol,
                        )
                        for op, oexpr, icol in corr_threshold_raw
                    )
                    if corr_threshold_raw is not None
                    else None
                ),
                expr_probe=(
                    (
                        rewrite_refs(
                            expr_probe_raw[0],
                            {
                                (a, c): ("@o", var_map[(a, c)])
                                for a, c in expr_probe_raw[0].refs()
                            },
                        ),
                        expr_probe_raw[1],
                    )
                    if expr_probe_raw is not None
                    else None
                ),
            )
        )
    comparisons: list[Comparison] = []
    residuals: list[Cond] = []
    cid = 0
    for cond in rest:
        if _contains_exists(cond):
            # e.g. EXISTS inside OR — not foldable into one semi-join
            raise UnsupportedSqlError(
                "EXISTS is only supported as a top-level AND conjunct"
            )
        aliases = _refs_aliases(cond)
        if len(aliases) <= 1:
            if aliases:
                local_filters[alias_rid[next(iter(aliases))]].append(cond)
            else:
                residuals.append(cond)  # constant predicate
            continue
        if isinstance(cond, Cmp) and cond.op in _CMP_OPS:
            la, ra = _refs_aliases(cond.left), _refs_aliases(cond.right)
            if len(la) == 1 and len(ra) == 1 and la != ra:
                cid += 1
                comparisons.append(
                    Comparison(
                        cid=cid,
                        op=cond.op,
                        left=cond.left,
                        right=cond.right,
                        left_rid=alias_rid[next(iter(la))],
                        right_rid=alias_rid[next(iter(ra))],
                    )
                )
                continue
        residuals.append(cond)

    # ---- output / aggregation ---------------------------------------------
    aggregations: list[tuple[str, AggCall]] = []
    output: list[tuple[str, Expr]] = []
    used_names: set[str] = set()
    for idx, (alias, expr) in enumerate(select):
        name = alias or _default_name(expr, idx)
        if name in used_names:
            name = f"{name}_{idx}"
        used_names.add(name)
        if isinstance(expr, AggCall):
            aggregations.append((name, expr))
        elif group_by or contains_agg(expr):
            # nested aggregates (e.g. SUM(a)/SUM(b)) are decomposed at
            # finalize time; plain group columns pass through. After
            # substituting GROUP BY expressions and aggregate calls,
            # nothing may still reference a base column — finalize's
            # colmap only has group keys + aggregate results, so e.g.
            # percentile(value, 0.5) (an aggregate this subset doesn't
            # model) must be rejected HERE so mode='auto' can fall back
            # to spark.sql instead of dying mid-plan.
            from sparksqlplus_spark.expressions import map_expr

            for sub in _agg_subcalls(expr):
                aggregations.append((f"__agg_{len(aggregations)}", sub))
            known_keys = {e.key() for e in group_by}

            def _known_out(node):
                k = getattr(node, "key", None)
                if k is not None and (
                    isinstance(node, AggCall) or node.key() in known_keys
                ):
                    return Lit(0, "int")
                return None

            leftover = map_expr(expr, _known_out).refs()
            if leftover:
                raise UnsupportedSqlError(
                    f"output {name!r} references non-grouped, non-aggregated "
                    f"columns {sorted(leftover)}"
                )
        output.append((name, expr))

    # ---- window functions: SELECT items only; ANSI semantics --------------
    for cond in [*where, *having]:
        if contains_window(cond):
            raise UnsupportedSqlError(
                "window functions are only valid in the SELECT list"
            )
    for e in [*group_by, *[e for e, *_ in order_by]]:
        if contains_window(e):
            raise UnsupportedSqlError(
                "window functions are only valid in the SELECT list"
            )
    # residual scalar subqueries (not folded by api._fold_scalars nor
    # decorrelated — e.g. multi-table or non-equality-correlated
    # shapes) cannot execute here; raise UnsupportedSqlError instead
    # of letting ScalarSubquery.to_spark crash with ValueError, so
    # mode='auto' rides the spark.sql fallback (round-8 fix)
    from sparksqlplus_spark.expressions import ScalarSubquery as _SSq
    from sparksqlplus_spark.expressions import map_expr as _map_expr

    def _has_scalar(node) -> bool:
        hit = False

        def probe(n):
            nonlocal hit
            if isinstance(n, _SSq):
                hit = True
            return None

        _map_expr(node, probe)
        return hit

    for e in [
        *[e for _, e in output],
        *where,
        *having,
        *group_by,
        *[e for e, *_ in order_by],
    ]:
        if _has_scalar(e):
            raise UnsupportedSqlError(
                "scalar subquery in a non-plannable position"
            )

    has_window = any(contains_window(e) for _, e in output) or any(
        contains_window(e) for r in relations for _, e in r.sub_proj
    )
    if any(contains_window(e) for _, e in output) and (group_by or aggregations):
        raise UnsupportedSqlError(
            "window functions over aggregated queries are not in the subset"
        )

    # ---- is_full: every variable appears as a plain output column ---------
    out_vars: set[str] = set()
    for _, expr in output:
        if isinstance(expr, Col):
            out_vars.add(var_map[(expr.alias, expr.name)])
    is_full = out_vars >= set().union(*[set(r.variables) for r in relations])
    if has_window:
        # an OVER clause is pure-SQL extension surface: ANSI bag
        # semantics, never the CQ non-full DISTINCT rule (which would
        # dedup rows the window numbering distinguishes)
        is_full = True

    # ---- HAVING validation: after substituting GROUP BY expressions and
    # aggregate calls, nothing may still reference a base column (a
    # non-grouped reference would be ambiguous per group) ----------------
    if having:
        from sparksqlplus_spark.expressions import map_expr

        known_keys = {e.key() for e in group_by}

        def _known(node):
            k = getattr(node, "key", None)
            if k is not None and (
                isinstance(node, AggCall) or node.key() in known_keys
            ):
                return Lit(0, "int")
            return None

        for cond in having:
            leftover = map_expr(cond, _known).refs()
            if leftover:
                raise UnsupportedSqlError(
                    f"HAVING references non-grouped columns {sorted(leftover)}"
                )

    # ---- ROLLUP / CUBE / GROUPING SETS validation ------------------------
    if spec.group_mode != "plain" and not aggregations:
        raise UnsupportedSqlError(
            f"GROUP BY {spec.group_mode.upper()} requires at least one "
            "aggregate in the SELECT list"
        )
    # every GROUPING() anywhere in the statement tail (outputs, HAVING,
    # ORDER BY) must ride a grouped-set query and name a group expr —
    # a leak into a plain groupBy().agg() would die in Spark with an
    # AnalysisException instead of falling back
    grouping_calls = [
        a
        for a in (
            [a for _, a in aggregations]
            + [s for c in having for s in _agg_subcalls(c)]
            + [s for e, *_ in order_by for s in _agg_subcalls(e)]
        )
        if a.func == "grouping"
    ]
    if spec.group_mode == "plain" and grouping_calls:
        raise UnsupportedSqlError(
            "GROUPING() is only valid with ROLLUP/CUBE/GROUPING SETS"
        )
    gb_keys = {e.key() for e in group_by}
    for a in grouping_calls:
        if a.arg.key() not in gb_keys:
            raise UnsupportedSqlError(
                "GROUPING() argument must be a GROUP BY expression"
            )

    return Context(
        relations=relations,
        var_map=var_map,
        local_filters=local_filters,
        comparisons=comparisons,
        residuals=residuals,
        output=output,
        group_by=group_by,
        aggregations=aggregations,
        order_by=order_by,
        offset=spec.offset,
        limit=spec.limit,
        distinct=spec.distinct,
        is_full=is_full,
        having=having,
        semi_filters=semi_filters,
        group_mode=spec.group_mode,
        grouping_sets=list(spec.grouping_sets),
    )


def _default_name(expr: Expr, idx: int) -> str:
    if isinstance(expr, Col):
        return expr.name
    return f"col{idx}"


def contains_agg(expr) -> bool:
    return bool(_agg_subcalls(expr))


def _agg_subcalls(node) -> list[AggCall]:
    """All AggCall subexpressions (for decomposing computed aggregates)."""
    if isinstance(node, AggCall):
        return [node]
    out: list[AggCall] = []
    for attr in ("left", "right", "child", "expr", "otherwise", "arg"):
        sub = getattr(node, attr, None)
        if sub is not None and hasattr(sub, "refs"):
            out.extend(_agg_subcalls(sub))
    for attr in ("args", "children"):
        subs = getattr(node, attr, None)
        if subs:
            for s in subs:
                if hasattr(s, "refs"):
                    out.extend(_agg_subcalls(s))
    branches = getattr(node, "branches", None)
    if branches:
        for c, e in branches:
            out.extend(_agg_subcalls(c))
            out.extend(_agg_subcalls(e))
    return out


def _make_derived_relation(rid: int, fi: FromItem, catalog: Catalog) -> Relation:
    """Derived table (engine extension): FROM (SELECT exprs FROM t
    WHERE conds) AS a — a filtered scan with an expression projection.
    Filters stay over base columns (applied before the projection), so
    they push into the scan and may reference unprojected columns.
    Computed columns need an alias and become ordinary join-able
    variables. The base PK survives only if every PK column is
    projected as a plain column."""
    sub = fi.subquery
    # qualify/offset in the reject list (round-12 correctness fix,
    # same class as the C21 HAVING drop): a derived table carrying
    # QUALIFY silently returned every row; rejecting routes it to the
    # recursive composite-view planner, which desugars QUALIFY
    if (
        sub.order_by
        or sub.limit is not None
        or sub.offset is not None
        or sub.distinct
        or sub.having
        or sub.qualify
    ):
        raise UnsupportedSqlError(
            "derived table supports only SELECT exprs FROM t WHERE conds"
        )
    base = catalog.get(sub.from_items[0].table)
    inner_alias = sub.from_items[0].alias
    base_cols = set(base.column_names)
    exists_conds = [c for c in sub.where if isinstance(c, Exists)]
    plain_where = [c for c in sub.where if not isinstance(c, Exists)]

    def norm(node):
        if _contains_exists(node):
            raise UnsupportedSqlError(
                "EXISTS inside a derived table is not in the subset"
            )
        mapping = {}
        for a, c in node.refs():
            if a not in ("", inner_alias) or c not in base_cols:
                raise UnsupportedSqlError(
                    f"derived table references unknown column {a}.{c}"
                )
            mapping[(a, c)] = ("", c)
        try:
            return rewrite_refs(node, mapping) if mapping else node
        except TypeError as exc:
            # e.g. an unfolded ScalarSubquery when build_context is
            # called without api._fold_scalars — degrade to the
            # fallback-able error instead of crashing
            raise UnsupportedSqlError(f"derived table: {exc}") from None

    proj: list[tuple[str, Expr]] = []
    names: set[str] = set()
    plain_src: dict[str, str] = {}  # base col -> output name (plain cols)
    for si in sub.select:
        e = norm(si.expr)
        if isinstance(e, Col):
            name = si.alias or e.name
            plain_src[e.name] = name
        elif si.alias:
            name = si.alias
        else:
            raise UnsupportedSqlError(
                "computed derived-table column needs an alias"
            )
        if name in names:
            raise UnsupportedSqlError(f"duplicate derived-table column {name!r}")
        names.add(name)
        proj.append((name, e))
    if not proj:
        raise UnsupportedSqlError("derived table selects nothing")
    for c in plain_where:
        if contains_window(c):
            raise UnsupportedSqlError(
                "window functions are only valid in the SELECT list"
            )
    filters = tuple(norm(c) for c in plain_where)
    # lift [NOT] EXISTS conjuncts of the derived WHERE into semi/anti
    # joins applied before the projection (same subset rules as
    # top-level EXISTS: one inner table, equality correlation against
    # the derived table's base columns, inner-local predicates)
    pre_semi: list[SemiFilter] = []
    for ex in exists_conds:
        try:
            ex_inner_cols = set(catalog.get(ex.table).column_names)
        except UnknownTableError as exc:
            raise UnsupportedSqlError(str(exc)) from None
        if ex.table_alias == inner_alias:
            raise UnsupportedSqlError(
                "EXISTS alias inside a derived table shadows its base"
            )
        keys: list[tuple[str, str]] = []
        inner_only: list[Cond] = []
        extra: list[Cond] = []
        n_corr_keys = 0  # equality keys NOT from the probe conjuncts
        for cidx, c in enumerate(ex.conds):
            mapping: dict[tuple[str, str], tuple[str, str]] = {}
            sides: set[str] = set()
            for a, col in c.refs():
                if a == ex.table_alias or (a == "" and col in ex_inner_cols):
                    # innermost scope wins for bare names
                    mapping[(a, col)] = ("@i", col)
                    sides.add("inner")
                elif a in ("", inner_alias) and col in base_cols:
                    mapping[(a, col)] = ("@o", col)
                    sides.add("outer")
                else:
                    raise UnsupportedSqlError(
                        f"unknown reference {a}.{col} in derived-table EXISTS"
                    )
            rw = rewrite_refs(c, mapping) if mapping else c
            if sides <= {"inner"}:
                inner_only.append(
                    rewrite_refs(
                        rw, {("@i", col): ("", col) for _, col in rw.refs()}
                    )
                )
                continue
            if not (
                isinstance(rw, Cmp)
                and isinstance(rw.left, Col)
                and isinstance(rw.right, Col)
                and sides == {"inner", "outer"}
            ):
                raise UnsupportedSqlError(
                    "derived-table EXISTS supports inner-local predicates "
                    "and Col-Col correlation only"
                )
            if rw.left.alias == "@i" and rw.right.alias == "@o":
                inner_c, outer_c = rw.left.name, rw.right.name
            elif rw.right.alias == "@i" and rw.left.alias == "@o":
                inner_c, outer_c = rw.right.name, rw.left.name
            else:
                raise UnsupportedSqlError(
                    "derived-table EXISTS correlation must be col = col"
                )
            if rw.op == "=":
                keys.append((outer_c, inner_c))
                if cidx >= ex.n_probe:
                    n_corr_keys += 1
            else:
                # SemiFilter.extra convention: inner ("", col)
                extra.append(
                    rewrite_refs(
                        rw,
                        {("@i", c): ("", c) for a, c in rw.refs() if a == "@i"},
                    )
                )
        if not keys:
            raise UnsupportedSqlError(
                "uncorrelated EXISTS inside a derived table is not in the subset"
            )
        if ex.null_aware and ex.negated and (len(keys) != 1 or extra or n_corr_keys):
            # n_corr_keys guards the const-probe + correlated-WHERE
            # shape, where the single equality key is the GROUP key,
            # not the probe (round-12 fix, see build_context)
            raise UnsupportedSqlError(
                "NOT IN (subquery) supports a single key and no extra "
                "correlation"
            )
        pre_semi.append(
            SemiFilter(
                negated=ex.negated,
                table=ex.table,
                keys=tuple(keys),
                inner_filters=tuple(inner_only),
                extra=tuple(extra),
                null_aware=ex.null_aware,
            )
        )
    pk_out: tuple[str, ...] = ()
    if base.primary_key and all(c in plain_src for c in base.primary_key):
        pk_out = tuple(plain_src[c] for c in base.primary_key)
    rel = Relation(
        rid=rid,
        alias=fi.alias,
        kind="scan",
        table=base.name,
        col_to_var={n: "" for n, _ in proj},
        cardinality=base.cardinality,
        sub_proj=tuple(proj),
        pre_filters=filters,
        pre_semi=tuple(pre_semi),
    )
    rel.primary_key_vars = pk_out
    return rel


def _make_relation(rid: int, fi: FromItem, catalog: Catalog) -> Relation:
    if fi.values is not None or fi.col_aliases is not None:
        # inline VALUES tables and derived column lists materialize in
        # api._plan_subqueries (which rewrites the item to a view
        # scan); a direct context build cannot express them
        raise UnsupportedSqlError(
            "VALUES / derived column list plans via api._plan_subqueries"
        )
    if fi.table is not None:
        meta = catalog.get(fi.table)
        rel = Relation(
            rid=rid,
            alias=fi.alias,
            kind="scan",
            table=meta.name,
            col_to_var={c: "" for c in meta.column_names},
            cardinality=meta.cardinality,
        )
        rel.primary_key_vars = tuple(meta.primary_key)  # cols; mapped later
        return rel
    sub = fi.subquery
    assert sub is not None
    if not isinstance(sub, QuerySpec):
        # a compound (UNION/...) subquery has no narrow native shape —
        # api._plan_subqueries plans it via _run_compound as a view
        raise UnsupportedSqlError(
            "compound FROM subquery needs recursive planning"
        )
    if sub.outer_joins:
        raise UnsupportedSqlError(
            "FROM subquery with outer joins needs recursive planning"
        )
    if len(sub.from_items) != 1 or sub.from_items[0].table is None:
        raise UnsupportedSqlError("FROM subquery must scan one base table")
    # derived table (no aggregation): SELECT exprs FROM t WHERE conds —
    # planned as a filtered scan with an expression projection
    if not sub.group_by and not any(contains_agg(si.expr) for si in sub.select):
        return _make_derived_relation(rid, fi, catalog)
    # aggregated subquery (SURVEY C21): SELECT g..., FUNC(arg) FROM t GROUP BY g...
    # HAVING included in the reject list (round-12 correctness fix:
    # this narrow shape silently DROPPED a subquery's HAVING — e.g.
    # `FROM (... GROUP BY k HAVING COUNT(*) > 1) v` returned every
    # group); rejecting routes it to the recursive composite-view
    # planner, which applies HAVING correctly
    if (
        sub.where
        or sub.having
        or sub.qualify
        or sub.order_by
        or sub.limit is not None
        or sub.offset is not None
        or sub.distinct
    ):
        raise UnsupportedSqlError("subquery must be a simple GROUP BY aggregate over one table")
    if sub.group_mode != "plain":
        raise UnsupportedSqlError(
            "ROLLUP/CUBE/GROUPING SETS inside a subquery is not in the subset"
        )
    base = catalog.get(sub.from_items[0].table)
    group_cols: list[tuple[str, str]] = []
    agg_func = agg_arg = agg_out = agg_arg_expr = None
    col_names: list[str] = []
    gb_names = set()
    for e in sub.group_by:
        if not isinstance(e, Col):
            raise UnsupportedSqlError("subquery GROUP BY must be plain columns")
        gb_names.add(e.name)
    for i, si in enumerate(sub.select):
        e = si.expr
        if isinstance(e, Col):
            if e.name not in gb_names:
                raise UnsupportedSqlError("subquery selects a non-grouped column")
            name = si.alias or e.name
            group_cols.append((e.name, name))
            col_names.append(name)
        elif isinstance(e, AggCall):
            if agg_func is not None:
                raise UnsupportedSqlError("subquery supports one aggregate")
            if e.func == "grouping":
                raise UnsupportedSqlError(
                    "GROUPING() is only valid with ROLLUP/CUBE/GROUPING SETS"
                )
            agg_func = e.func
            if isinstance(e.arg, Star):
                agg_arg = None
            elif isinstance(e.arg, Col):
                agg_arg = e.arg.name
            else:
                # arbitrary expression over base columns, e.g.
                # SUM(l_extendedprice * (1 - l_discount)) — TPC-H Q15 view
                agg_arg = None
                agg_arg_expr = e.arg
                # plan-time validation: every ref must resolve against the
                # base table (unqualified or via the subquery's own FROM
                # alias) so execution never hits a raw KeyError and
                # mode='auto' can fall back cleanly on anything else
                inner_alias = sub.from_items[0].alias
                for a, c in e.arg.refs():
                    if a not in ("", inner_alias) or c not in base.column_names:
                        raise UnsupportedSqlError(
                            f"subquery aggregate references unknown column {a}.{c}"
                        )
            agg_out = si.alias or f"{e.func}_{i}"
            col_names.append(agg_out)
        else:
            raise UnsupportedSqlError("subquery select must be group columns + one aggregate")
    if agg_func is None:
        raise UnsupportedSqlError("subquery must contain an aggregate")
    # PK of an AggregatedRelation = its group columns (reference
    # graph/AggregatedRelation.scala: group col is the key)
    return Relation(
        rid=rid,
        alias=fi.alias,
        kind="agg",
        table=base.name,
        col_to_var={c: "" for c in col_names},
        agg_group_cols=tuple(group_cols),
        agg_func=agg_func,
        agg_arg_col=agg_arg,
        agg_arg_expr=agg_arg_expr,
        agg_base_alias=sub.from_items[0].alias,
        agg_out_col=agg_out,
        primary_key_vars=tuple(c for c in col_names if c != agg_out),
    )
