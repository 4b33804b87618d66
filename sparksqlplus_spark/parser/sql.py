"""Minimal SQL front-end for the conjunctive-query-with-comparisons subset.

The reference parses with Calcite (sqlplus-core/.../parser/SqlPlusParser.java)
and accepts exactly one SELECT with: FROM list (tables and one shape of
aggregated subquery), a conjunctive WHERE (=, <>, <, <=, >, >=, [NOT] LIKE,
[NOT] IN, BETWEEN, IS [NOT] NULL, parenthesized OR), arithmetic / CASE /
EXTRACT(YEAR) expressions, GROUP BY + aggregates, and ORDER BY ... LIMIT
(SURVEY §2.1, §3.1 step 4). We parse the same surface (plus explicit
INNER JOIN ... ON sugar) into a :class:`QuerySpec`.

Anything outside the subset raises :class:`UnsupportedSqlError`; the API
layer then falls back to ``spark.sql`` verbatim.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sparksqlplus_spark.expressions import (
    AGG_FUNCS,
    AggCall,
    AndCond,
    Arith,
    CaseWhen,
    Cast,
    Cmp,
    Col,
    Cond,
    Exists,
    Expr,
    ExtractYear,
    Func,
    InList,
    IsNull,
    Like,
    Lit,
    Neg,
    OrCond,
    ScalarSubquery,
    Star,
)


class UnsupportedSqlError(Exception):
    """Query is outside the planner subset — caller should fall back."""


class RoutedToFallback(UnsupportedSqlError):
    """Statement IS in the dialect, but has no native plan: KEYED
    multi-comparison correlated [NOT] IN and OR'd [NOT] EXISTS (an
    equality correlation key plus 2-5 comparisons) are Catalyst-only in
    every mode — SCALING.md round-14 A/B measured Catalyst's
    decorrelation faster on every keyed cell. mode='auto' runs the
    statement through spark.sql; 'cqc' and 'naive' raise this error.

    Distinct from a genuine UnsupportedSqlError because the engine's
    semantics contract still applies: a routed NON-FULL statement must
    return set rows (SURVEY C23; reference rewrites SELECT -> SELECT
    DISTINCT for its baseline, CompileController.java:98-101), so the
    fallback handler in Engine.sql applies the same rewrite instead of
    running the query verbatim. ``needs_distinct`` carries that
    decision from wherever the plan context was available: True = the
    native plan would dedup (honest non-full, no aggregation, no
    explicit DISTINCT), False = bag semantics either way, None = raised
    on an ANSI-surface route (outer/qualify/compound) where bag
    semantics already hold — treated as False."""

    def __init__(self, msg: str, needs_distinct: bool | None = None):
        super().__init__(msg)
        self.needs_distinct = needs_distinct


def _has_agg_or_window(e: Expr) -> bool:
    from sparksqlplus_spark.expressions import AggCall, WindowCall, map_expr

    hit = False

    def probe(n):
        nonlocal hit
        if isinstance(n, (AggCall, WindowCall)):
            hit = True
        return None

    map_expr(e, probe)
    return hit


def _has_subquery(e: Expr) -> bool:
    from sparksqlplus_spark.expressions import ScalarSubquery, map_expr

    hit = False

    def probe(n):
        nonlocal hit
        if isinstance(n, ScalarSubquery):
            hit = True
        return None

    map_expr(e, probe)
    return hit


# ---------------------------------------------------------------------------
# AST containers
# ---------------------------------------------------------------------------


@dataclass
class SelectItem:
    expr: Expr
    alias: str | None = None


@dataclass
class FromItem:
    alias: str
    table: str | None = None
    subquery: "QuerySpec | None" = None
    # inline constant table (round 10): `(VALUES (1,'a'), (2,'b')) AS
    # t(x, y)` — literal-only expression rows; api._plan_subqueries
    # materializes them as a one-off DataFrame at metadata scale (the
    # rows live in the statement text, never in data). val_cols is the
    # REQUIRED alias column list.
    values: "list[list[Expr]] | None" = None
    val_cols: "list[str] | None" = None
    # positional column-alias list on a derived table: `(SELECT ...)
    # AS t(a, b)` — api._plan_subqueries renames the planned view's
    # output columns positionally (ANSI <derived column list>)
    col_aliases: "list[str] | None" = None


@dataclass
class OrderItem:
    expr: Expr
    desc: bool = False
    # NULLS FIRST | NULLS LAST (round 10) — None keeps the engine
    # default (Spark and DuckDB agree: ASC -> nulls first,
    # DESC -> nulls last)
    nulls: str | None = None


@dataclass
class OuterJoin:
    """One LEFT/RIGHT/FULL [OUTER] JOIN attachment (engine extension;
    the reference supports inner joins only). Applied AFTER the inner
    FROM block joins, in source order; `conds` is the ON conjunction.
    For a LEFT join, right-local conjuncts pre-filter the right side
    (equivalent — the right side is not preserved); for RIGHT/FULL the
    right side IS preserved, so every conjunct stays in the join
    condition (ON never removes preserved-side rows)."""

    item: FromItem
    conds: list[Cond]
    side: str = "left"  # 'left' | 'right' | 'full'
    # JOIN ... USING (c1, c2) — column names to expand into qualified
    # equi conds once schemas are known (api._expand_using; the parser
    # is schema-free so it cannot pick the left owner). Under FULL the
    # merged column is a genuine two-sided coalesce — _expand_using
    # rewrites unqualified refs to COALESCE(l.c, r.c).
    using: list[str] | None = None
    # NATURAL [LEFT|RIGHT|FULL] JOIN — USING over every common column name,
    # computed schema-aware in api._expand_using
    natural: bool = False
    # INTERNAL (never set by the parser): the right side is a
    # planner-built ONE-ROW flag view joined unconditionally (the
    # keyless skyline flag, api._keyless_sky_fold) — the "needs a
    # correlated ON condition" validation does not apply, the join is
    # a broadcast against a single row.
    allow_uncorrelated: bool = False


@dataclass
class QuerySpec:
    select: list[SelectItem]
    distinct: bool
    from_items: list[FromItem]
    where: list[Cond]  # top-level conjunction
    group_by: list[Expr] = field(default_factory=list)
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None
    having: list[Cond] = field(default_factory=list)  # conjunction
    # GROUP BY ROLLUP(...) / CUBE(...) / GROUPING SETS ((...), ...) —
    # engine extension (the reference's GROUP BY takes plain columns
    # only). 'plain' | 'rollup' | 'cube' | 'sets'; for 'sets',
    # grouping_sets holds one list of group_by indices per set.
    group_mode: str = "plain"
    grouping_sets: list[list[int]] = field(default_factory=list)
    # LEFT/RIGHT/FULL [OUTER] JOIN attachments, applied after the inner
    # FROM block (engine extension — api._run_outer). build_context
    # rejects specs carrying these; the API routes them to the
    # outer-join planner.
    outer_joins: list[OuterJoin] = field(default_factory=list)
    # ON conjuncts of INNER JOINs in the FROM block. Kept separate from
    # `where` ONLY when a RIGHT/FULL OUTER JOIN follows: they then
    # belong inside the outer join's left operand (pre-join), while the
    # WHERE clause applies after ALL joins — the placements differ once
    # the left side is null-supplied. For LEFT-only / no-outer
    # statements the two placements are equivalent, so the parser merges
    # them into `where` and this stays empty.
    inner_on: list[Cond] = field(default_factory=list)
    # WHERE conjuncts generated by scalar-subquery decorrelation
    # (api._try_decorrelate_one): equi-joins + the comparison against
    # the appended aggregated view. They are inner-join conditions on
    # FROM-block members by construction, so _run_outer keeps them in
    # the phase-1 core even when a RIGHT/FULL OUTER JOIN null-supplies
    # the core (avoiding a cartesian core x view); they are then ALSO
    # re-applied post-join, which drops exactly the spurious
    # null-extended rows a pre-filtered core could otherwise admit
    # (round-7 ADVICE). Tracked by object identity, positionally
    # remapped by api._fold_scalars.
    core_safe_where: list[Cond] = field(default_factory=list)
    # QUALIFY conjunction (engine extension; DuckDB/Snowflake surface —
    # neither the reference nor Spark SQL parses it). Filters on window
    # results after window computation, before DISTINCT/ORDER/LIMIT.
    # api._plan_qualify desugars it into a derived table projecting the
    # window expressions plus an outer WHERE; build_context rejects
    # specs still carrying it.
    qualify: list[Cond] = field(default_factory=list)
    # LIMIT n OFFSET m (round 10): rows skipped after the sort, before
    # the limit — df.offset(m).limit(n) in Spark's convention.
    offset: int | None = None
    # INNER JOIN ... USING (cols) markers: (right_alias, cols), one
    # per USING join in the FROM block; cols=None marks a NATURAL JOIN
    # (using every common column name). api._expand_using resolves
    # them against the catalog into qualified equi conds (and rewrites
    # unqualified refs of the using columns to their ANSI owner);
    # build_context rejects specs still carrying them.
    using_joins: list[tuple[str, list[str] | None]] = field(
        default_factory=list
    )


@dataclass
class CompoundSpec:
    """UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL] chain (engine
    extension; the reference parses exactly one SELECT). Parts combine
    by POSITION, left-associatively; a trailing ORDER BY / LIMIT binds
    to the whole compound. Parts carry ANSI bag semantics (the CQ
    non-full => DISTINCT rule is a reference-dialect behavior; set
    operators are pure SQL surface, so they follow SQL exactly).
    INTERSECT mixed with other operators is rejected (its higher ANSI
    precedence would make left-assoc evaluation wrong)."""

    parts: list[QuerySpec]
    ops: list[tuple[str, bool]]  # between parts: (op, is_all)
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<str>'(?:[^']|'')*')
  | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<id>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|\.|\*|\+|-|/|%|\|\|)
    """,
    re.VERBOSE,
)

KEYWORDS = {
    "select", "distinct", "from", "where", "group", "by", "order", "limit",
    "and", "or", "not", "like", "in", "between", "is", "null", "as",
    "case", "when", "then", "else", "end", "extract", "year", "date",
    "interval", "timestamp", "day", "join", "inner", "on", "asc", "desc",
    "having", "union", "exists", "with",
}


@dataclass
class Tok:
    kind: str  # kw | id | num | str | op
    text: str  # lowercase for kw, verbatim otherwise


def tokenize(sql: str) -> list[Tok]:
    toks: list[Tok] = []
    pos = 0
    sql = re.sub(r"--[^\n]*", " ", sql)
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise UnsupportedSqlError(f"cannot tokenize at: {sql[pos:pos+30]!r}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        text = m.group()
        if m.lastgroup == "id":
            low = text.lower()
            if low in KEYWORDS:
                toks.append(Tok("kw", low))
            else:
                toks.append(Tok("id", text))
        elif m.lastgroup == "str":
            toks.append(Tok("str", text[1:-1].replace("''", "'")))
        elif m.lastgroup == "num":
            toks.append(Tok("num", text))
        else:
            toks.append(Tok("op", text))
    return toks


# ---------------------------------------------------------------------------
# recursive-descent parser
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    # -- cursor helpers ----------------------------------------------------
    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def at(self, kind: str, text: str | None = None, k: int = 0) -> bool:
        t = self.peek(k)
        return t is not None and t.kind == kind and (text is None or t.text == text)

    def take(self) -> Tok:
        t = self.peek()
        if t is None:
            raise UnsupportedSqlError("unexpected end of query")
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> Tok:
        if not self.at(kind, text):
            got = self.peek()
            raise UnsupportedSqlError(f"expected {text or kind}, got {got}")
        return self.take()

    def accept(self, kind: str, text: str | None = None) -> bool:
        if self.at(kind, text):
            self.take()
            return True
        return False

    # -- grammar -----------------------------------------------------------
    def _with_clause(self) -> dict[str, "QuerySpec | CompoundSpec"]:
        # WITH name AS (SELECT ...) [, ...] — desugared by substituting
        # each CTE reference in FROM with an inline subquery, so the
        # C21 aggregated-view shape plans natively (the reference's own
        # TPC-H rewrites use exactly that form); other CTE bodies raise
        # at context build and ride the fallback. Earlier CTEs are
        # visible inside later ones.
        ctes: dict[str, "QuerySpec | CompoundSpec"] = {}
        if self.accept("kw", "with"):
            while True:
                name = self.expect("id").text
                self.expect("kw", "as")
                self.expect("op", "(")
                sub = self._compound_after(self._select_stmt())
                self.expect("op", ")")
                _substitute_ctes(sub, ctes)
                ctes[name.lower()] = sub
                if not self.accept("op", ","):
                    break
        return ctes

    def parse_query(self) -> QuerySpec:
        ctes = self._with_clause()
        q = self._select_stmt()
        if ctes:
            _substitute_ctes(q, ctes)
        if self.peek() is not None:
            raise UnsupportedSqlError(f"trailing tokens at {self.peek()}")
        return q

    def parse_statement(self) -> "QuerySpec | CompoundSpec":
        """Like parse_query, but additionally accepts a top-level
        UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL] chain."""
        ctes = self._with_clause()
        stmt = self._compound_after(self._select_stmt())
        if ctes:
            _substitute_ctes(stmt, ctes)
        if self.peek() is not None:
            raise UnsupportedSqlError(f"trailing tokens at {self.peek()}")
        return stmt

    def _compound_after(self, first: QuerySpec) -> "QuerySpec | CompoundSpec":
        """Continue a UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL]
        chain after its first SELECT, if one follows. Shared by the
        top-level statement, FROM-subqueries, and CTE bodies (round 10
        — compounds now compose in subquery position)."""
        parts = [first]
        ops: list[tuple[str, bool]] = []
        while True:
            t = self.peek()
            if self.at("kw", "union"):
                self.take()
                op = "union"
            elif t is not None and t.kind == "id" and t.text.lower() in (
                "intersect", "except",
            ):
                self.take()
                op = t.text.lower()
            else:
                break
            is_all = False
            t2 = self.peek()
            if t2 is not None and t2.kind == "id" and t2.text.lower() == "all":
                self.take()
                is_all = True
            ops.append((op, is_all))
            parts.append(self._select_stmt())
        if len(parts) == 1:
            return first
        opnames = {op for op, _ in ops}
        if "intersect" in opnames and len(opnames) > 1:
            raise UnsupportedSqlError(
                "INTERSECT mixed with UNION/EXCEPT is not in the subset "
                "(precedence); parenthesize via the spark.sql fallback"
            )
        for p in parts[:-1]:
            if p.order_by or p.limit is not None:
                raise UnsupportedSqlError(
                    "ORDER BY/LIMIT on a non-final compound part needs "
                    "parentheses; not in the subset"
                )
        order_by, limit, offset = (
            parts[-1].order_by, parts[-1].limit, parts[-1].offset
        )
        parts[-1].order_by, parts[-1].limit, parts[-1].offset = [], None, None
        return CompoundSpec(parts, ops, order_by, limit, offset)

    def _select_stmt(self) -> QuerySpec:
        self.expect("kw", "select")
        distinct = self.accept("kw", "distinct")
        distinct_on: list[Expr] | None = None
        if distinct and self.at("kw", "on") and self.at("op", "(", k=1):
            # SELECT DISTINCT ON (keys) — Postgres/DuckDB surface
            # (round 10; Spark SQL has no equivalent, so there is no
            # fallback for it): keep the FIRST row per key group under
            # the statement's ORDER BY. Desugared below into a QUALIFY
            # ROW_NUMBER() = 1 over PARTITION BY keys.
            self.take()
            self.expect("op", "(")
            distinct_on = [self._expr()]
            while self.accept("op", ","):
                distinct_on.append(self._expr())
            self.expect("op", ")")
            distinct = False
        items = [self._select_item()]
        while self.accept("op", ","):
            items.append(self._select_item())
        self.expect("kw", "from")
        from_items = [self._from_item()]
        where: list[Cond] = []
        inner_on: list[Cond] = []
        using_joins: list[tuple[str, list[str]]] = []
        outer_joins: list[OuterJoin] = []
        # semi/anti-desugared Exists + the outer-join count at its
        # chain position (placement decision after the loop)
        semi_conds: list[tuple] = []
        while True:
            t = self.peek()
            if self.at("op", ","):
                if outer_joins:
                    raise UnsupportedSqlError(
                        "joins after an OUTER JOIN must be outer "
                        "(ordering changes semantics); not in the subset"
                    )
                self.take()
                from_items.append(self._from_item())
            elif self.at("kw", "inner") or self.at("kw", "join"):
                self.accept("kw", "inner")
                self.expect("kw", "join")
                if outer_joins:
                    # INNER JOIN after an outer join: ANSI joins
                    # left-associate, so this is an attachment over the
                    # outer-joined frame — same three-phase planner,
                    # join type 'inner' (side='inner' below)
                    item = self._from_item()
                    conds, using = self._join_condition()
                    outer_joins.append(
                        OuterJoin(item, conds, "inner", using=using)
                    )
                else:
                    # INNER JOIN t AS a ON cond in the FROM block —
                    # desugar to comma + condition
                    item = self._from_item()
                    from_items.append(item)
                    conds, using = self._join_condition()
                    inner_on.extend(conds)
                    if using is not None:
                        using_joins.append((item.alias, using))
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() == "cross"
                and self.at("kw", "join", k=1)
            ):
                # CROSS JOIN t AS a (round 10) — pure sugar for the
                # comma cartesian the planner already handles ('cross'
                # is a soft id; a column named cross stays usable)
                if outer_joins:
                    raise UnsupportedSqlError(
                        "joins after an OUTER JOIN must be outer "
                        "(ordering changes semantics); not in the subset"
                    )
                self.take()
                self.expect("kw", "join")
                from_items.append(self._from_item())
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() == "natural"
            ):
                # NATURAL [INNER|LEFT|RIGHT] JOIN (round 10) — USING
                # over every common column name; the common set is
                # schema-dependent, so api._expand_using computes it
                self.take()
                side = None
                t2 = self.peek()
                if (
                    t2 is not None
                    and t2.kind == "id"
                    and t2.text.lower() in ("left", "right", "full")
                ):
                    side = self.take().text.lower()
                    t3 = self.peek()
                    if (
                        t3 is not None
                        and t3.kind == "id"
                        and t3.text.lower() == "outer"
                    ):
                        self.take()
                else:
                    self.accept("kw", "inner")
                self.expect("kw", "join")
                item = self._from_item()
                if side is None and not outer_joins:
                    from_items.append(item)
                    using_joins.append((item.alias, None))
                else:
                    outer_joins.append(
                        OuterJoin(item, [], side or "inner", natural=True)
                    )
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() in ("semi", "anti")
                and self.at("kw", "join", k=1)
            ):
                # [LEFT] SEMI/ANTI JOIN t ON cond (round 11) — pure
                # sugar for [NOT] EXISTS (SELECT 1 FROM t WHERE cond):
                # the planner's SemiFilter fold plans both as a
                # relation-local left_semi/left_anti, exactly Spark's
                # join types of the same name. 'semi'/'anti' stay soft
                # ids (only JOIN right after triggers this arm).
                sj = self._semi_anti_join_tail(outer_joins)
                where.append(sj)
                semi_conds.append((sj, len(outer_joins)))
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() in ("left", "right", "full")
            ):
                side = self.take().text.lower()
                t2 = self.peek()
                if (
                    side == "left"
                    and t2 is not None
                    and t2.kind == "id"
                    and t2.text.lower() in ("semi", "anti")
                    and self.at("kw", "join", k=1)
                ):
                    sj = self._semi_anti_join_tail(outer_joins)
                    where.append(sj)
                    semi_conds.append((sj, len(outer_joins)))
                    continue
                if t2 is not None and t2.kind == "id" and t2.text.lower() == "outer":
                    self.take()
                self.expect("kw", "join")
                item = self._from_item()
                conds, using = self._join_condition()
                outer_joins.append(OuterJoin(item, conds, side, using=using))
            else:
                break
        for sj, pos in semi_conds:
            if pos and any(
                oj.side in ("right", "full") for oj in outer_joins[pos:]
            ):
                # a semi/anti BETWEEN outer joins with a LATER
                # RIGHT/FULL: its chain-position filter does not
                # commute past the null-extending join (post-join
                # placement would drop preserved rows) — fallback
                raise UnsupportedSqlError(
                    "SEMI/ANTI JOIN followed by a later RIGHT/FULL "
                    "JOIN is not in the subset"
                )
        pre_semis = [sj for sj, pos in semi_conds if pos == 0]
        if pre_semis and any(
            oj.side in ("right", "full") for oj in outer_joins
        ):
            # SEMI/ANTI followed by a RIGHT/FULL JOIN (round 13, r12
            # verdict item 8): ANSI applies the semi/anti to the
            # accumulated LEFT BLOCK before the outer join — a
            # WHERE-level placement would run POST-join and drop the
            # null-extended preserved rows Spark keeps. Route the
            # desugared Exists through inner_on (the pre-join clause
            # RIGHT/FULL already uses for INNER-JOIN ON conjuncts):
            # _run_outer plans it inside the phase-1 core. The Exists
            # correlates only with FROM-block aliases here (pos == 0:
            # it parsed before any attachment existed).
            #
            # A semi/anti AFTER the last RIGHT/FULL (late round 13 —
            # pos > 0, no later right/full per the guard above) stays
            # WHERE-level instead: SQL's left-to-right chain applies
            # it to the composed result, exactly a [NOT] EXISTS whose
            # null-extended probes never match; intervening LEFT/INNER
            # joins commute with it (they never null-extend columns
            # the ON condition can reference).
            sem_ids = {id(c) for c in pre_semis}
            inner_on.extend(pre_semis)
            where = [c for c in where if id(c) not in sem_ids]
        if self.accept("kw", "where"):
            where.extend(self._conjunction())
        if all(oj.side in ("left", "inner") for oj in outer_joins):
            # pre-join vs post-join placement is equivalent when the
            # FROM block stays non-null-supplied through every
            # attachment (LEFT preserves it; INNER never null-extends)
            # — merge (QuerySpec.inner_on docstring)
            where, inner_on = inner_on + where, []
        group_by: list[Expr] = []
        group_mode = "plain"
        grouping_sets: list[list[int]] = []
        if self.accept("kw", "group"):
            self.expect("kw", "by")
            # GROUP BY ALL (DuckDB/Spark 3.4 sugar; round 8): group on
            # every select item carrying no aggregate. Soft: only when
            # the next token ends the clause, so a column named 'all'
            # stays usable in expressions
            t = self.peek()
            nxt = self.peek(1)
            if (
                t is not None
                and t.kind == "id"
                and t.text.lower() == "all"
                and (
                    nxt is None
                    or (nxt.kind == "kw" and nxt.text in (
                        "having", "order", "limit", "union"))
                    or (nxt.kind == "id" and nxt.text.lower() in (
                        "intersect", "except", "qualify"))
                    or (nxt.kind == "op" and nxt.text == ")")
                )
            ):
                self.take()
                from sparksqlplus_spark.expressions import (
                    AggCall,
                    WindowCall,
                    map_expr,
                )

                def _has_agg(e) -> bool:
                    hit = False

                    def probe(n):
                        nonlocal hit
                        if isinstance(n, (AggCall, WindowCall)):
                            hit = True
                        return None

                    map_expr(e, probe)
                    return hit

                group_by = [
                    si.expr for si in items if not _has_agg(si.expr)
                ]
                if not group_by:
                    raise UnsupportedSqlError(
                        "GROUP BY ALL needs a non-aggregate select item"
                    )
                t = None  # fall through past the ROLLUP/CUBE branches
            # ROLLUP( ... ) / CUBE( ... ) / GROUPING SETS ((...),...) —
            # soft keywords (plain ids) so columns named e.g. 'cube'
            # stay usable outside this position
            if group_by:
                pass  # GROUP BY ALL already expanded above
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() in ("rollup", "cube")
                and self.at("op", "(", k=1)
            ):
                group_mode = self.take().text.lower()
                self.expect("op", "(")
                group_by.append(self._expr())
                while self.accept("op", ","):
                    group_by.append(self._expr())
                self.expect("op", ")")
            elif (
                t is not None
                and t.kind == "id"
                and t.text.lower() == "grouping"
                and self.at("id", k=1)
                and self.peek(1).text.lower() == "sets"
            ):
                self.take()
                self.take()
                group_mode = "sets"
                self.expect("op", "(")
                # each set: ( expr, ... ) or ( ) — exprs dedup into
                # group_by; sets hold indices into it
                keys: dict[str, int] = {}
                while True:
                    self.expect("op", "(")
                    one: list[int] = []
                    if not self.at("op", ")"):
                        while True:
                            e = self._expr()
                            k = e.key()
                            if k not in keys:
                                keys[k] = len(group_by)
                                group_by.append(e)
                            one.append(keys[k])
                            if not self.accept("op", ","):
                                break
                    self.expect("op", ")")
                    grouping_sets.append(one)
                    if not self.accept("op", ","):
                        break
                self.expect("op", ")")
            else:
                group_by.append(self._expr())
                while self.accept("op", ","):
                    group_by.append(self._expr())
        having: list[Cond] = []
        if self.at("kw", "having"):
            # post-aggregation filter (engine extension — the reference
            # has no HAVING surface at all, SURVEY §2.1 not-supported
            # list). Bare HAVING (no GROUP BY — ANSI's global-aggregate
            # filter over the one-row result) plans too since round 8;
            # context validation still rejects non-aggregate refs
            self.expect("kw", "having")
            having = self._conjunction()
        qualify: list[Cond] = []
        t = self.peek()
        if t is not None and t.kind == "id" and t.text.lower() == "qualify":
            # QUALIFY <cond> — window-result filter (QuerySpec.qualify
            # docstring). Soft keyword: 'qualify' is only special in
            # clause position, columns named qualify stay usable
            self.take()
            qualify = self._conjunction()
        order_by: list[OrderItem] = []
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            while True:
                e = self._expr()
                desc = False
                if self.accept("kw", "desc"):
                    desc = True
                else:
                    self.accept("kw", "asc")
                # NULLS FIRST | LAST (round 10; soft ids — columns
                # named nulls/first/last stay usable)
                nulls = None
                t_n = self.peek()
                if (
                    t_n is not None
                    and t_n.kind == "id"
                    and t_n.text.lower() == "nulls"
                ):
                    t_w = self.peek(1)
                    if (
                        t_w is not None
                        and t_w.kind == "id"
                        and t_w.text.lower() in ("first", "last")
                    ):
                        self.take()
                        nulls = self.take().text.lower()
                order_by.append(OrderItem(e, desc, nulls))
                if not self.accept("op", ","):
                    break
        limit = None
        offset = None
        if self.accept("kw", "limit"):
            limit = int(self.expect("num").text)
            # LIMIT n OFFSET m (round 10; OFFSET is a soft id)
            t_o = self.peek()
            if (
                t_o is not None
                and t_o.kind == "id"
                and t_o.text.lower() == "offset"
            ):
                self.take()
                offset = int(self.expect("num").text)
        # ordinal GROUP BY / ORDER BY (round 10): `GROUP BY 1` /
        # `ORDER BY 2 DESC` mean select-list POSITIONS in every engine
        # this repo oracles against (DuckDB always, Spark under the
        # default groupByOrdinal/orderByOrdinal) — reading them as
        # constant literals would group everything into one bucket /
        # no-op the sort SILENTLY. Desugar to the item's expression.
        def ordinal(e: Expr, grouping: bool = False) -> Expr | None:
            if (
                isinstance(e, Lit)
                and e.kind in ("int", "long")
                and isinstance(e.value, int)
            ):
                if not 1 <= e.value <= len(items):
                    raise UnsupportedSqlError(
                        f"ordinal {e.value} out of select-list range"
                    )
                it = items[e.value - 1]
                if isinstance(it.expr, Star):
                    raise UnsupportedSqlError("ordinal cannot target *")
                if grouping and _has_agg_or_window(it.expr):
                    raise UnsupportedSqlError(
                        "GROUP BY ordinal targets an aggregate item"
                    )
                return it.expr
            return None

        group_by = [ordinal(e, grouping=True) or e for e in group_by]
        order_by = [
            OrderItem(ordinal(oi.expr) or oi.expr, oi.desc, oi.nulls)
            for oi in order_by
        ]
        if distinct_on is not None:
            # DISTINCT ON desugar: QUALIFY ROW_NUMBER() OVER
            # (PARTITION BY keys ORDER BY <statement order>) = 1.
            # Output-alias refs in the ORDER BY swap back to their
            # item expressions (a window cannot see output aliases);
            # without an ORDER BY the picked row would be arbitrary —
            # rejected, and Spark SQL cannot take it either, so the
            # error surfaces instead of a nondeterministic answer.
            from sparksqlplus_spark.expressions import WindowCall

            if not order_by:
                raise UnsupportedSqlError(
                    "DISTINCT ON needs ORDER BY to pick a "
                    "deterministic row per group"
                )
            alias_map = {
                si.alias: si.expr for si in items if si.alias
            }

            def deref(e: Expr) -> Expr:
                if isinstance(e, Col) and e.alias == "" and e.name in alias_map:
                    return alias_map[e.name]
                return e

            distinct_on = [ordinal(e) or deref(e) for e in distinct_on]
            win_order = tuple(
                (deref(oi.expr), oi.desc, oi.nulls) for oi in order_by
            )
            qualify.append(
                Cmp(
                    "=",
                    WindowCall(
                        "row_number", (), tuple(distinct_on), win_order,
                        None,
                    ),
                    Lit(1, "int"),
                )
            )
        return QuerySpec(
            items, distinct, from_items, where, group_by, order_by, limit,
            having=having, group_mode=group_mode, grouping_sets=grouping_sets,
            outer_joins=outer_joins,
            inner_on=inner_on,
            qualify=qualify,
            offset=offset,
            using_joins=using_joins,
        )

    def _select_item(self) -> SelectItem:
        e = self._expr()
        alias = None
        if self.accept("kw", "as"):
            alias = self.take().text
        elif self.at("id") :
            alias = self.take().text
        return SelectItem(e, alias)

    # ids that act as soft keywords right after a FROM item — NOT
    # implicit aliases ("FROM customer LEFT JOIN ..." must not read
    # 'left' as an alias and silently degrade to an inner join)
    _SOFT_AFTER_FROM = {
        "left", "right", "full", "outer", "intersect", "except", "qualify",
        # round 10: "JOIN t USING (...)" / "t NATURAL JOIN u" must not
        # read using/natural as t's implicit alias (explicit AS still
        # allows them as aliases)
        "using", "natural", "cross",
    }

    def _at_soft_join_word(self) -> bool:
        """True when the CURRENT id token is a join-prefix soft keyword
        rather than an implicit alias: unconditional for the
        _SOFT_AFTER_FROM set, and for semi/anti ONLY when JOIN follows
        (round 11 — "FROM t semi JOIN u" must read SEMI JOIN like
        Spark, while "FROM t semi WHERE ..." keeps semi as an alias)."""
        t = self.peek()
        if t is None or t.kind != "id":
            return False
        low = t.text.lower()
        if low in self._SOFT_AFTER_FROM:
            return True
        return low in ("semi", "anti") and self.at("kw", "join", k=1)

    def _from_item(self) -> FromItem:
        if self.accept("op", "("):
            t = self.peek()
            if t is not None and t.kind == "id" and t.text.lower() == "values":
                return self._values_item()
            sub = self._compound_after(self._select_stmt())
            self.expect("op", ")")
            explicit_as = self.accept("kw", "as")
            if not explicit_as and self._at_soft_join_word():
                # "(SELECT ...) LEFT JOIN ..." — the id is a join
                # keyword, NOT an implicit alias; an unaliased derived
                # table is outside the subset (silently reading 'left'
                # as the alias would degrade the outer join to inner)
                raise UnsupportedSqlError(
                    "derived table needs an alias before a join keyword"
                )
            alias = self.expect("id").text
            col_aliases = None
            if self.at("op", "("):
                # ANSI <derived column list>: (SELECT ...) AS t(a, b)
                # — positional renames of the derived table's output
                col_aliases = self._alias_col_list()
            return FromItem(alias=alias, subquery=sub, col_aliases=col_aliases)
        name = self.expect("id").text
        alias = name
        if self.accept("kw", "as"):
            alias = self.take().text
        elif self.at("id") and not self._at_soft_join_word():
            alias = self.take().text
        return FromItem(alias=alias, table=name)

    def _join_condition(self) -> tuple[list[Cond], list[str] | None]:
        """ON conjunction | USING (cols) after a JOIN item (round 10).
        'using' is a soft id — a column named using stays usable."""
        t = self.peek()
        if (
            t is not None
            and t.kind == "id"
            and t.text.lower() == "using"
            and self.at("op", "(", k=1)
        ):
            self.take()
            return [], self._alias_col_list()
        self.expect("kw", "on")
        return self._conjunction(), None

    def _alias_col_list(self) -> list[str]:
        self.expect("op", "(")
        cols = [self.expect("id").text]
        while self.accept("op", ","):
            cols.append(self.expect("id").text)
        self.expect("op", ")")
        return cols

    def _values_item(self) -> FromItem:
        """`(VALUES (1, 'a'), (2, 'b')) AS t(x, y)` — inline constant
        table (engine extension, round 10; the reference parses table
        scans only). Rows are literal-only expressions (no column
        refs, no subqueries); the alias column list is REQUIRED so the
        output schema never depends on engine default naming (Spark
        says col1/col2, DuckDB col0/col1 — requiring the list keeps
        one portable meaning)."""
        self.take()  # 'values'
        rows: list[list[Expr]] = []
        while True:
            self.expect("op", "(")
            row = [self._expr()]
            while self.accept("op", ","):
                row.append(self._expr())
            self.expect("op", ")")
            rows.append(row)
            if not self.accept("op", ","):
                break
        self.expect("op", ")")
        for row in rows:
            for e in row:
                if e.refs() or _has_subquery(e):
                    raise UnsupportedSqlError(
                        "VALUES rows must be literal expressions"
                    )
            if len(row) != len(rows[0]):
                raise UnsupportedSqlError("VALUES rows differ in arity")
        self.accept("kw", "as")
        alias = self.expect("id").text
        if not self.at("op", "("):
            raise UnsupportedSqlError(
                "VALUES needs an alias column list: AS t(c1, ...)"
            )
        cols = self._alias_col_list()
        if len(cols) != len(rows[0]):
            raise UnsupportedSqlError(
                "VALUES column list arity does not match the rows"
            )
        return FromItem(alias=alias, values=rows, val_cols=cols)

    # -- boolean grammar ----------------------------------------------------
    def _conjunction(self) -> list[Cond]:
        out: list[Cond] = []

        def add(c: Cond) -> None:
            if isinstance(c, AndCond):
                for ch in c.children:
                    add(ch)
            else:
                out.append(c)

        add(self._or_cond())
        while self.accept("kw", "and"):
            add(self._or_cond())
        return out

    def _or_cond(self) -> Cond:
        c = self._and_cond()
        if self.at("kw", "or"):
            children = [c]
            while self.accept("kw", "or"):
                children.append(self._and_cond())
            return OrCond(tuple(children))
        return c

    def _and_cond(self) -> Cond:
        c = self._cond_primary()
        if self.at("kw", "and"):
            children = [c]
            while self.accept("kw", "and"):
                children.append(self._cond_primary())
            return AndCond(tuple(children))
        return c

    def _cond_primary(self) -> Cond:
        # try parenthesized boolean first (backtrack to expression on failure)
        if self.at("op", "("):
            save = self.i
            try:
                self.take()
                inner = self._or_cond()
                self.expect("op", ")")
                # guard: if followed by a comparison, '(' opened an expression
                if not self._at_cmp_or_predicate():
                    return inner
            except UnsupportedSqlError:
                pass
            self.i = save
        if self.accept("kw", "not"):
            inner = self._cond_primary()
            if isinstance(inner, Like):
                return Like(inner.expr, inner.pattern, not inner.negated)
            if isinstance(inner, InList):
                return InList(inner.expr, inner.values, not inner.negated)
            if isinstance(inner, IsNull):
                return IsNull(inner.expr, not inner.negated)
            if isinstance(inner, Cmp) and inner.op == "=":
                return Cmp("<>", inner.left, inner.right)
            if isinstance(inner, Exists):
                return Exists(
                    inner.table, inner.table_alias, inner.conds,
                    not inner.negated, inner.null_aware, inner.body,
                    inner.n_probe,
                )
            raise UnsupportedSqlError("NOT only supported on LIKE/IN/IS NULL/=/EXISTS")
        if self.accept("kw", "exists"):
            return self._exists_tail()
        # row-value [NOT] IN (subquery): (a, b) IN (SELECT x, y ...) —
        # engine extension (round 8); desugars to the multi-key
        # correlated-equality Exists the SemiFilter planner folds.
        # Backtracking attempt: anything else re-parses as a plain
        # expression
        if self.at("op", "("):
            save = self.i
            row = self._try_row_tuple()
            if row is not None:
                negated = self.at("kw", "not") and self.at("kw", "in", k=1)
                if negated:
                    self.take()
                if self.accept("kw", "in"):
                    return self._in_subquery_row_tail(row, negated)
            self.i = save
        left = self._expr()
        return self._predicate_tail(left)

    def _try_row_tuple(self) -> list[Expr] | None:
        """Attempt '(' expr ',' expr [',' expr ...] ')' — a row value
        (>= 2 members). Returns None (cursor untouched by the caller's
        backtrack) when the shape doesn't match."""
        save = self.i
        try:
            self.expect("op", "(")
            row = [self._expr()]
            while self.accept("op", ","):
                row.append(self._expr())
            self.expect("op", ")")
        except UnsupportedSqlError:
            self.i = save
            return None
        if len(row) < 2:
            self.i = save
            return None
        return row

    def _in_subquery_row_tail(self, row: list[Expr], negated: bool) -> "Exists":
        """(a, b) [NOT] IN (SELECT x, y FROM t [WHERE conj]) — the
        multi-key form of _in_subquery_tail: one equality conjunct per
        position into the same Exists/SemiFilter fold. A negated
        multi-key form carries null_aware=True and is rejected at
        validation (NOT IN three-valued logic is only planned for the
        single-key shape), routing mode='auto' to the fallback."""
        self.expect("op", "(")
        self.expect("kw", "select")
        sels = [self._expr()]
        if self.accept("kw", "as"):
            self.take()
        while self.accept("op", ","):
            sels.append(self._expr())
            if self.accept("kw", "as"):
                self.take()
        if len(sels) != len(row):
            raise UnsupportedSqlError(
                f"row IN: {len(row)} columns vs {len(sels)} in subquery"
            )
        self.expect("kw", "from")
        fi = self._from_item()
        if fi.subquery is not None:
            raise UnsupportedSqlError(
                "IN over a nested subquery is not in the subset"
            )
        conds: list[Cond] = []
        if self.accept("kw", "where"):
            conds = self._conjunction()
        if not self.at("op", ")"):
            raise UnsupportedSqlError(
                "IN subquery supports only FROM one table + WHERE"
            )
        self.expect("op", ")")
        return Exists(
            fi.table, fi.alias,
            (*[Cmp("=", s, l) for s, l in zip(sels, row)], *conds),
            negated=negated, null_aware=True, n_probe=len(row),
        )

    def _semi_anti_join_tail(self, outer_joins: list) -> "Exists":
        """SEMI/ANTI JOIN t [AS a] ON cond — desugared to the same
        Exists node as [NOT] EXISTS (SELECT 1 FROM t WHERE cond), so
        the SemiFilter planner folds it into a relation-local
        left_semi/left_anti (Spark's own semantics for these join
        types: left rows kept/dropped by match, never multiplied, no
        right columns). Caller sits at the 'semi'/'anti' token."""
        kind = self.take().text.lower()
        self.expect("kw", "join")
        item = self._from_item()
        self.expect("kw", "on")
        conds = self._conjunction()
        if item.subquery is not None:
            # SEMI/ANTI JOIN (SELECT ...) AS a ON cond (round 12, r11
            # verdict item 6): same desugar, carried as an Exists BODY
            # so api._exists_body_rewrite plans the derived table as a
            # composite view and folds the single-table semi/anti
            return Exists(
                "", "", (),
                negated=(kind == "anti"),
                body=QuerySpec(
                    select=[], distinct=False,
                    from_items=[item], where=list(conds),
                ),
            )
        return Exists(
            item.table, item.alias, tuple(conds), negated=(kind == "anti")
        )

    def _exists_tail(self) -> "Exists":
        """EXISTS (SELECT ... FROM tables [WHERE conj]) — the
        single-table shape the planner folds directly into a semi/anti
        join; a multi-table body (comma or INNER JOIN list) is carried
        as Exists.body and lifted by api._lift_exists_joins into a
        composite view + the same single-table semi-join. GROUP BY or
        nested subqueries inside EXISTS raise UnsupportedSqlError,
        which mode='auto' routes to spark.sql."""
        self.expect("op", "(")
        self.expect("kw", "select")
        # the select list of an EXISTS subquery is semantically void —
        # accept `*` or a plain column list and discard either
        if not self.accept("op", "*"):
            self._expr()
            while self.accept("op", ","):
                self._expr()
        self.expect("kw", "from")
        items = [self._from_item()]
        conds: list[Cond] = []
        while True:
            if self.accept("op", ","):
                items.append(self._from_item())
            elif self.at("kw", "inner") or self.at("kw", "join"):
                self.accept("kw", "inner")
                self.expect("kw", "join")
                items.append(self._from_item())
                self.expect("kw", "on")
                conds.extend(self._conjunction())
            else:
                break
        if self.accept("kw", "where"):
            conds.extend(self._conjunction())
        if not self.at("op", ")"):
            raise UnsupportedSqlError(
                "EXISTS subquery supports only FROM tables + WHERE"
            )
        self.expect("op", ")")
        if len(items) == 1 and items[0].subquery is None:
            return Exists(items[0].table, items[0].alias, tuple(conds))
        if len({fi.alias for fi in items}) != len(items):
            raise UnsupportedSqlError("duplicate alias inside EXISTS")
        # derived-table FROM items (round 12) ride the same body lift
        # as the multi-table shape: api._exists_body_rewrite plans the
        # body as a composite view and folds the single-table semi/anti
        return Exists(
            "", "", (),
            body=QuerySpec(
                select=[], distinct=False, from_items=items, where=conds
            ),
        )

    def _at_cmp_or_predicate(self) -> bool:
        t = self.peek()
        if t is None:
            return False
        if t.kind == "op" and t.text in ("=", "<>", "!=", "<", "<=", ">", ">=", "+", "-", "*", "/", "%"):
            return True
        if t.kind == "kw" and t.text in ("like", "in", "between", "is", "not"):
            return True
        return False

    def _predicate_tail(self, left: Expr) -> Cond:
        t = self.peek()
        if t is None:
            raise UnsupportedSqlError("expected predicate")
        if t.kind == "op" and t.text in ("=", "<>", "!=", "<", "<=", ">", ">="):
            op = self.take().text
            if op == "!=":
                op = "<>"
            qt = self.peek()
            if (
                qt is not None
                and qt.kind == "id"
                and qt.text.lower() in ("any", "some", "all")
                and self.at("op", "(", k=1)
                and self.at("kw", "select", k=2)
            ):
                return self._quantified_tail(left, op, self.take().text.lower())
            right = self._expr()
            return Cmp(op, left, right)
        negated = False
        if self.at("kw", "not"):
            self.take()
            negated = True
        if self.accept("kw", "like"):
            pat = self.expect("str").text
            return Like(left, pat, negated)
        if self.accept("kw", "in"):
            if self.at("kw", "select", k=1):
                # [NOT] IN (SELECT col FROM t [WHERE ...]) desugars to
                # the correlated-equality EXISTS the planner folds into
                # a semi join (engine extension). The Exists carries
                # null_aware=True: a negated one plans as a NULL-AWARE
                # anti join (SQL's NOT IN returns no rows when the inner
                # side contains a NULL — plans/context.py SemiFilter,
                # compiler/cqc.py _apply_semi_filter).
                return self._in_subquery_tail(left, negated)
            self.expect("op", "(")
            vals: list[object] = []
            while True:
                lit = self._literal()
                vals.append(lit.value)
                if not self.accept("op", ","):
                    break
            self.expect("op", ")")
            return InList(left, tuple(vals), negated)
        if self.accept("kw", "between"):
            lo = self._expr()
            self.expect("kw", "and")
            hi = self._expr()
            # Calcite desugars BETWEEN to two <= (SURVEY C11); NOT
            # BETWEEN (round 9) is the De Morgan dual — three-valued
            # semantics hold (a NULL operand leaves both disjuncts
            # UNKNOWN, matching NOT(UNKNOWN))
            if negated:
                return OrCond((Cmp("<", left, lo), Cmp(">", left, hi)))
            return AndCond((Cmp(">=", left, lo), Cmp("<=", left, hi)))
        if self.accept("kw", "is"):
            neg2 = self.accept("kw", "not")
            self.expect("kw", "null")
            return IsNull(left, neg2)
        raise UnsupportedSqlError(f"expected predicate after expression, got {t}")

    def _quantified_tail(self, left: Expr, op: str, quant: str) -> Cond:
        """expr CMP ANY|SOME|ALL (SELECT e FROM ...) — engine
        extension (rounds 8-9; Spark SQL has no quantified comparisons
        at all). `= ANY` IS the IN-subquery and `<> ALL` IS NOT IN
        (same Exists/SemiFilter folds, null-aware for the negation).
        Ordering ANY desugars to a MIN/MAX scalar subquery — sound in
        WHERE position under three-valued logic: `x > ANY(S)` is TRUE
        iff some non-NULL s < x (NULL elements only ever yield
        UNKNOWN, which WHERE treats as FALSE), which is exactly
        `x > (SELECT MIN(e) ...)` since MIN ignores NULLs; empty S
        gives MIN = NULL -> UNKNOWN -> dropped, matching ANY's FALSE.

        Ordering ALL (round 9) needs more than MIN/MAX — empty S is
        TRUE and a NULL element caps the result at UNKNOWN — so it
        desugars to count-guarded scalars:
        ``cnt(*) = 0 OR (cnt(e) = cnt(*) AND x CMP extreme(e))``
        (extreme = MIN for </<=, MAX for >/>=): empty S keeps every
        row (vacuous truth, even NULL x); any NULL element makes TRUE
        impossible while FALSE/UNKNOWN both drop the row, which the
        bare comparison already decides. `<> ANY` (round 9) is the
        dual: TRUE iff a non-NULL element differs, i.e.
        ``(cntd(e) >= 2 AND x IS NOT NULL) OR (cntd(e) = 1 AND
        x <> extreme)`` with cntd = COUNT(DISTINCT e), and `= ALL` is
        its mirror (empty S, or one distinct non-NULL value equal to
        x). Uncorrelated
        forms fold at plan time; correlated ordering forms ride the
        scalar decorrelation where its subset admits them."""
        from dataclasses import replace as dc_replace

        from sparksqlplus_spark.expressions import (
            AggCall,
            IsNull,
            ScalarSubquery,
        )

        if quant == "all" and op == "<>":
            # x <> ALL (S) IS NOT IN — exact equivalence including
            # three-valued NULL semantics (null-aware anti join)
            return self._in_subquery_tail(left, negated=True)
        if quant != "all":
            if op == "=":
                return self._in_subquery_tail(left, negated=False)

        self.expect("op", "(")
        sub = self._select_stmt()
        self.expect("op", ")")
        if (
            len(sub.select) != 1
            or sub.group_by
            or sub.having
            or sub.distinct
            or sub.order_by
            or sub.limit is not None
            or sub.outer_joins
            or sub.qualify
        ):
            raise UnsupportedSqlError(
                "quantified subquery must be a plain single-column SELECT"
            )
        e = sub.select[0].expr

        def scalar(agg_call: "AggCall") -> ScalarSubquery:
            return ScalarSubquery(
                dc_replace(sub, select=[SelectItem(agg_call, None)])
            )

        if quant != "all":
            if op == "<>":
                # TRUE iff some non-NULL element differs from x
                cntd2 = scalar(AggCall("count", e, distinct=True))
                cntd1 = scalar(AggCall("count", e, distinct=True))
                ext = scalar(AggCall("min", e))
                return OrCond((
                    AndCond((
                        Cmp(">=", cntd2, Lit(2, "int")),
                        IsNull(left, negated=True),
                    )),
                    AndCond((
                        Cmp("=", cntd1, Lit(1, "int")),
                        Cmp("<>", left, ext),
                    )),
                ))
            fn = "min" if op in (">", ">=") else "max"
            return Cmp(op, left, scalar(AggCall(fn, e)))

        if op == "=":
            # x = ALL (S): TRUE iff S is empty, or S is one distinct
            # non-NULL value equal to x (a NULL element or a second
            # value makes TRUE impossible; FALSE and UNKNOWN both drop
            # the row, which the bare comparison decides)
            return OrCond((
                Cmp("=", scalar(AggCall("count", Lit(1, "int"))),
                    Lit(0, "int")),
                AndCond((
                    Cmp("=", scalar(AggCall("count", e, distinct=True)),
                        Lit(1, "int")),
                    Cmp("=", scalar(AggCall("count", e)),
                        scalar(AggCall("count", Lit(1, "int")))),
                    Cmp("=", left, scalar(AggCall("min", e))),
                )),
            ))
        # ordering ALL: count-guarded extreme
        fn = "min" if op in ("<", "<=") else "max"
        cnt_all_a = scalar(AggCall("count", Lit(1, "int")))
        cnt_all_b = scalar(AggCall("count", Lit(1, "int")))
        cnt_nn = scalar(AggCall("count", e))
        return OrCond((
            Cmp("=", cnt_all_a, Lit(0, "int")),
            AndCond((
                Cmp("=", cnt_nn, cnt_all_b),
                Cmp(op, left, scalar(AggCall(fn, e))),
            )),
        ))

    def _in_subquery_tail(self, left: Expr, negated: bool = False) -> "Exists":
        """expr [NOT] IN (SELECT col FROM t [WHERE conj]) — desugared
        to the same Exists node as a correlated-equality EXISTS
        (semi/anti join) with null_aware=True. Round 12: a POSITIVE IN
        whose body has joins or a derived table rides the Exists BODY
        form (composite-view lift) — positive IN is two-valued-
        equivalent under WHERE/OR, so the lift's two-valued rewrite is
        exact; NOT IN keeps the single-plain-table limit (the lift
        would drop its three-valued NULL semantics) and wider shapes
        ride the fallback."""
        self.expect("op", "(")
        self.expect("kw", "select")
        sel = self._expr()
        if self.accept("kw", "as"):
            self.take()
        self.expect("kw", "from")
        items = [self._from_item()]
        conds: list[Cond] = []
        while True:
            if self.accept("op", ","):
                items.append(self._from_item())
            elif self.at("kw", "inner") or self.at("kw", "join"):
                self.accept("kw", "inner")
                self.expect("kw", "join")
                items.append(self._from_item())
                self.expect("kw", "on")
                conds.extend(self._conjunction())
            else:
                break
        if self.accept("kw", "where"):
            conds.extend(self._conjunction())
        if not self.at("op", ")"):
            raise UnsupportedSqlError(
                "IN subquery supports only FROM tables + WHERE"
            )
        self.expect("op", ")")
        wide = len(items) > 1 or items[0].subquery is not None
        if wide and negated:
            raise UnsupportedSqlError(
                "NOT IN over a join/derived subquery is not in the "
                "subset"
            )
        if wide:
            if len({fi.alias for fi in items}) != len(items):
                raise UnsupportedSqlError("duplicate alias inside IN")
            return Exists(
                "", "", (),
                body=QuerySpec(
                    select=[], distinct=False, from_items=items,
                    where=[Cmp("=", sel, left), *conds],
                ),
            )
        fi = items[0]
        return Exists(
            fi.table, fi.alias, (Cmp("=", sel, left), *conds),
            negated=negated, null_aware=True, n_probe=1,
        )

    # -- scalar expression grammar -------------------------------------------
    def _expr(self) -> Expr:
        return self._additive()

    def _additive(self) -> Expr:
        e = self._multiplicative()
        while (
            self.at("op", "+")
            or self.at("op", "-")
            or self.at("op", "||")
        ):
            op = self.take().text
            if op == "||":
                # ANSI string concatenation — NULL-propagating, same
                # as Spark's concat() and DuckDB's || (round 8)
                e = Func("concat", (e, self._multiplicative()))
            else:
                e = Arith(op, e, self._multiplicative())
        return e

    def _multiplicative(self) -> Expr:
        e = self._unary()
        while self.at("op", "*") or self.at("op", "/") or self.at("op", "%"):
            op = self.take().text
            e = Arith(op, e, self._unary())
        return e

    def _unary(self) -> Expr:
        if self.accept("op", "-"):
            return Neg(self._unary())
        if self.accept("op", "+"):
            return self._unary()
        return self._primary()

    def _literal(self) -> Lit:
        if self.at("str"):
            return Lit(self.take().text, "str")
        if self.at("num"):
            txt = self.take().text
            if "." in txt or "e" in txt or "E" in txt:
                return Lit(float(txt), "double")
            v = int(txt)
            return Lit(v, "int" if -(2**31) <= v < 2**31 else "long")
        if self.accept("op", "-"):
            inner = self._literal()
            return Lit(-inner.value, inner.kind)  # type: ignore[operator]
        if self.accept("kw", "date"):
            return Lit(self.expect("str").text, "date")
        if self.accept("kw", "timestamp"):
            return Lit(self.expect("str").text, "timestamp")
        if self.accept("kw", "interval"):
            v = self.expect("str").text
            self.expect("kw", "day")
            return Lit(int(v), "interval_day")
        raise UnsupportedSqlError(f"expected literal, got {self.peek()}")

    def _primary(self) -> Expr:
        t = self.peek()
        if t is None:
            raise UnsupportedSqlError("unexpected end in expression")
        if t.kind in ("str", "num") or (
            t.kind == "kw" and t.text in ("date", "timestamp", "interval")
        ):
            return self._literal()
        if t.kind == "kw" and t.text == "null":
            self.take()
            return Lit(None, "null")
        if t.kind == "kw" and t.text == "case":
            return self._case_when()
        if (t.kind == "kw" and t.text == "exists") or (
            t.kind == "kw"
            and t.text == "not"
            and self.at("kw", "exists", k=1)
        ):
            # [NOT] EXISTS (...) in expression position (round 10 —
            # e.g. a SELECT-list boolean column): EXISTS is two-valued,
            # so it wraps in CASE WHEN ... THEN TRUE ELSE FALSE END and
            # the flag-join lift (api._lift_or_exists, which also maps
            # SELECT items) turns it into a projectable boolean
            negate = t.text == "not"
            if negate:
                self.take()
            self.take()
            ex = self._exists_tail()
            if negate:
                ex = Exists(
                    ex.table, ex.table_alias, ex.conds,
                    not ex.negated, ex.null_aware, ex.body, ex.n_probe,
                )
            return CaseWhen(
                ((ex, Lit(True, "boolean")),), Lit(False, "boolean")
            )
        if t.kind == "kw" and t.text == "extract":
            self.take()
            self.expect("op", "(")
            # YEAR is a keyword (the reference's only field); the r8
            # extension fields are soft identifiers
            ft = self.peek()
            # YEAR and DAY are keywords elsewhere in the grammar;
            # MONTH/QUARTER are soft identifiers
            if ft is not None and ft.kind == "kw" and ft.text in (
                "year", "day"
            ):
                fld = self.take().text
            elif ft is not None and ft.kind == "id" and ft.text.lower() in (
                "month", "quarter"
            ):
                fld = self.take().text.lower()
            else:
                raise UnsupportedSqlError(
                    f"unsupported EXTRACT field at {ft}"
                )
            self.expect("kw", "from")
            inner = self._expr()
            self.expect("op", ")")
            return ExtractYear(inner, fld)
        if self.at("op", "(") and self.at("kw", "select", k=1):
            # uncorrelated scalar subquery — folded to a Lit by
            # api._fold_scalars before planning (engine extension).
            # Compound bodies (round 10: `x = (SELECT ... UNION ...)`)
            # run through the compound runner inside the fold.
            self.take()
            sub = self._compound_after(self._select_stmt())
            self.expect("op", ")")
            return ScalarSubquery(sub)
        if self.accept("op", "("):
            e = self._expr()
            self.expect("op", ")")
            return e
        if self.at("op", "*"):
            self.take()
            return Star()
        if t.kind == "id":
            name = self.take().text
            # CAST(expr AS TYPE)
            if name.lower() == "cast" and self.at("op", "("):
                self.take()
                inner = self._expr()
                self.expect("kw", "as")
                type_tok = self.take().text.lower()
                type_map = {
                    "int": "int", "integer": "int", "bigint": "bigint",
                    "varchar": "string", "string": "string", "double": "double",
                    "decimal": "double", "float": "float", "date": "date",
                    "timestamp": "timestamp", "boolean": "boolean",
                }
                if type_tok not in type_map:
                    raise UnsupportedSqlError(f"unsupported CAST type {type_tok}")
                self.expect("op", ")")
                return Cast(inner, type_map[type_tok])
            # function call?
            if self.at("op", "("):
                self.take()
                low = name.lower()
                # ANSI special argument syntax (round 10):
                #   SUBSTRING(x FROM i [FOR n]) -> substring(x, i[, n])
                #   POSITION(a IN b)            -> instr(b, a)
                # (both 1-based, 0 for no match — Spark and DuckDB
                # agree; the comma call forms already worked)
                if low == "position":
                    a = self._expr()
                    self.expect("kw", "in")
                    b = self._expr()
                    self.expect("op", ")")
                    return Func("instr", (b, a))
                distinct = self.accept("kw", "distinct")
                args: list[Expr] = []
                if not self.at("op", ")"):
                    args.append(self._expr())
                    if (
                        low in ("substring", "substr")
                        and self.at("kw", "from")
                    ):
                        self.take()
                        args.append(self._expr())
                        t_for = self.peek()
                        if (
                            t_for is not None
                            and t_for.kind == "id"
                            and t_for.text.lower() == "for"
                        ):
                            self.take()
                            args.append(self._expr())
                        else:
                            # no FOR: rest of string (F.substring
                            # needs an explicit length)
                            args.append(Lit(2147483647, "int"))
                        self.expect("op", ")")
                        return Func("substring", tuple(args))
                    while self.accept("op", ","):
                        args.append(self._expr())
                self.expect("op", ")")
                # agg(args) FILTER (WHERE cond) — ANSI aggregate
                # filter (round 10). Pure parse-time desugar into the
                # NULL-skipping CASE form every aggregate already
                # honors: COUNT(*) -> COUNT(CASE WHEN c THEN 1 END),
                # agg(x) -> agg(CASE WHEN c THEN x END) — exact FILTER
                # semantics incl. DISTINCT ('filter' is a soft id).
                t_filt = self.peek()
                if (
                    t_filt is not None
                    and t_filt.kind == "id"
                    and t_filt.text.lower() == "filter"
                    and self.at("op", "(", k=1)
                ):
                    if low not in AGG_FUNCS:
                        raise UnsupportedSqlError(
                            "FILTER applies to aggregate functions only"
                        )
                    self.take()
                    self.expect("op", "(")
                    self.expect("kw", "where")
                    fconds = self._conjunction()
                    self.expect("op", ")")
                    fc = (
                        fconds[0]
                        if len(fconds) == 1
                        else AndCond(tuple(fconds))
                    )
                    if not args or isinstance(args[0], Star):
                        args = [
                            CaseWhen(
                                ((fc, Lit(1, "int")),), Lit(None, "null")
                            )
                        ]
                    else:
                        args = [
                            CaseWhen(((fc, args[0]),), Lit(None, "null"))
                        ]
                # fn(...) OVER (...) — window call ('over' is a soft id)
                t_over = self.peek()
                if (
                    t_over is not None
                    and t_over.kind == "id"
                    and t_over.text.lower() == "over"
                    and self.at("op", "(", k=1)
                ):
                    if distinct:
                        raise UnsupportedSqlError(
                            "DISTINCT window arguments not in subset"
                        )
                    return self._window_tail(low, args)
                if low in AGG_FUNCS:
                    if low == "count" and distinct and len(args) > 1:
                        # COUNT(DISTINCT a, b, ...) (round 10): ANSI
                        # counts distinct tuples with NO NULL position.
                        # struct(a, b) alone would count NULL-bearing
                        # rows (a struct is never NULL), so gate with
                        # the all-non-null CASE — the NULL branch is
                        # skipped by count like any aggregate
                        guard = AndCond(
                            tuple(IsNull(a, negated=True) for a in args)
                        )
                        return AggCall(
                            "count",
                            CaseWhen(
                                ((guard, Func("struct", tuple(args))),),
                                Lit(None, "null"),
                            ),
                            distinct=True,
                        )
                    if len(args) != 1:
                        raise UnsupportedSqlError(f"{low} needs 1 arg")
                    return AggCall(low, args[0], distinct)
                # Func.to_spark resolves via getattr(pyspark.sql.F,
                # name); validate HERE so a SQL function with no
                # same-named DataFrame twin (e.g. map -> F.create_map)
                # raises UnsupportedSqlError at parse time and rides
                # the mode='auto' spark.sql fallback instead of
                # escaping as a ValueError mid-execution (round 11).
                from pyspark.sql import functions as _F

                if getattr(_F, low, None) is None:
                    raise UnsupportedSqlError(
                        f"function {low} has no DataFrame twin; "
                        "not in the subset"
                    )
                return Func(low, tuple(args))
            # dotted column ref
            if self.accept("op", "."):
                col = self.take().text
                return Col(name, col)
            return Col("", name)
        raise UnsupportedSqlError(f"unexpected token {t} in expression")

    def _window_tail(self, func: str, args: list[Expr]) -> Expr:
        """fn(args) OVER ([PARTITION BY e,...] [ORDER BY e [DESC],...])
        — engine extension; explicit frame specs (ROWS/RANGE BETWEEN)
        are not in the subset and ride the fallback."""
        from sparksqlplus_spark.expressions import (
            WINDOW_AGG_FUNCS,
            WINDOW_RANK_FUNCS,
            WindowCall,
        )

        if func in WINDOW_RANK_FUNCS:
            if args:
                raise UnsupportedSqlError(f"{func}() takes no arguments")
        elif func == "ntile":
            # NTILE(n) (round 10) — literal bucket count, needs ORDER BY
            if len(args) != 1 or not isinstance(args[0], Lit):
                raise UnsupportedSqlError("ntile takes one literal bucket count")
        elif func in ("first_value", "last_value"):
            # round 10: ANSI default frame (RANGE UNBOUNDED
            # PRECEDING..CURRENT ROW) matches Spark's ordered-window
            # default, so last_value is the current row's value — same
            # as DuckDB
            if len(args) != 1:
                raise UnsupportedSqlError(f"{func} takes one expression")
        elif func in ("lag", "lead"):
            if not 1 <= len(args) <= 3 or any(
                not isinstance(a, Lit) for a in args[1:]
            ):
                raise UnsupportedSqlError(
                    f"{func} takes (expr [, literal offset [, literal default]])"
                )
        elif func in WINDOW_AGG_FUNCS:
            if len(args) != 1:
                raise UnsupportedSqlError(f"window {func} needs 1 arg")
            if isinstance(args[0], Star) and func != "count":
                raise UnsupportedSqlError(f"window {func}(*) is invalid")
        else:
            raise UnsupportedSqlError(f"unsupported window function {func}")
        self.take()  # 'over'
        self.expect("op", "(")
        partition: list[Expr] = []
        order: list[tuple[Expr, bool, str | None]] = []
        t = self.peek()
        if t is not None and t.kind == "id" and t.text.lower() == "partition":
            self.take()
            self.expect("kw", "by")
            partition.append(self._expr())
            while self.accept("op", ","):
                partition.append(self._expr())
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            while True:
                e = self._expr()
                desc = False
                if self.accept("kw", "desc"):
                    desc = True
                else:
                    self.accept("kw", "asc")
                # NULLS FIRST | LAST inside the window ORDER BY
                # (round 10, same soft-id parse as the main clause)
                nulls = None
                t_n = self.peek()
                if (
                    t_n is not None
                    and t_n.kind == "id"
                    and t_n.text.lower() == "nulls"
                ):
                    t_w = self.peek(1)
                    if (
                        t_w is not None
                        and t_w.kind == "id"
                        and t_w.text.lower() in ("first", "last")
                    ):
                        self.take()
                        nulls = self.take().text.lower()
                order.append((e, desc, nulls))
                if not self.accept("op", ","):
                    break
        frame = None
        t = self.peek()
        if t is not None and t.kind == "id" and t.text.lower() in ("rows", "range"):
            frame = self._window_frame(func, order)
        if not self.at("op", ")"):
            raise UnsupportedSqlError(
                "unsupported window specification tail"
            )
        self.expect("op", ")")
        return WindowCall(
            func, tuple(args), tuple(partition), tuple(order), frame
        )

    def _window_frame(self, func: str, order) -> tuple[str, int, int]:
        """ROWS/RANGE [BETWEEN] frame spec (engine extension) —
        UNBOUNDED PRECEDING | <n> PRECEDING | CURRENT ROW |
        <n> FOLLOWING | UNBOUNDED FOLLOWING bounds, mapped to Spark's
        Window.rowsBetween/rangeBetween ints (ANSI-identical). The
        single-bound form `ROWS <b>` desugars to BETWEEN <b> AND
        CURRENT ROW per ANSI. RANGE with a numeric offset needs exactly
        one ORDER BY expression (Spark and ANSI agree); ranking
        functions and lag/lead take no frame."""
        from pyspark.sql.window import Window

        kind = self.take().text.lower()
        from sparksqlplus_spark.expressions import WINDOW_RANK_FUNCS

        if func in WINDOW_RANK_FUNCS or func in ("lag", "lead", "ntile"):
            raise UnsupportedSqlError(f"{func} does not accept a frame")
        if not order:
            raise UnsupportedSqlError(
                "a window frame requires ORDER BY in the window"
            )

        def bound(is_start: bool) -> int:
            t = self.peek()
            if t is not None and t.kind == "id" and t.text.lower() == "unbounded":
                self.take()
                d = self.take().text.lower()
                if d == "preceding":
                    return Window.unboundedPreceding
                if d == "following":
                    return Window.unboundedFollowing
                raise UnsupportedSqlError(f"bad frame bound UNBOUNDED {d}")
            if t is not None and t.kind == "id" and t.text.lower() == "current":
                self.take()
                if self.take().text.lower() != "row":
                    raise UnsupportedSqlError("expected CURRENT ROW")
                return 0
            if t is not None and t.kind == "num":
                # Non-integer bounds (RANGE BETWEEN 2.5 PRECEDING ...,
                # valid ANSI over a numeric ORDER BY) can't map to
                # Spark's int rowsBetween/rangeBetween — raise
                # UnsupportedSqlError (not ValueError) so mode='auto'
                # routes the statement to the spark.sql fallback
                # (round-7 ADVICE, medium).
                txt = self.take().text
                try:
                    n = int(txt)
                except ValueError:
                    raise UnsupportedSqlError(
                        f"non-integer window frame bound {txt}"
                    ) from None
                d = self.take().text.lower()
                if d == "preceding":
                    return -n
                if d == "following":
                    return n
                raise UnsupportedSqlError(f"bad frame bound {n} {d}")
            raise UnsupportedSqlError(f"bad window frame bound at {t}")

        if self.accept("kw", "between"):
            start = bound(True)
            self.expect("kw", "and")
            end = bound(False)
        else:
            start, end = bound(True), 0
        if start > end:
            raise UnsupportedSqlError("window frame start is after its end")
        if kind == "range":
            offsets = {
                b
                for b in (start, end)
                if b not in (Window.unboundedPreceding, Window.unboundedFollowing, 0)
            }
            if offsets and len(order) != 1:
                raise UnsupportedSqlError(
                    "RANGE with a numeric offset needs exactly one "
                    "ORDER BY expression"
                )
        return (kind, start, end)

    def _case_when(self) -> Expr:
        self.expect("kw", "case")
        if not self.at("kw", "when"):
            # simple CASE (round 10): `CASE x WHEN v THEN r ...`
            # desugars to the searched form `CASE WHEN x = v THEN r`
            # — exact ANSI semantics (equality per branch; a NULL
            # operand matches no branch and falls to ELSE)
            operand = self._expr()
            branches: list[tuple[Cond, Expr]] = []
            while self.accept("kw", "when"):
                v = self._expr()
                self.expect("kw", "then")
                branches.append((Cmp("=", operand, v), self._expr()))
            if not branches:
                raise UnsupportedSqlError("CASE needs at least one WHEN")
            otherwise: Expr = Lit(None, "null")
            if self.accept("kw", "else"):
                otherwise = self._expr()
            self.expect("kw", "end")
            return CaseWhen(tuple(branches), otherwise)
        branches: list[tuple[Cond, Expr]] = []
        while self.accept("kw", "when"):
            conds = self._conjunction()
            cond = conds[0] if len(conds) == 1 else AndCond(tuple(conds))
            self.expect("kw", "then")
            branches.append((cond, self._expr()))
        otherwise: Expr = Lit(None, "null")
        if self.accept("kw", "else"):
            otherwise = self._expr()
        self.expect("kw", "end")
        return CaseWhen(tuple(branches), otherwise)


def _substitute_ctes(spec, ctes: dict) -> None:
    """Replace CTE references in FROM with inline subqueries (in
    place), recursing into FROM-subqueries (compound or plain), scalar
    subqueries, and EXISTS bodies. Round 12: [NOT] EXISTS and positive
    IN over a CTE now rewrite to the Exists BODY form (a derived-table
    FROM item the composite-view lift plans — the same machinery as
    SEMI/ANTI over a subquery); positive IN is two-valued-equivalent
    under WHERE/OR, so the body rewrite's null_aware=False is exact.
    NOT IN over a CTE stays rejected (the body lift would drop the
    three-valued NULL semantics) so mode='auto' falls back."""
    if not ctes:
        return
    if isinstance(spec, CompoundSpec):
        for p in spec.parts:
            _substitute_ctes(p, ctes)
        return
    import copy

    from sparksqlplus_spark.expressions import Exists, ScalarSubquery, map_expr

    for fi in [*spec.from_items, *[oj.item for oj in spec.outer_joins]]:
        if fi.table is not None and fi.table.lower() in ctes:
            fi.subquery = ctes[fi.table.lower()]
            fi.table = None
        elif fi.subquery is not None:
            _substitute_ctes(fi.subquery, ctes)

    def xform(node):
        if isinstance(node, ScalarSubquery):
            _substitute_ctes(node.spec, ctes)
            return None
        if not isinstance(node, Exists):
            return None
        if node.body is not None:
            _substitute_ctes(node.body, ctes)
            return node  # body handled; stop descent
        if node.table and node.table.lower() in ctes:
            if node.null_aware and node.negated:
                # NOT IN over a CTE (round 13): the two-valued body
                # lift below would drop the three-valued NULL
                # semantics, so instead carry the substituted body on
                # the node — api._lift_cte_not_in plans it as an
                # ephemeral view and re-enters the plain single-table
                # null-aware path. Compound bodies stay rejected
                # (fallback) per the standing containment.
                body = ctes[node.table.lower()]
                if not isinstance(body, QuerySpec):
                    raise UnsupportedSqlError(
                        "NOT IN over a compound CTE is not in the subset"
                    )
                body = copy.deepcopy(body)
                _substitute_ctes(body, ctes)  # chained CTEs
                import dataclasses

                return dataclasses.replace(node, cte_body=body)
            item = FromItem(
                alias=node.table_alias,
                subquery=copy.deepcopy(ctes[node.table.lower()]),
            )
            _substitute_ctes(item.subquery, ctes)  # chained CTEs
            return Exists(
                "", "", (),
                negated=node.negated,
                body=QuerySpec(
                    select=[], distinct=False,
                    from_items=[item], where=list(node.conds),
                ),
            )
        return None

    spec.where = [map_expr(c, xform) for c in spec.where]
    spec.inner_on = [map_expr(c, xform) for c in spec.inner_on]
    spec.having = [map_expr(c, xform) for c in spec.having]
    for si in spec.select:
        si.expr = map_expr(si.expr, xform)


def parse_query(sql: str) -> QuerySpec:
    """Parse the supported SQL subset into a QuerySpec (raises
    UnsupportedSqlError outside the subset, including compounds)."""
    return _Parser(tokenize(sql.strip().rstrip(";"))).parse_query()


def parse_statement(sql: str) -> "QuerySpec | CompoundSpec":
    """Parse one statement: a plain query, or a top-level set-operator
    compound (engine extension) as a CompoundSpec."""
    return _Parser(tokenize(sql.strip().rstrip(";"))).parse_statement()
