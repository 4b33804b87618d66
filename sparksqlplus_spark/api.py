"""Top-level engine API.

Usage::

    engine = SparkSQLPlus(spark)
    engine.ddl("CREATE TABLE R (a INT, b INT) WITH ('path'='/data/r.csv')")
    engine.register("s", some_dataframe, primary_key=("b",))
    df = engine.sql("SELECT r.a, s.b FROM R r, S s WHERE r.b = s.b AND r.a < s.c")

``sql`` plans the query with the CQC pipeline (GYO join tree → semi-join
reduce with min/max propagation → enumerate). Queries outside the planner
subset fall back to ``spark.sql`` verbatim (the reference web UI signals
"FALLBACK" the same way, RestApiController.java:117-129).
"""

from __future__ import annotations

import glob
import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger("sparksqlplus_spark")

from sparksqlplus_spark.catalog import Catalog, TableMeta, parse_ddl
from sparksqlplus_spark.compiler.cqc import CqcExecutor, naive_execute
from sparksqlplus_spark.parser.sql import (
    CompoundSpec,
    RoutedToFallback,
    UnsupportedSqlError,
    parse_query,
    parse_statement,
)
from sparksqlplus_spark.plans.context import Context, build_context
from sparksqlplus_spark.plans.gyo import best_join_tree, gyo_join_tree
from sparksqlplus_spark.plans.not_in import lit_of as _lit_of
from sparksqlplus_spark.plans.not_in import not_in_family

# SQL confs that change a compiled plan's shape or semantics (join
# strategy, adaptive execution, runtime filters, overflow/cast rules,
# timestamp literals): the plan cache keys on their values, so a plan
# built under one setting is never served under another.
_PLAN_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
)


def _top_level_positions(query: str) -> dict[str, list[int]]:
    """Positions of top-level (outside parens and quoted strings)
    FROM / ORDER / LIMIT / OFFSET / QUALIFY keyword tokens. Used by the
    routed-fallback tail rescue (round 16) to strip a statement's
    trailing QUALIFY/ORDER BY/LIMIT/OFFSET and to find the select-list
    end —
    text-level, so it works on any statement the engine can't plan
    natively. Comments are not scanned (the dialect does not accept
    them)."""
    depth = 0
    i, n = 0, len(query)
    out: dict[str, list[int]] = {
        "from": [], "order": [], "limit": [], "offset": [], "qualify": [],
    }
    while i < n:
        ch = query[i]
        if ch in "'\"`":
            q = ch
            i += 1
            while i < n:
                if query[i] == q:
                    # doubled-quote escape inside string literals
                    if q == "'" and i + 1 < n and query[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (query[j].isalnum() or query[j] == "_"):
                j += 1
            if depth == 0:
                w = query[i:j].lower()
                if w in out:
                    # `.`-qualified soft keywords are identifiers, not
                    # clause markers: a legal column literally named
                    # limit/order/offset (`WHERE o.limit > 3`) must not
                    # split the tail (round 17, VERDICT r16 #2) — skip
                    # when the adjacent non-space char on either side
                    # is `.` (qualified use, or the keyword itself as
                    # the qualifier: `limit.x`).
                    p = i - 1
                    while p >= 0 and query[p].isspace():
                        p -= 1
                    nxt = j
                    while nxt < n and query[nxt].isspace():
                        nxt += 1
                    if not (
                        (p >= 0 and query[p] == ".")
                        or (nxt < n and query[nxt] == ".")
                    ):
                        out[w].append(i)
            i = j
            continue
        i += 1
    return out


def _top_level_commas(text: str) -> list[int]:
    """Positions of depth-0 commas in ``text`` (same string/paren
    rules as _top_level_positions)."""
    depth = 0
    i, n = 0, len(text)
    out: list[int] = []
    while i < n:
        ch = text[i]
        if ch in "'\"`":
            q = ch
            i += 1
            while i < n:
                if text[i] == q:
                    if q == "'" and i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(i)
        i += 1
    return out


def _select_item_texts(query: str, from_pos: int) -> list | None:
    """Raw text of each top-level select-list item of ``query`` (the
    span between SELECT [DISTINCT] and the top-level FROM at
    ``from_pos``), with a trailing ``AS alias`` stripped. Items whose
    expression text is not usable as a standalone expression (``*`` /
    ``alias.*``) map to None. Used by _split_tail_rescue to resolve
    ordinal ORDER BY items the way the parser does
    (parser/sql.py ordinal())."""
    m = re.match(r"(?is)\s*select\s+(?:distinct\s+(?!on\b))?", query)
    if not m or m.end() > from_pos:
        return None
    items = query[m.end():from_pos]
    cuts = _top_level_commas(items)
    bounds = [0] + [c + 1 for c in cuts] + [len(items) + 1]
    out: list = []
    for a, b in zip(bounds, bounds[1:]):
        it = items[a : b - 1].strip()
        if not it or it == "*" or it.endswith(".*"):
            out.append(None)
            continue
        out.append(
            re.sub(r'(?is)\s+as\s+("[^"]*"|`[^`]*`|\w+)\s*$', "", it)
        )
    return out


def _split_tail_rescue(query: str, n_order: int):
    """Split ``query`` into (body, select_insert_pos, order_expr_sqls)
    for the tail-rescue emulation: body = the statement without its
    trailing top-level ORDER BY/LIMIT/OFFSET, select_insert_pos = the
    top-level FROM position (where helper sort columns get appended
    to the select list), order_expr_sqls = the raw SQL text of each
    ORDER BY item with ASC/DESC/NULLS stripped. Returns None when the
    text does not scan cleanly (caller re-raises the original
    planning error instead)."""
    pos = _top_level_positions(query)
    tail_marks = pos["order"] + pos["limit"] + pos["offset"]
    if not tail_marks or not pos["from"]:
        return None
    tail_start = min(tail_marks)
    body = query[:tail_start].rstrip()
    insert_at = pos["from"][0]
    exprs: list[str] = []
    if n_order:
        if not pos["order"]:
            return None
        o = pos["order"][0]
        m = re.match(r"(?is)order\s+by\s+", query[o:])
        if not m:
            return None
        items_start = o + m.end()
        items_end = min(
            [p for p in pos["limit"] + pos["offset"] if p > o]
            + [len(query)]
        )
        items = query[items_start:items_end]
        cuts = _top_level_commas(items)
        bounds = [0] + [c + 1 for c in cuts] + [len(items) + 1]
        select_items: list | None = None
        for a, b in zip(bounds, bounds[1:]):
            it = items[a : b - 1].strip()
            it = re.sub(r"(?is)\s+nulls\s+(first|last)\s*$", "", it)
            it = re.sub(r"(?is)\s+(asc|desc)\s*$", "", it)
            if not it:
                return None
            if re.fullmatch(r"\d+", it):
                # ordinal item: the parser resolves ORDER BY 2 to the
                # 2nd select-list expression (parser/sql.py ordinal()),
                # so embedding the literal would sort by a constant
                # (round 17, ADVICE r16 #1) — substitute the
                # select-item text, or decline the rescue.
                if select_items is None:
                    select_items = _select_item_texts(query, insert_at)
                idx = int(it) - 1
                if (
                    select_items is None
                    or not (0 <= idx < len(select_items))
                    or select_items[idx] is None
                ):
                    return None
                it = select_items[idx]
            exprs.append(it)
        if len(exprs) != n_order:
            return None
    return body, insert_at, exprs


def _split_qualify(query: str):
    """Cut the QUALIFY filter out of ``query``: returns (query without
    it, predicate text), or None when the text does not scan cleanly.
    A top-level QUALIFY clause runs from its keyword to the first
    top-level ORDER BY/LIMIT/OFFSET after it (or the end). ``SELECT
    DISTINCT ON (keys)`` is the parser's QUALIFY desugar spelled
    differently: it becomes plain SELECT plus ``ROW_NUMBER() OVER
    (PARTITION BY keys ORDER BY <statement order>) = 1`` (ordinal keys
    or order items decline — a window would read them as constants)."""
    pos = _top_level_positions(query)
    m = re.match(r"(?is)\s*select\s+distinct\s+on\s*\(", query)
    if m and not pos["qualify"]:
        depth, i = 1, m.end()
        while i < len(query) and depth:
            depth += {"(": 1, ")": -1}.get(query[i], 0)
            i += 1
        keys = query[m.end():i - 1].strip()
        if depth or not pos["order"]:
            return None
        o = pos["order"][0]
        om = re.match(r"(?is)order\s+by\s+", query[o:])
        end = min(
            [p for p in pos["limit"] + pos["offset"] if p > o] + [len(query)]
        )
        order = query[o + om.end():end].strip() if om else ""
        items = _split_top_level(keys) + [
            re.sub(r"(?is)\s+(asc|desc)?\s*(nulls\s+(first|last))?\s*$", "", it)
            for it in _split_top_level(order)
        ]
        if not order or any(re.fullmatch(r"\s*\d+\s*", it) for it in items):
            return None
        pred = (
            f"ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {order}) = 1"
        )
        return "SELECT " + query[i:], pred
    if len(pos["qualify"]) != 1:
        return None
    q = pos["qualify"][0]
    end = min(
        [p for p in pos["order"] + pos["limit"] + pos["offset"] if p > q]
        + [len(query)]
    )
    pred = query[q + len("qualify"):end].strip()
    if not pred:
        return None
    return query[:q].rstrip() + " " + query[end:], pred


def _split_top_level(text: str) -> list[str]:
    """``text`` split at its depth-0 commas."""
    cuts = _top_level_commas(text)
    bounds = [0] + [c + 1 for c in cuts] + [len(text) + 1]
    return [text[a : b - 1].strip() for a, b in zip(bounds, bounds[1:])]


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        f = path if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
        schema = pq.ParquetFile(f).schema_arrow
        return [
            fld.name
            for fld in schema
            if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"
        ]
    except Exception:
        return []


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footers (metadata only, no scan)."""
    try:
        import pyarrow.parquet as pq

        files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.parquet"))
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files) or None
    except Exception:
        return None


class SparkSQLPlus:
    def __init__(self, spark: SparkSession, catalog: Catalog | None = None):
        self.spark = spark
        self.catalog = catalog or Catalog()
        self._executor = CqcExecutor(spark, self.catalog)
        self._view_counter = 0  # ephemeral composite-view names
        # compiled-plan cache (round 17): repeated sql() calls with
        # identical (query, options, catalog state) return the SAME
        # lazy DataFrame instead of re-running parse/GYO/GHD/stat-fold
        # planning — the prepared-statement behavior, and reference
        # parity (the reference generates code per query once and its
        # experiment timings exclude compilation,
        # AbstractSparkSQLPlusCodeGenerator.scala:381-393). Keyed on a
        # catalog fingerprint so any register/unregister/ddl re-plans;
        # Spark DataFrames are immutable, so sharing one is safe, and
        # plan-time folded statistics stay valid because the
        # fingerprint pins the exact source DataFrames/paths they
        # were collected from.
        from collections import OrderedDict

        self._plan_cache: OrderedDict = OrderedDict()
        self._plan_cache_max = 128
        self._plan_cacheable = True

    # -- registration --------------------------------------------------------
    @staticmethod
    def _split_statements(ddl_str: str) -> list[str]:
        """Split a DDL string on top-level semicolons — quote-aware
        (single/double quotes and backticks; '' doubling inside string
        literals), so a CTAS body containing ';' in a literal stays
        whole. Round 12: the old single-statement CTAS regex swallowed
        everything after AS (DOTALL .+$), feeding trailing statements
        into the select body."""
        stmts: list[str] = []
        buf: list[str] = []
        quote: str | None = None
        i, n = 0, len(ddl_str)
        while i < n:
            ch = ddl_str[i]
            if quote is not None:
                buf.append(ch)
                if ch == quote:
                    if quote == "'" and i + 1 < n and ddl_str[i + 1] == "'":
                        buf.append("'")
                        i += 1  # '' escape inside a string literal
                    else:
                        quote = None
            elif ch in "'\"`":
                quote = ch
                buf.append(ch)
            elif ch == ";":
                stmts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
            i += 1
        stmts.append("".join(buf))
        return [s for s in (s.strip() for s in stmts) if s]

    def ddl(self, ddl_str: str) -> None:
        """Register tables from CREATE TABLE ... WITH('path'=...) DDL;
        views for the spark.sql fallback are created lazily.

        Also accepts CREATE [OR REPLACE] TABLE|VIEW name AS <select>
        (round 11): the select plans through the normal engine
        pipeline and registers as a DataFrame-backed catalog table —
        TABLE persists the frame (materialized once, reused by later
        queries), VIEW stays lazy (re-planned per use).

        Round 12 hardening (r11 verdict item 5): the string is split
        on top-level semicolons, so multi-statement DDL mixing CTAS
        with column-list CREATE TABLEs registers every statement
        (previously the CTAS body swallowed the rest of the string).
        CTAS names may be quoted (backticks or double quotes) and
        schema-qualified — the catalog is flat, so the LAST segment is
        the registered name. The ambiguous ``CREATE TABLE t (cols) AS
        SELECT`` form is rejected explicitly (alias the select's
        output columns instead). A statement matching no shape raises
        instead of silently registering nothing."""
        for stmt in self._split_statements(ddl_str):
            self._ddl_one(stmt)

    def _ddl_one(self, stmt: str) -> None:
        import re as _re

        name_pat = r"(?:`[^`]+`|\"[^\"]+\"|\w+)"
        ctas = _re.match(
            rf"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?P<kind>TABLE|VIEW)\s+"
            rf"(?P<name>{name_pat}(?:\s*\.\s*{name_pat})*)\s*"
            r"(?P<collist>\([^)]*\)\s*)?AS\s+(?P<body>.+)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if ctas:
            if ctas.group("collist"):
                raise ValueError(
                    "CREATE TABLE name (cols) AS SELECT is ambiguous "
                    "(column list vs column-type DDL) — alias the "
                    "select's output columns and use CREATE TABLE "
                    "name AS SELECT"
                )
            raw = ctas.group("name").split(".")[-1].strip()
            name = raw.strip('`"')
            df = self.sql(ctas.group("body"))
            if ctas.group("kind").upper() == "TABLE":
                df = df.persist()
            self.register(name, df)
            return
        if not _re.search(
            r"CREATE\s+TABLE\s+\w+\s*\(", stmt, _re.IGNORECASE
        ):
            raise ValueError(
                "unrecognized DDL: expected CREATE TABLE name (cols...) "
                "WITH ('path'=...) or CREATE [OR REPLACE] TABLE|VIEW "
                "name AS SELECT ..."
            )
        parse_ddl(stmt, self.catalog)

    def register(
        self,
        name: str,
        df: DataFrame,
        primary_key: tuple[str, ...] = (),
        cardinality: int | None = None,
    ) -> None:
        self.catalog.register_df(name, df, primary_key, cardinality)
        df.createOrReplaceTempView(name)

    def register_parquet(
        self,
        name: str,
        path: str,
        primary_key: tuple[str, ...] = (),
        cardinality: int | None = None,
    ) -> None:
        df = self.spark.read.parquet(path)
        # TIMESTAMP(NANOS) columns arrive as long (nanosAsLong); convert
        # to microsecond timestamps
        for col in _nanos_timestamp_cols(path):
            if col in df.columns:
                from pyspark.sql import functions as F

                # integer division — a double detour would round the
                # ~1e18 nanos value and shift timestamps by ±1µs
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
                )
        if cardinality is None:
            cardinality = _parquet_rows(path)
        self.register(name, df, primary_key, cardinality)

    def register_testdata(self, sf_dir: str) -> None:
        """Register every parquet table in a testdata sf directory, with the
        TPC-H primary keys the reference declares (FIXTURES.md §C)."""
        pks = {
            "region": ("r_regionkey",),
            "nation": ("n_nationkey",),
            "customer": ("c_custkey",),
            "supplier": ("s_suppkey",),
            "part": ("p_partkey",),
            "orders": ("o_orderkey",),
            "lineitem": ("l_orderkey", "l_linenumber"),
            "events": ("event_id",),
            "documents": ("doc_id",),
            "embeddings": ("vec_id",),
        }
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.splitext(os.path.basename(p))[0]
            self.register_parquet(name, p, primary_key=pks.get(name, ()))

    def save_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: tuple[str, ...] | list[str],
        n_buckets: int = 32,
        path: str | None = None,
        sort_cols: tuple[str, ...] | list[str] | None = None,
        primary_key: tuple[str, ...] = (),
    ) -> DataFrame:
        """Write ``df`` as a bucketed table and register it.

        The 100 TB co-located-join path: two tables bucketed on the same
        key with the same bucket count join WITHOUT a shuffle exchange —
        each bucket pair is joined where it lies. Worth it for a fact
        table joined repeatedly on the same key (the one-time bucketed
        write amortizes across every later join); `sort_cols` extends
        this to shuffle-AND-sort-free sort-merge joins.
        """
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        if path:
            writer = writer.option("path", path)
        writer.saveAsTable(name)
        out = self.spark.table(name)  # carries the bucketing spec
        self.catalog.register_df(name, out, tuple(primary_key))
        return out

    # -- planning / execution -------------------------------------------------
    def context(self, query: str) -> Context:
        return build_context(self._fold_scalars(parse_query(query)), self.catalog)

    def _decorrelate_scalars(self, spec):
        """Rewrite WHERE conjuncts of the form
        ``expr CMP (SELECT <agg-expr> FROM t [AS a] WHERE a.k = outer.k
        [AND inner filters])`` into an aggregated FROM-subquery grouped
        by the correlation keys plus an equi-join and a plain
        comparison — the classic TPC-H Q2/Q17 shape in its ORIGINAL
        correlated spelling, planned as the same C21 aggregated view
        the rewritten form uses. Sound only when the aggregate is NULL
        over an empty group (sum/avg/min/max — the inner join then
        drops exactly the rows the UNKNOWN comparison would filter).
        A bare correlated COUNT decorrelates too, via a LEFT JOIN on
        the aggregated view + COALESCE(cnt, 0) (0-on-empty — the
        `WHERE (SELECT COUNT(*) ...) = 0` idiom); other
        non-NULL-propagating select expressions are left alone and
        ride the fallback. Non-equality correlation and multi-table
        subqueries are also left alone."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import (
            AggCall,
            Arith,
            Cast,
            Cmp,
            Col,
            Neg,
            ScalarSubquery,
        )
        from sparksqlplus_spark.parser.sql import FromItem, SelectItem

        from sparksqlplus_spark.plans.context import _agg_subcalls

        def null_propagating(e) -> bool:
            # NULL-on-empty-group check: the (single) aggregate must be
            # sum/avg/min/max and every node on the path from the root
            # to it must propagate a NULL operand (Arith/Neg/Cast do)
            if isinstance(e, AggCall):
                return e.func in ("sum", "avg", "min", "max")
            if isinstance(e, Arith):
                la = bool(_agg_subcalls(e.left))
                ra = bool(_agg_subcalls(e.right))
                if la and ra:
                    return False
                if la:
                    return null_propagating(e.left)
                if ra:
                    return null_propagating(e.right)
                return False
            if isinstance(e, (Neg, Cast)):
                return null_propagating(e.child)
            return False

        new_where = []
        changed = False
        for cond in spec.where:
            rewritten = None
            if isinstance(cond, Cmp):
                scalar_left = isinstance(cond.left, ScalarSubquery)
                scalar_right = isinstance(cond.right, ScalarSubquery)
                if scalar_left != scalar_right:
                    sub = (cond.left if scalar_left else cond.right).spec
                    rewritten = self._try_decorrelate_one(
                        spec, cond, sub, scalar_left, null_propagating,
                    )
            if rewritten is None:
                new_where.append(cond)
            else:
                new_where.extend(rewritten)
                changed = True
        if changed:
            spec.where = new_where
        return spec

    def _corr_scalar_parts(self, spec, sub):
        """Shared correlation analysis for scalar-subquery
        decorrelation (WHERE conjuncts AND select-list occurrences):
        a single-table, single-aggregate subquery whose WHERE splits
        into inner-only filters plus outer=inner equi pairs. Returns
        (inner_alias, table, sel, aggs, inner_only, pairs) or None
        when the shape does not qualify (multi-table, non-equality
        correlation, several aggregates, ...)."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import Cmp, Col
        from sparksqlplus_spark.parser.sql import CompoundSpec
        from sparksqlplus_spark.plans.context import _agg_subcalls

        if isinstance(sub, CompoundSpec):
            # a compound scalar subquery is necessarily uncorrelated in
            # our subset — _fold_scalars runs it through _run_compound
            return None
        if (
            len(sub.from_items) != 1
            or sub.from_items[0].table is None
            or sub.group_by
            or sub.order_by
            or sub.limit is not None
            or sub.offset is not None
            or sub.distinct
            or sub.having
            or sub.qualify
            or sub.outer_joins
            or len(sub.select) != 1
        ):
            # qualify/offset included (round-12 silent-drop audit):
            # declining keeps the ScalarSubquery intact for
            # _fold_scalars, which plans it through the FULL pipeline
            return None
        sel = sub.select[0].expr
        aggs = _agg_subcalls(sel)
        if len(aggs) != 1:
            return None
        inner_alias = sub.from_items[0].alias
        table = sub.from_items[0].table
        try:
            inner_cols = set(self.catalog.get(table).column_names)
        except UnknownTableError:
            return None
        outer_aliases = {fi.alias for fi in spec.from_items}

        def side_of(col: Col) -> str | None:
            if col.alias == inner_alias or (
                col.alias == "" and col.name in inner_cols
            ):
                return "inner"
            if col.alias in outer_aliases:
                return "outer"
            return None

        inner_only: list = []
        pairs: list[tuple[Col, str]] = []  # (outer col, inner col name)
        for c in sub.where:
            refs = c.refs()
            sides = set()
            for a, cn in refs:
                if a == inner_alias or (a == "" and cn in inner_cols):
                    sides.add("inner")
                elif a in outer_aliases:
                    sides.add("outer")
                else:
                    return None
            if sides <= {"inner"}:
                inner_only.append(c)
                continue
            if not (
                isinstance(c, Cmp)
                and c.op == "="
                and isinstance(c.left, Col)
                and isinstance(c.right, Col)
            ):
                return None
            sl, sr = side_of(c.left), side_of(c.right)
            if {sl, sr} != {"inner", "outer"}:
                return None
            outer_col, inner_col = (
                (c.right, c.left) if sl == "inner" else (c.left, c.right)
            )
            pairs.append((outer_col, inner_col.name))
        return inner_alias, table, sel, aggs, inner_only, pairs

    def _try_decorrelate_one(self, spec, cond, sub, scalar_left, null_ok):
        """One conjunct of _decorrelate_scalars; returns replacement
        conds (mutating spec.from_items) or None to leave it alone."""
        from sparksqlplus_spark.expressions import AggCall, Cmp, Col
        from sparksqlplus_spark.parser.sql import FromItem, SelectItem

        parts = self._corr_scalar_parts(spec, sub)
        if parts is None:
            return None
        inner_alias, table, sel, aggs, inner_only, pairs = parts
        # COUNT is 0 — not NULL — over an empty group, so the
        # inner-join rewrite is unsound for it. Rewrite instead to a
        # LEFT JOIN on the aggregated view + COALESCE(__sval, 0)
        # (api._run_outer plans the attachment): unmatched outer rows —
        # including NULL correlation keys, which never equi-match —
        # read 0, exactly the correlated COUNT's empty-group value.
        is_count = isinstance(sel, AggCall) and sel.func == "count"
        # round-8: COUNT wrapped in an expression (e.g. COUNT(*) + 1,
        # 2 * COUNT(x), CAST(COUNT(*) AS DOUBLE)) decorrelates too —
        # over an empty group the whole expression evaluates with
        # count = 0, so substituting COALESCE(__sval, 0) for the
        # AggCall inside the expression reproduces it exactly, PROVIDED
        # the rest of the expression is constant (no column refs
        # outside the aggregate — those would be unevaluable over the
        # empty group)
        count_expr = False
        if not is_count and len(aggs) == 1 and aggs[0].func == "count":
            from sparksqlplus_spark.expressions import Lit, map_expr

            probe = map_expr(
                sel, lambda n: Lit(0, "bigint") if n is aggs[0] else None
            )
            count_expr = not probe.refs()
        if not is_count and not count_expr and not null_ok(sel):
            return None
        if not pairs:
            return None  # uncorrelated — _fold_scalars handles it

        from sparksqlplus_spark.parser.sql import QuerySpec

        self._view_counter += 1
        alias = f"__sq{self._view_counter}"
        group_cols = list(dict.fromkeys(ic for _, ic in pairs))
        view = QuerySpec(
            select=[
                *[SelectItem(Col(inner_alias, gc), gc) for gc in group_cols],
                # count paths aggregate the BARE count; any wrapping
                # expression re-applies over COALESCE below
                SelectItem(aggs[0] if count_expr else sel, "__sval"),
            ],
            distinct=False,
            from_items=[FromItem(alias=inner_alias, table=table)],
            where=list(inner_only),
            group_by=[Col(inner_alias, gc) for gc in group_cols],
        )
        if is_count or count_expr:
            from sparksqlplus_spark.expressions import Func, Lit, map_expr
            from sparksqlplus_spark.parser.sql import OuterJoin

            spec.outer_joins.append(
                OuterJoin(
                    FromItem(alias=alias, subquery=view),
                    [Cmp("=", oc, Col(alias, ic)) for oc, ic in pairs],
                )
            )
            coal: Expr = Func(
                "coalesce", (Col(alias, "__sval"), Lit(0, "bigint"))
            )
            sval: Expr = (
                coal
                if is_count
                else map_expr(sel, lambda n: coal if n is aggs[0] else None)
            )
            return [
                Cmp(cond.op, sval, cond.right)
                if scalar_left
                else Cmp(cond.op, cond.left, sval)
            ]
        spec.from_items.append(FromItem(alias=alias, subquery=view))
        out: list = [
            Cmp("=", oc, Col(alias, ic)) for oc, ic in pairs
        ]
        sval = Col(alias, "__sval")
        if scalar_left:
            out.append(Cmp(cond.op, sval, cond.right))
        else:
            out.append(Cmp(cond.op, cond.left, sval))
        # mark for _run_outer: these stay in the phase-1 core even
        # under RIGHT/FULL (QuerySpec.core_safe_where docstring)
        spec.core_safe_where.extend(out)
        return out

    def _decorrelate_select_scalars(self, spec):
        """SELECT-list scalar subqueries (engine extension; round 8).
        A correlated single-table aggregate lifts to a grouped view
        LEFT-JOINed on the correlation keys (api._run_outer plans the
        attachment): sum/avg/min/max read the bare view value — NULL
        on an empty group, exactly the ANSI scalar-subquery value —
        while COUNT (bare or wrapped in constant arithmetic) reads
        COALESCE(cnt, 0). Uncorrelated scalars are left in place for
        _fold_scalars; shapes outside the subset stay ScalarSubquery
        nodes and hit the build_context guard, which raises
        UnsupportedSqlError so mode='auto' rides the spark.sql
        fallback (previously they crashed with a raw ValueError from
        ScalarSubquery.to_spark)."""
        from sparksqlplus_spark.expressions import (
            AggCall,
            Cmp,
            Col,
            Func,
            Lit,
            ScalarSubquery,
            map_expr,
        )
        from sparksqlplus_spark.parser.sql import (
            FromItem,
            OuterJoin,
            QuerySpec,
            SelectItem,
        )

        def attach(sub):
            parts = self._corr_scalar_parts(spec, sub)
            if parts is None:
                return None
            inner_alias, table, sel, aggs, inner_only, pairs = parts
            if not pairs:
                return None  # uncorrelated — _fold_scalars folds it
            agg = aggs[0]
            if agg.func not in ("sum", "avg", "min", "max", "count"):
                return None
            # any wrapping expression must be constant outside the
            # aggregate (inner columns are unevaluable over the empty
            # group a LEFT-join miss represents)
            if sel is not agg:
                probe = map_expr(
                    sel, lambda n: Lit(0, "bigint") if n is agg else None
                )
                if probe.refs():
                    return None
            self._view_counter += 1
            alias = f"__sq{self._view_counter}"
            group_cols = list(dict.fromkeys(ic for _, ic in pairs))
            view = QuerySpec(
                select=[
                    *[
                        SelectItem(Col(inner_alias, gc), gc)
                        for gc in group_cols
                    ],
                    SelectItem(agg, "__sval"),
                ],
                distinct=False,
                from_items=[FromItem(alias=inner_alias, table=table)],
                where=list(inner_only),
                group_by=[Col(inner_alias, gc) for gc in group_cols],
            )
            spec.outer_joins.append(
                OuterJoin(
                    FromItem(alias=alias, subquery=view),
                    [Cmp("=", oc, Col(alias, ic)) for oc, ic in pairs],
                    "left",
                )
            )
            val: Expr = Col(alias, "__sval")
            if agg.func == "count":
                val = Func("coalesce", (val, Lit(0, "bigint")))
            if sel is agg:
                return val
            return map_expr(sel, lambda n: val if n is agg else None)

        def repl(n):
            if isinstance(n, ScalarSubquery):
                return attach(n.spec)
            return None

        # a LEFT attachment after a RIGHT/FULL join would change which
        # side is preserved mid-chain — keep those on the fallback
        if any(oj.side in ("right", "full") for oj in spec.outer_joins):
            return spec
        spec.select = [
            SelectItem(map_expr(si.expr, repl), si.alias)
            for si in spec.select
        ]
        return spec

    def _fold_scalars(self, spec):
        """Replace uncorrelated scalar subqueries in WHERE/HAVING with
        their computed Lit (expressions.ScalarSubquery docstring): the
        inner query runs through the engine first — a one-value
        collect, the same metadata-scale class as the router's ANALYZE
        statistics. Nested scalars fold recursively; a correlated
        subquery raises UnsupportedSqlError from the inner context
        build (unknown alias), routing the whole query to the
        fallback under mode='auto'."""
        from dataclasses import replace as dc_replace
        from decimal import Decimal

        from sparksqlplus_spark.expressions import Lit, ScalarSubquery, map_expr

        def fold(node):
            if not isinstance(node, ScalarSubquery):
                return None
            from sparksqlplus_spark.parser.sql import CompoundSpec

            if isinstance(node.spec, CompoundSpec):
                # compound scalar body (round 10): plan through the
                # compound runner — still a one-value collect
                import copy

                rows = self._run_compound(copy.deepcopy(node.spec)).collect()
            else:
                try:
                    ctx = build_context(
                        self._fold_scalars(node.spec), self.catalog
                    )
                    rows = self._run_context(ctx).collect()
                except UnsupportedSqlError:
                    # bodies the narrow context build rejects (compound
                    # FROM-subqueries, windows, ...) get the full
                    # pipeline; a genuinely unsupported or correlated
                    # body re-raises from there and auto falls back
                    import copy

                    rows = self._plan_spec(
                        copy.deepcopy(node.spec), ansi=True
                    ).collect()
            if len(rows) != 1 or len(rows[0]) != 1:
                raise UnsupportedSqlError(
                    "scalar subquery must return exactly one value"
                )
            v = rows[0][0]
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, bool) or v is None:
                kind = "null" if v is None else "boolean"
            elif isinstance(v, float):
                kind = "double"
            elif isinstance(v, int):
                kind = "bigint"
            else:
                kind = "str"
            return Lit(v, kind)

        # recurse into FROM-subqueries first (a derived table's WHERE
        # may carry a scalar subquery — TPC-H Q22's custsale shape).
        # Decorrelate BEFORE folding: a correlated scalar inside the
        # subquery must rewrite to its aggregated-view join here, or
        # the fold attempt dies on the unresolvable outer alias before
        # the subquery ever reaches its own _plan_spec. Compound
        # subqueries skip this — their parts fold inside _run_compound
        from sparksqlplus_spark.parser.sql import QuerySpec

        for fi in spec.from_items:
            if isinstance(fi.subquery, QuerySpec):
                fi.subquery = self._fold_scalars(
                    self._decorrelate_scalars(fi.subquery)
                )

        has_scalar = False

        def probe(node):
            nonlocal has_scalar
            if isinstance(node, ScalarSubquery):
                has_scalar = True
            return None

        for c in [*spec.where, *spec.having, *[si.expr for si in spec.select]]:
            map_expr(c, probe)
        if not has_scalar:
            return spec
        from sparksqlplus_spark.parser.sql import SelectItem

        safe_ids = {id(c) for c in spec.core_safe_where}
        new_where = [map_expr(c, fold) for c in spec.where]
        return dc_replace(
            spec,
            where=new_where,
            having=[map_expr(c, fold) for c in spec.having],
            # round-8: SELECT-list uncorrelated scalars fold too (the
            # correlated ones were lifted by _decorrelate_select_scalars
            # just before)
            select=[
                SelectItem(map_expr(si.expr, fold), si.alias)
                for si in spec.select
            ],
            # positional remap keeps the decorrelation marker aligned
            # with the rebuilt conjunct objects
            core_safe_where=[
                nc
                for oc, nc in zip(spec.where, new_where)
                if id(oc) in safe_ids
            ],
        )

    def _lift_exists_joins(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> list[str]:
        """Rewrite each multi-table [NOT] EXISTS (Exists.body set — a
        join inside the subquery, e.g. the TPC-H Q4 shape with a
        lineitem⋈partsupp body) into the single-table shape the
        SemiFilter planner already folds: the inner join block plans
        RECURSIVELY as a composite view projecting (DISTINCT) exactly
        the inner columns the correlation touches, and the Exists is
        replaced with a semi/anti join against that view on the same
        keys. DISTINCT keeps the view minimal (semi joins ignore
        multiplicity); filters local to the body stay inside the view
        where they push into its scans. Returns ephemeral view names
        for the caller to unregister."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import Cmp, Col, Exists
        from sparksqlplus_spark.parser.sql import QuerySpec, SelectItem

        has_body = any(
            isinstance(c, Exists) and c.body is not None for c in spec.where
        )
        if not has_body:
            return []
        outer_aliases = {fi.alias for fi in spec.from_items} | {
            oj.item.alias for oj in spec.outer_joins
        }
        ephemeral: list[str] = []
        new_where: list = []
        for cond in spec.where:
            if not (isinstance(cond, Exists) and cond.body is not None):
                new_where.append(cond)
                continue
            rewritten, eph = self._exists_body_rewrite(
                cond, outer_aliases, mode=mode,
                cyclic_strategy=cyclic_strategy, count_mode=count_mode,
            )
            ephemeral += eph
            new_where.append(rewritten)
        spec.where = new_where
        return ephemeral

    def _from_item_cols(self, fi) -> list[str]:
        """Output column names of one FROM item — catalog table,
        VALUES, derived column list, or derived table (by its select
        aliases). Round 12: shared by the EXISTS body lift so
        EXISTS/SEMI/ANTI over a derived table resolve correlation
        columns without planning the view first (the same shape
        _expand_using's local out_cols resolves for USING)."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import Col
        from sparksqlplus_spark.parser.sql import CompoundSpec, QuerySpec

        if fi.values is not None:
            return list(fi.val_cols)
        if fi.col_aliases is not None:
            return list(fi.col_aliases)
        if fi.table is not None:
            try:
                return list(self.catalog.get(fi.table).column_names)
            except UnknownTableError as exc:
                raise UnsupportedSqlError(str(exc)) from None
        sub = fi.subquery
        if isinstance(sub, CompoundSpec):
            sub = sub.parts[0]
        if not isinstance(sub, QuerySpec):
            raise UnsupportedSqlError("opaque FROM item")
        names: list[str] = []
        for si in sub.select:
            if si.alias:
                names.append(si.alias)
            elif isinstance(si.expr, Col):
                names.append(si.expr.name)
            else:
                raise UnsupportedSqlError(
                    "derived table with an unnamed output column"
                )
        return names

    def _exists_body_rewrite(
        self,
        cond,
        outer_aliases: set[str],
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ):
        """Rewrite ONE multi-table Exists (body set) into the
        single-table shape: the body plans recursively as a composite
        DISTINCT view over exactly the correlated inner columns, and
        the returned Exists semi/anti-joins that view on the same
        (lifted) correlation conditions — equality or not. Shared by
        _lift_exists_joins (top-level conjuncts) and _lift_or_exists
        (round 10: EXISTS with a join body under OR). Returns
        (rewritten Exists, ephemeral view names)."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import Cmp, Col, Exists
        from sparksqlplus_spark.parser.sql import QuerySpec, SelectItem

        ephemeral: list[str] = []
        body = cond.body
        inner_cols: dict[str, set[str]] = {}
        for fi in body.from_items:
            if fi.alias in outer_aliases:
                raise UnsupportedSqlError(
                    f"EXISTS alias {fi.alias!r} shadows an outer alias"
                )
            inner_cols[fi.alias] = set(self._from_item_cols(fi))

        def inner_owner(col_ref: Col) -> str | None:
            """Inner alias owning the ref, or None if outer-scoped.
            Innermost scope wins for bare names, matching the
            single-table EXISTS resolution."""
            if col_ref.alias in inner_cols:
                if col_ref.name not in inner_cols[col_ref.alias]:
                    raise UnsupportedSqlError(
                        f"unknown column {col_ref.alias}.{col_ref.name} "
                        "inside EXISTS"
                    )
                return col_ref.alias
            if col_ref.alias == "":
                owners = [
                    a for a, cols in inner_cols.items()
                    if col_ref.name in cols
                ]
                if len(owners) > 1:
                    raise UnsupportedSqlError(
                        f"ambiguous column {col_ref.name!r} inside EXISTS"
                    )
                if owners:
                    return owners[0]
            return None

        inner_only: list = []
        corr: list[tuple[Cmp, Col, Col, str]] = []  # (cond, outer, inner, owner)
        for c in body.where:
            sides = set()
            for a, cn in c.refs():
                sides.add(
                    "inner"
                    if inner_owner(Col(a, cn)) is not None
                    else "outer"
                )
            if sides <= {"inner"}:
                inner_only.append(c)
                continue
            ok = (
                isinstance(c, Cmp)
                and isinstance(c.left, Col)
                and isinstance(c.right, Col)
            )
            if ok:
                lo, ro = inner_owner(c.left), inner_owner(c.right)
                if (lo is None) == (ro is None):
                    ok = False
            if not ok:
                raise UnsupportedSqlError(
                    "EXISTS supports inner-local predicates and "
                    "Col-Col correlation only"
                )
            outer_c, inner_c, owner = (
                (c.right, c.left, lo)
                if lo is not None
                else (c.left, c.right, ro)
            )
            corr.append((c, outer_c, inner_c, owner))
        if not corr:
            # uncorrelated multi-table [NOT] EXISTS (round 9): the
            # body plans as a one-column constant view (DISTINCT
            # caps it at one row) and the Exists rewrites to the
            # keyless shape build_context plans as a broadcast
            # LIMIT-1 gate — same path as the single-table
            # uncorrelated form.
            from sparksqlplus_spark.expressions import Lit

            view = QuerySpec(
                select=[SelectItem(Lit(1, "int"), "__x0")],
                distinct=True,
                from_items=body.from_items,
                where=inner_only,
            )
            df = self._plan_spec(
                view, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
            self._view_counter += 1
            vname = f"__exv{self._view_counter}"
            self.catalog.register_df(vname, df, ())
            ephemeral.append(vname)
            return (
                Exists(
                    vname, f"{vname}_i", (),
                    negated=cond.negated, null_aware=False,
                ),
                ephemeral,
            )

        # project exactly the correlated inner columns, DISTINCT
        proj: dict[tuple[str, str], str] = {}
        for _, _, inner_c, owner in corr:
            proj.setdefault((owner, inner_c.name), f"__x{len(proj)}")
        view = QuerySpec(
            select=[
                SelectItem(Col(a, cn), out)
                for (a, cn), out in proj.items()
            ],
            distinct=True,
            from_items=body.from_items,
            where=inner_only,
        )
        df = self._plan_spec(
            view, mode=mode, cyclic_strategy=cyclic_strategy,
            count_mode=count_mode, ansi=True,
        )
        self._view_counter += 1
        vname = f"__exv{self._view_counter}"
        self.catalog.register_df(vname, df, ())
        ephemeral.append(vname)
        valias = f"{vname}_i"
        lifted_conds = []
        for c, outer_c, inner_c, owner in corr:
            vcol = Col(valias, proj[(owner, inner_c.name)])
            if c.left is inner_c:
                lifted_conds.append(Cmp(c.op, vcol, outer_c))
            else:
                lifted_conds.append(Cmp(c.op, outer_c, vcol))
        return (
            Exists(
                vname, valias, tuple(lifted_conds),
                negated=cond.negated, null_aware=False,
            ),
            ephemeral,
        )

    def _lift_or_exists(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> list[str]:
        """[NOT] EXISTS nested under OR (round 9; any non-top-level
        position in a WHERE conjunct) rewrites to a LEFT-JOIN flag:
        the subquery's DISTINCT correlation-key view left-joins onto
        the query (distinct keys, so no row duplication — one
        broadcast-able equi-join per EXISTS), and the Exists node
        becomes ``flag IS [NOT] NULL``. ``P OR EXISTS(...)`` then
        evaluates row-at-a-time like any other disjunction, which a
        single semi/anti join cannot express. Uncorrelated EXISTS
        under OR folds at plan time via the same LIMIT-1 probe the
        keyless SemiFilter uses (a constant, like _fold_scalars'
        literal fold). Queries using this lift get ANSI bag semantics
        (extension surface, same rationale as composite views —
        _run_outer's phase-3 tail plans the flags). A single-probe
        NOT IN (column or constant probe, uncorrelated or with a
        correlated WHERE) becomes the three-valued flag of
        plans/not_in.py; EXISTS may have a join body (composite-view
        rewrite, then this lift), one keyed non-equality correlation
        (_or_exists_noneq_flag) or keyless ones (the global folds);
        row-value NOT IN takes 2-4 columns (_rowvalue_not_in_or_flag).
        Out of subset (fallback): keyed multi-comparison shapes,
        expression probes, row-value NOT IN with a correlated WHERE,
        and 5+-column row-value NOT IN. Returns ephemeral view
        names."""
        from pyspark.sql import functions as F

        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import (
            Cmp,
            Col,
            Exists,
            IsNull,
            Lit,
            map_expr,
        )
        from sparksqlplus_spark.parser.sql import (
            FromItem,
            OuterJoin,
            QuerySpec,
            SelectItem,
        )

        def has_nested_exists(c) -> bool:
            hit = False

            def probe(n):
                nonlocal hit
                if isinstance(n, Exists):
                    hit = True
                return None

            map_expr(c, probe)
            return hit

        # round 10: EXISTS also appears in SELECT items (the parser
        # wraps it in a two-valued CaseWhen) — the same flag-join lift
        # turns it into a projectable boolean
        if not any(
            has_nested_exists(c)
            for c in spec.where
            if not isinstance(c, Exists)
        ) and not any(has_nested_exists(si.expr) for si in spec.select):
            return []
        taken = {fi.alias for fi in spec.from_items} | {
            oj.item.alias for oj in spec.outer_joins
        }
        ephemeral: list[str] = []

        def lift(ex: Exists):
            if not isinstance(ex, Exists):
                return None
            if ex.body is not None:
                # round 10: EXISTS with a join body under OR — the body
                # plans as a composite DISTINCT view through the same
                # rewrite the top-level conjunct path uses, then the
                # lift continues on the returned single-table form.
                # Non-equality correlation lifted out of the body flows
                # into the aggregated-flag path below.
                ex, eph = self._exists_body_rewrite(
                    ex, taken, mode=mode,
                    cyclic_strategy=cyclic_strategy, count_mode=count_mode,
                )
                ephemeral.extend(eph)
            if ex.table_alias in taken:
                raise UnsupportedSqlError(
                    f"EXISTS alias {ex.table_alias!r} shadows an outer alias"
                )
            try:
                inner_cols = set(self.catalog.get(ex.table).column_names)
            except UnknownTableError as exc:
                raise UnsupportedSqlError(str(exc)) from None

            def is_inner(a: str, cn: str) -> bool:
                return a == ex.table_alias or (a == "" and cn in inner_cols)

            inner_only: list = []
            keys: list[tuple] = []  # (outer Col, inner column name)
            noneq: list[tuple] = []  # (op, outer Col, inner column name)
            n_corr_keys = 0  # equality keys NOT from the probe conjuncts
            # op oriented as <inner col> op <outer col>
            for idx, c in enumerate(ex.conds):
                sides = {
                    "inner" if is_inner(a, cn) else "outer"
                    for a, cn in c.refs()
                }
                if sides <= {"inner"}:
                    inner_only.append(c)
                    continue
                if not (isinstance(c, Cmp) and sides == {"inner", "outer"}):
                    raise UnsupportedSqlError(
                        "EXISTS under OR supports inner-local predicates "
                        "and binary correlation comparisons only"
                    )

                def _inner_col(side) -> bool:
                    return isinstance(side, Col) and is_inner(
                        side.alias, side.name
                    )

                def _outer_only(side) -> bool:
                    return all(
                        not is_inner(a, cn) for a, cn in side.refs()
                    )

                left_inner = _inner_col(c.left)
                if c.op == "=":
                    # equality keys stay Col-Col (they become the flag
                    # view's join columns)
                    if not (
                        isinstance(c.left, Col) and isinstance(c.right, Col)
                    ):
                        raise UnsupportedSqlError(
                            "equality correlation under OR must be "
                            "column = column"
                        )
                    if left_inner:
                        keys.append((c.right, c.left.name))
                    else:
                        keys.append((c.left, c.right.name))
                    if idx >= ex.n_probe:
                        n_corr_keys += 1
                elif left_inner and _outer_only(c.right):
                    # the OUTER side may be any outer-only expression —
                    # it only ever appears inside the witness Cmp
                    # against a per-key or global extreme (late r10)
                    noneq.append((c.op, c.right, c.left.name))
                elif _inner_col(c.right) and _outer_only(c.left):
                    from sparksqlplus_spark.expressions import CMP_FLIP

                    noneq.append((CMP_FLIP[c.op], c.left, c.right.name))
                else:
                    raise UnsupportedSqlError(
                        "correlation under OR needs a bare inner column "
                        "on one side and an outer-only term on the other"
                    )
            if ex.null_aware and ex.negated and (
                n_corr_keys or noneq or ex.n_probe == 1
            ):
                # single-probe NOT IN under OR: the three-valued flag
                # over the inner set's facts (plans/not_in.py), per
                # group for a correlated WHERE (folding the group key
                # into the probe row-value would change the NULL
                # semantics: the inner set is per-group), one global
                # row for an uncorrelated set. Row-value probes with a
                # correlated WHERE ride the fallback.
                if ex.n_probe != 1 or len(keys) - n_corr_keys > 1:
                    raise UnsupportedSqlError(
                        "row-value NOT IN with a correlated WHERE "
                        "under OR is not planned natively"
                    )
                not_in_family(nq[0] for nq in noneq)
                n_probe_keys = len(keys) - n_corr_keys
                return self._not_in_or_flag(
                    ex,
                    keys[0] if n_probe_keys == 1 else None,
                    keys[n_probe_keys:],
                    inner_only,
                    spec,
                    ephemeral,
                    noneq,
                )
            if noneq:
                # round 10 (r9 verdict item 8): ONE non-equality
                # correlation composes via a per-key AGGREGATE flag
                # view — EXISTS(i: i.c < o.e) per key group is exactly
                # MIN(i.c) < o.e (MAX for >/>=; <> needs min+max:
                # some value differs iff an extreme does). The view
                # stays one row per key, so the LEFT flag join never
                # duplicates. Keyed two+ non-eq conjuncts ride the
                # fallback (min/max of different columns lose the
                # single-witness requirement); keyless ones fold below.
                # (A NOT IN with non-equality correlation is planned
                # above.)
                if len(noneq) in (2, 3, 4, 5) and keys:
                    # KEYED multi-comparison OR'd-EXISTS has no native
                    # plan in any mode: Catalyst's own decorrelation
                    # measured 1.8-4.7x faster at sf0.1 AND 10x, high-
                    # and low-cardinality dims alike (SCALING.md
                    # round-14 A/B). needs_distinct=False: a lifted
                    # statement is ANSI bag (ephemeral flag views force
                    # is_full), so the verbatim fallback already matches
                    raise RoutedToFallback(
                        "keyed multi-comparison EXISTS under OR runs on "
                        "the spark.sql fallback in every mode (Catalyst "
                        "decorrelation measured faster — SCALING.md "
                        "round-14 A/B)",
                        needs_distinct=False,
                    )
                # KEYLESS multi-comparison folds stay native in every
                # mode (Catalyst nested-loops keyless inequality
                # correlation — 33x slower at 10x, gap widening)
                ops = sorted(nq[0] for nq in noneq)
                if len(noneq) in (2, 3, 4, 5) and all(
                    o in ("<", "<=", ">", ">=") for o in ops
                ):
                    # TWO to FIVE order comparisons fold the GLOBAL k-D
                    # skyline (the 2-D staircase at k = 2; merge cap
                    # tightened at 4-D)
                    return self._keyless_sky_fold(
                        ex, noneq, inner_only, spec, ephemeral
                    )
                if len(noneq) == 2:
                    if ops.count("<>") == 1:
                        # <> + order: the global argmax/runner-up fold
                        neq = next(n for n in noneq if n[0] == "<>")
                        order = next(n for n in noneq if n[0] != "<>")
                        return self._keyless_neq_order_fold(
                            ex, neq, order, inner_only
                        )
                    # round 13: <> + <> — the diagonal-witness
                    # statistic from 1-3 plan-time scalar jobs
                    return self._keyless_neq_pair_fold(
                        ex, noneq, inner_only
                    )
                if len(noneq) == 3 and ops.count("<>") == 1:
                    # round 14: ONE <> + TWO order comparisons — the U/V
                    # two-staircase statistic folded globally
                    # (global_neq_order2_points)
                    return self._keyless_neq_order2_fold(
                        ex, noneq, inner_only, spec, ephemeral
                    )
                if len(noneq) == 3 and ops.count("<>") == 2:
                    # round 14: TWO <> + ONE order comparison — the
                    # prefix-diagonal-stats array folded globally
                    # (global_neq2_order_entries); 3-<> triples stay
                    # on the fallback (no constant-size statistic —
                    # see SURVEY)
                    return self._keyless_neq2_order_fold(
                        ex, noneq, inner_only, spec, ephemeral
                    )
                if len(noneq) > 1:
                    raise UnsupportedSqlError(
                        "keyless multi-comparison EXISTS under OR plans "
                        "natively for 2-5 order comparisons (global "
                        "skyline), a <> pair or <> + order pair, and "
                        "triples with one or two <> only"
                    )
                if not keys:
                    # keyless non-equality correlation (late round 10):
                    # EXISTS(i: i.c OP o.e) over the WHOLE filtered
                    # inner table reduces to a comparison against the
                    # GLOBAL extreme — a witness below o.e exists iff
                    # MIN(i.c) is one (MAX for >/>=, both for <>).
                    # One scalar aggregate at plan time, the same
                    # metadata-scale class as the const-probe stats;
                    # a NULL outer operand folds to the miss value
                    # through the CASE (EXISTS is two-valued).
                    from decimal import Decimal

                    from sparksqlplus_spark.expressions import (
                        CaseWhen,
                        OrCond,
                    )

                    op, oc_out, ne_col = noneq[0]
                    if op not in ("<", "<=", ">", ">=", "<>"):
                        raise UnsupportedSqlError(
                            f"correlation op {op!r} under OR is not in "
                            "the subset"
                        )
                    inner = self._filtered_inner(ex, inner_only)
                    row = inner.agg(
                        F.min(ne_col).alias("mn"),
                        F.max(ne_col).alias("mx"),
                    ).collect()[0]
                    mn, mx = row["mn"], row["mx"]
                    if mn is None:
                        # empty / all-NULL inner: no witness exists
                        return Lit(ex.negated, "boolean")

                    def lit_of(v):
                        if isinstance(v, Decimal):
                            v = float(v)
                        if isinstance(v, bool):
                            return Lit(v, "boolean")
                        if isinstance(v, float):
                            return Lit(v, "double")
                        if isinstance(v, int):
                            return Lit(v, "bigint")
                        return Lit(v, "str")

                    if op in ("<", "<="):
                        cmp = Cmp(
                            ">" if op == "<" else ">=", oc_out, lit_of(mn)
                        )
                    elif op in (">", ">="):
                        cmp = Cmp(
                            "<" if op == ">" else "<=", oc_out, lit_of(mx)
                        )
                    elif mn == mx:
                        cmp = Cmp("<>", oc_out, lit_of(mn))
                    else:
                        cmp = OrCond(
                            (
                                Cmp("<>", oc_out, lit_of(mn)),
                                Cmp("<>", oc_out, lit_of(mx)),
                            )
                        )
                    return CaseWhen(
                        ((cmp, Lit(not ex.negated, "boolean")),),
                        Lit(ex.negated, "boolean"),
                    )
                return self._or_exists_noneq_flag(
                    ex, keys, noneq[0], inner_only, spec, ephemeral
                )
            if not keys:
                # uncorrelated: constant gate, folded at plan time
                # (LIMIT-1 probe — the scan short-circuits).
                #
                # A single-probe NOT IN is planned above; a constant
                # row-value probe is three-valued too, so folding it
                # two-valued here would be wrong: it rides the fallback
                if ex.null_aware and ex.negated:
                    raise UnsupportedSqlError(
                        "constant row-value NOT IN (subquery) under OR "
                        "is three-valued; not planned natively"
                    )
                inner = self._filtered_inner(ex, inner_only)
                val = bool(inner.limit(1).count())
                return Lit(val != ex.negated, "boolean")

            view_sel: dict[str, str] = {}
            for _, icol in keys:
                view_sel.setdefault(icol, f"__f{len(view_sel)}")
            view = QuerySpec(
                select=[
                    SelectItem(Col(ex.table_alias, icol), out)
                    for icol, out in view_sel.items()
                ],
                distinct=True,
                from_items=[
                    FromItem(alias=ex.table_alias, table=ex.table)
                ],
                where=list(inner_only),
            )
            df = self._plan_spec(
                view, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
            self._view_counter += 1
            vname = f"__orx{self._view_counter}"
            self.catalog.register_df(vname, df, ())
            ephemeral.append(vname)
            valias = f"{vname}_i"
            spec.outer_joins.append(
                OuterJoin(
                    item=FromItem(alias=valias, table=vname),
                    conds=[
                        Cmp("=", oc, Col(valias, view_sel[icol]))
                        for oc, icol in keys
                    ],
                    side="left",
                )
            )
            flag = Col(valias, view_sel[keys[0][1]])
            if ex.null_aware and ex.negated:
                # row-value NOT IN under OR: a THREE-VALUED flag
                # (Spark's OR propagates UNKNOWN natively) from
                # NULL-pattern-decomposed flag joins beside the
                # full-match join appended above (census-pruned; a
                # NULL-free inner side, the common case, emits 2^k-2
                # flag joins: 14 at k=4)
                if len(keys) in (2, 3, 4):
                    return self._rowvalue_not_in_or_flag(
                        ex, keys, inner_only, spec, ephemeral,
                        matched_flag=flag,
                    )
                raise UnsupportedSqlError(
                    "row-value NOT IN under OR supports 2-4 column "
                    "probes (the NULL-pattern flag decomposition grows "
                    "as 2^k branches per census pattern)"
                )
            return IsNull(flag, negated=not ex.negated)

        try:
            spec.where = [
                c if isinstance(c, Exists) else map_expr(c, lift)
                for c in spec.where
            ]
            for si in spec.select:
                si.expr = map_expr(si.expr, lift)
        except Exception:
            # a later Exists in the same WHERE may reject after earlier
            # ones registered flag views — unregister them here, since
            # on a raise the caller never receives the name list
            for n in ephemeral:
                self.catalog.unregister(n)
            raise
        return ephemeral

    def _filtered_inner(self, ex, conds) -> DataFrame:
        """The EXISTS/IN subquery's table with its inner-local
        predicates applied (columns resolve bare or via the subquery
        alias)."""
        inner = self.catalog.get(ex.table).load(self.spark)
        imap = {("", cn): cn for cn in inner.columns}
        imap.update({(ex.table_alias, cn): cn for cn in inner.columns})
        for c in conds:
            inner = inner.filter(c.to_spark(imap))
        return inner

    def _or_exists_noneq_flag(
        self, ex, keys, nq, inner_only, spec, ephemeral
    ):
        """One non-equality correlation under OR'd [NOT] EXISTS
        (round 10, r9 verdict item 8 — the Q21-shaped ``l2.suppkey <>
        l1.suppkey`` predicate): plan a per-key AGGREGATE flag view.
        ``EXISTS(i: i.c OP o.e)`` within the key group holds iff an
        extreme value does — MIN for </<=, MAX for >/>=, and for <>
        "some value differs" iff MIN differs or MAX differs. GROUP BY
        keeps the view one row per key, so the LEFT flag join never
        duplicates outer rows; the join is broadcastable like the
        DISTINCT-key flag views. EXISTS stays two-valued: a NULL
        extreme (all-NULL group) or a NULL outer operand means "no
        witness" — the CASE wrapper folds UNKNOWN to the miss value."""
        from pyspark.sql import functions as F

        from sparksqlplus_spark.expressions import (
            AndCond,
            CaseWhen,
            Cmp,
            Col,
            IsNull,
            Lit,
            OrCond,
        )
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin

        op, oc_out, ne_col = nq
        if op not in ("<", "<=", ">", ">=", "<>"):
            raise UnsupportedSqlError(
                f"correlation op {op!r} under OR is not in the subset"
            )
        inner = self._filtered_inner(ex, inner_only)
        key_sel: dict[str, str] = {}
        for _, icol in keys:
            key_sel.setdefault(icol, f"__f{len(key_sel)}")
        aggs = []
        if op in ("<", "<=", "<>"):
            aggs.append(F.min(ne_col).alias("__mn"))
        if op in (">", ">=", "<>"):
            aggs.append(F.max(ne_col).alias("__mx"))
        view = inner.groupBy(
            *[F.col(icol).alias(out) for icol, out in key_sel.items()]
        ).agg(*aggs)
        self._view_counter += 1
        vname = f"__orx{self._view_counter}"
        self.catalog.register_df(vname, view, tuple(key_sel.values()))
        ephemeral.append(vname)
        valias = f"{vname}_i"
        spec.outer_joins.append(
            OuterJoin(
                item=FromItem(alias=valias, table=vname),
                conds=[
                    Cmp("=", oc, Col(valias, key_sel[icol]))
                    for oc, icol in keys
                ],
                side="left",
            )
        )
        matched = IsNull(Col(valias, key_sel[keys[0][1]]), negated=True)
        if op == "<>":
            witness = OrCond(
                (
                    Cmp("<>", Col(valias, "__mn"), oc_out),
                    Cmp("<>", Col(valias, "__mx"), oc_out),
                )
            )
        elif op in ("<", "<="):
            witness = Cmp(op, Col(valias, "__mn"), oc_out)
        else:
            witness = Cmp(op, Col(valias, "__mx"), oc_out)
        raw = AndCond((matched, witness))
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        return CaseWhen(((raw, hit),), miss)

    def _keyless_neq_order2_fold(
        self, ex, noneq, inner_only, spec, ephemeral
    ):
        """KEYLESS ``a <> d1 AND b OP2 d2 AND c OP3 d3`` under OR'd
        [NOT] EXISTS (round 14 — closes a standing fallback cell in
        the regime where native wins: Catalyst nested-loops keyless
        inequality correlation, 33x slower at 10x per the r14 A/B).
        The keyed U/V statistic folds GLOBALLY
        (plans/frontier.py:global_neq_order2_points — (a, b) -> best-c
        pre-reduction, capped take, the same pure sweep driver-side)
        and inlines as a one-row view joined unconditionally; the
        probe is the UNCHANGED expressions.NeqTripleWitness. Integral
        order dims only (the fold raises otherwise, riding
        mode='auto')."""
        from sparksqlplus_spark.expressions import (
            CaseWhen,
            Col,
            Lit,
            NeqTripleWitness,
        )
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin
        from sparksqlplus_spark.plans.frontier import (
            KEYLESS_FRONTIER_CAP,
            canon_float_neq_dims,
            global_neq_order2_points,
            neq_triple_one_row_df,
        )

        (_, d1e, a_col) = next(t for t in noneq if t[0] == "<>")
        (op2, d2e, b_col), (op3, d3e, c_col) = [
            t for t in noneq if t[0] != "<>"
        ]
        # float <>-dims embed via neq_canon on BOTH sides
        inner, [(a_col, d1e)] = canon_float_neq_dims(
            self._filtered_inner(ex, inner_only), [(a_col, d1e)]
        )
        u_rows, v_pts, (a_dt, u_dt, v_dt) = global_neq_order2_points(
            inner, a_col, b_col, c_col, (op2, op3),
            KEYLESS_FRONTIER_CAP,
        )
        view = neq_triple_one_row_df(
            self.spark, u_rows, v_pts, a_dt, u_dt, v_dt
        )
        self._view_counter += 1
        vname = f"__orx{self._view_counter}"
        self.catalog.register_df(vname, view, ())
        ephemeral.append(vname)
        valias = f"{vname}_i"
        spec.outer_joins.append(
            OuterJoin(
                item=FromItem(alias=valias, table=vname),
                conds=[],
                side="left",
                allow_uncorrelated=True,
            )
        )
        witness = NeqTripleWitness(
            Col(valias, "__upts"),
            Col(valias, "__vpts"),
            d1e, op2, d2e, op3, d3e,
        )
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        return CaseWhen(((witness, hit),), miss)

    def _keyless_neq2_order_fold(
        self, ex, noneq, inner_only, spec, ephemeral
    ):
        """KEYLESS ``a <> d1 AND b <> d2 AND c OP3 d3`` under OR'd
        [NOT] EXISTS (round 14 — sibling of _keyless_neq_order2_fold):
        the prefix-diagonal-stats array folds GLOBALLY
        (plans/frontier.py:global_neq2_order_entries) into a one-row
        view, probed by the unchanged expressions.Neq2OrderWitness.
        Integral order dim only (the fold raises otherwise, riding
        mode='auto')."""
        from sparksqlplus_spark.expressions import (
            CaseWhen,
            Col,
            Lit,
            Neq2OrderWitness,
        )
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin
        from sparksqlplus_spark.plans.frontier import (
            KEYLESS_FRONTIER_CAP,
            canon_float_neq_dims,
            global_neq2_order_entries,
            neq2_order_one_row_df,
        )

        neqs = [t for t in noneq if t[0] == "<>"]
        (_, d1e, a_col), (_, d2e, b_col) = neqs
        (op3, d3e, c_col) = next(t for t in noneq if t[0] != "<>")
        # float <>-dims embed via neq_canon on BOTH sides
        inner, [(a_col, d1e), (b_col, d2e)] = canon_float_neq_dims(
            self._filtered_inner(ex, inner_only), [(a_col, d1e), (b_col, d2e)]
        )
        entries, (a_dt, b_dt, c_dt) = global_neq2_order_entries(
            inner, a_col, b_col, c_col, op3,
            KEYLESS_FRONTIER_CAP,
        )
        view = neq2_order_one_row_df(
            self.spark, entries, a_dt, b_dt, c_dt
        )
        self._view_counter += 1
        vname = f"__orx{self._view_counter}"
        self.catalog.register_df(vname, view, ())
        ephemeral.append(vname)
        valias = f"{vname}_i"
        spec.outer_joins.append(
            OuterJoin(
                item=FromItem(alias=valias, table=vname),
                conds=[],
                side="left",
                allow_uncorrelated=True,
            )
        )
        witness = Neq2OrderWitness(
            Col(valias, "__npts"), d1e, d2e, op3, d3e
        )
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        return CaseWhen(((witness, hit),), miss)

    def _keyless_sky_fold(self, ex, noneq, inner_only, spec, ephemeral):
        """KEYLESS two-to-five order-comparison correlations under
        OR'd [NOT] EXISTS: ``P OR EXISTS(i: i.a < o.x AND i.b > o.y
        ...)``. A raw witness row exists iff a point of the GLOBAL
        Pareto skyline (the 2-D staircase at k = 2) satisfies all
        comparisons (plans/frontier.py:global_skyline_points —
        per-Arrow-batch skylines + a capped driver-side merge
        re-running the same sweep, the metadata-scale-collect class;
        never a single-partition window), inlined as a one-row view
        joined unconditionally and probed JVM-side by
        expressions.SkyWitness — the reference's TreeLikeArray (SURVEY
        R9/R12) as a one-row ARRAY column. Non-default string
        collations and over-cap skylines raise RoutedToFallback inside
        the fold and ride mode='auto'."""
        from sparksqlplus_spark.expressions import CaseWhen, Col, Lit, SkyWitness
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin
        from sparksqlplus_spark.plans.frontier import (
            KEYLESS_FRONTIER_CAP,
            global_skyline_points,
            skyline_one_row_df,
        )

        sky_ops = tuple(t[0] for t in noneq)
        sky_outs = tuple(t[1] for t in noneq)
        sky_cols = tuple(t[2] for t in noneq)
        inner = self._filtered_inner(ex, inner_only)
        pts, types = global_skyline_points(
            inner, sky_cols, sky_ops, KEYLESS_FRONTIER_CAP,
        )
        view = skyline_one_row_df(self.spark, pts, types)
        self._view_counter += 1
        vname = f"__orx{self._view_counter}"
        self.catalog.register_df(vname, view, ())
        ephemeral.append(vname)
        valias = f"{vname}_i"
        spec.outer_joins.append(
            OuterJoin(
                item=FromItem(alias=valias, table=vname),
                conds=[],
                side="left",
                allow_uncorrelated=True,
            )
        )
        # the one-row view always attaches; an EMPTY skyline makes
        # F.exists false -> the miss value, exactly the fold
        witness = SkyWitness(Col(valias, "__pts"), sky_ops, sky_outs)
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        return CaseWhen(((witness, hit),), miss)

    def _keyless_neq_order_fold(self, ex, neq, order, inner_only):
        """KEYLESS ``<>`` + order comparison under OR'd [NOT] EXISTS
        (round 12): the global 3-stat fold — the 2-D analogue of the
        keyless single-comparison global-MIN/MAX fold. One plan-time
        TakeOrderedAndProject job (top-2 distinct-a groups by best b)
        gives b1/a1/multi/b2; the witness folds to a literal
        comparison tree evaluated per outer row:

          (b1 OP y AND (multi OR a1 <> x)) OR (a1 = x AND b2 OP y)

        Same metadata-scale-collect class as the const-probe stats
        gates. Dtypes: the ORDER dim stays integral/date/timestamp
        (Spark's NaN-is-largest tie rule has no exact Python analogue
        for the argmax-uniqueness check); the <>-dim takes any
        class-bookkeeping-safe type — floats embed via neq_canon
        (round 15). Round 13 (late): the stat job lives in
        plans/frontier.py:keyless_neq_order_stats, shared with the
        keyless NOT IN executors."""
        from sparksqlplus_spark.expressions import (
            AndCond,
            CaseWhen,
            Cmp,
            IsNull,
            Lit,
            OrCond,
        )
        from sparksqlplus_spark.plans.frontier import (
            canon_float_neq_dims,
            keyless_neq_order_stats,
        )

        _, x_out, a_col = neq
        op_b, y_out, b_col = order
        # a float <>-dim embeds via neq_canon on BOTH sides (only the
        # ORDER dim keeps the exact gate — the argmax uniqueness check
        # compares collected b values in Python)
        inner, [(a_col, x_out)] = canon_float_neq_dims(
            self._filtered_inner(ex, inner_only), [(a_col, x_out)]
        )
        stats = keyless_neq_order_stats(inner, a_col, b_col, op_b)
        if stats is None:
            return Lit(bool(ex.negated), "boolean")
        lit_of = _lit_of
        b1, a1, multi, b2 = stats
        first = Cmp(op_b, lit_of(b1), y_out)
        if multi:
            # some argmax differs from any NON-NULL x — but a NULL x
            # makes `a <> x` UNKNOWN for EVERY row, so the witness
            # must still require x IS NOT NULL
            first = AndCond((first, IsNull(x_out, negated=True)))
        else:
            first = AndCond((first, Cmp("<>", lit_of(a1), x_out)))
        terms = [first]
        if not multi and b2 is not None:
            terms.append(
                AndCond(
                    (
                        Cmp("=", lit_of(a1), x_out),
                        Cmp(op_b, lit_of(b2), y_out),
                    )
                )
            )
        witness = terms[0] if len(terms) == 1 else OrCond(tuple(terms))
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        return CaseWhen(((witness, hit),), miss)

    def _keyless_neq_pair_fold(self, ex, noneq, inner_only):
        """KEYLESS ``<>``-with-``<>`` under OR'd [NOT] EXISTS (round
        13): the global fold of the diagonal-witness statistic
        (exactness lemma: plans/frontier.py:keyless_diag_stats). 1-3
        plan-time scalar aggregate
        jobs (metadata-scale collects — the _keyless_neq_order_fold
        class) compute (da, db, ua, ub) and, in the diagonal case, the
        chosen pair's cross points and witness bits; the Exists then
        folds to a literal comparison tree evaluated per outer row.
        Dtypes: both dims are equality-only <>-dims, so any
        class-bookkeeping-safe type works — floats embed via
        neq_canon (round 15). Round 13 (late): the stat jobs live
        in plans/frontier.py:keyless_diag_stats, shared with the
        keyless NOT IN executors."""
        from sparksqlplus_spark.expressions import (
            AndCond,
            CaseWhen,
            Cmp,
            IsNull,
            Lit,
            OrCond,
        )
        from sparksqlplus_spark.plans.frontier import (
            canon_float_neq_dims,
            keyless_diag_stats,
        )

        (_, x_out, a_col), (_, y_out, b_col) = noneq
        # float <>-dims embed via neq_canon on BOTH sides (both dims
        # here are equality-only <>-dims)
        inner, [(a_col, x_out), (b_col, y_out)] = canon_float_neq_dims(
            self._filtered_inner(ex, inner_only), [(a_col, x_out), (b_col, y_out)]
        )
        lit_of = _lit_of
        hit = Lit(not ex.negated, "boolean")
        miss = Lit(bool(ex.negated), "boolean")
        stats = keyless_diag_stats(inner, a_col, b_col)
        if stats is None:
            return Lit(bool(ex.negated), "boolean")
        if stats[0] == "single":
            # single-a: witness iff ua <> x (forces x non-NULL) and
            # some b differs — db >= 2 needs only y non-NULL, db == 1
            # needs ub <> y (which forces it). Symmetric single-b
            # (da >= 2 there, so a <> x is free given x non-NULL).
            _, da, db, ua, ub = stats
            conds = []
            if da == 1:
                conds.append(Cmp("<>", lit_of(ua), x_out))
            else:
                conds.append(IsNull(x_out, negated=True))
            if db == 1:
                conds.append(Cmp("<>", lit_of(ub), y_out))
            else:
                conds.append(IsNull(y_out, negated=True))
            return CaseWhen(((AndCond(tuple(conds)), hit),), miss)
        _, pa, pb, qa, qb, w1, w2 = stats
        cross = []
        if w1 == 0:
            cross.append(
                AndCond(
                    (Cmp("=", x_out, lit_of(pa)), Cmp("=", y_out, lit_of(qb)))
                )
            )
        if w2 == 0:
            cross.append(
                AndCond(
                    (Cmp("=", x_out, lit_of(qa)), Cmp("=", y_out, lit_of(pb)))
                )
            )
        branches = [
            (OrCond((IsNull(x_out), IsNull(y_out))), miss),
        ]
        if cross:
            branches.append(
                (cross[0] if len(cross) == 1 else OrCond(tuple(cross)), miss)
            )
        return CaseWhen(tuple(branches), hit)

    def _not_in_or_flag(
        self, ex, probe_pair, corr, inner_only, spec, ephemeral, thrs,
    ):
        """Single-probe NOT IN under OR: ``P OR x NOT IN (SELECT y FROM
        t WHERE ...)`` becomes the three-valued flag of
        plans/not_in.py:not_in_flag, which Spark's OR evaluates row by
        row. Each view the flag needs registers as an ephemeral table
        and LEFT-joins onto the query (a keyless one-row view attaches
        unconditionally). ``corr`` holds the group equalities and
        ``thrs`` the threshold comparisons; ``probe_pair`` is (outer
        Col, inner column) for a column probe, or None when the probe
        is the constant conjunct sitting first in ``inner_only``
        (parser contract)."""
        from sparksqlplus_spark.expressions import Cmp, Col, const_expr
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin
        from sparksqlplus_spark.plans.not_in import not_in_flag

        inner_rest = list(inner_only)
        if probe_pair is None:
            probe_c = inner_rest[0] if inner_rest else None
            if not (
                isinstance(probe_c, Cmp)
                and probe_c.op == "="
                and isinstance(probe_c.left, Col)
                and const_expr(probe_c.right)
            ):
                raise UnsupportedSqlError(
                    "non-constant probe NOT IN (subquery) under OR is "
                    "three-valued; not planned natively"
                )
            probe_pair = (probe_c.right, probe_c.left.name)
            inner_rest = inner_rest[1:]

        def attach(view, pairs):
            self._view_counter += 1
            name = f"__nin{self._view_counter}"
            self.catalog.register_df(
                name, view, tuple(dict.fromkeys(c for _, c in pairs))
            )
            ephemeral.append(name)
            alias = f"{name}_i"
            spec.outer_joins.append(
                OuterJoin(
                    item=FromItem(alias=alias, table=name),
                    conds=[Cmp("=", o, Col(alias, c)) for o, c in pairs],
                    side="left",
                    allow_uncorrelated=not pairs,
                )
            )
            return alias

        return not_in_flag(
            self._filtered_inner(ex, inner_rest), probe_pair, corr, thrs,
            attach,
        )

    def _rowvalue_not_in_or_flag(
        self, ex, keys, inner_only, spec, ephemeral, matched_flag
    ):
        """Row-value NOT IN under OR (round 10 for k=2, r9 verdict
        item 6; round 13 generalized to k<=3): a THREE-VALUED flag via
        NULL-pattern decomposition, generalizing the single-key path.
        Per probe tuple:

          FALSE    iff some inner tuple fully matches (the all-key
                   equality LEFT JOIN the caller already appended —
                   ``matched_flag``; NULL-bearing view rows can never
                   equi-match, so it is exactly the non-null match);
          UNKNOWN  iff unmatched but some inner tuple is COMPATIBLE —
                   every position is probe-NULL, inner-NULL, or equal;
          TRUE     otherwise (incl. the empty set, folded plan-time).

        Compatibility cannot hash-join directly (the per-position OR),
        so it decomposes by the inner tuples' NULL pattern S and the
        probe's NULL positions: positions in neither are an equi join
        against the DISTINCT projection of the pattern's rows to e,
        probe-NULL positions gate the branch with IS NULL conjuncts.
        Every view is DISTINCT on its join columns — no duplication —
        and an all-NULL inner tuple short-circuits (every unmatched
        probe is UNKNOWN, no extra joins). The pattern census is one
        metadata-scale collect (≤2^k rows), same class as the
        single-key n/nn stats, and it PRUNES: only patterns present
        in the data emit branches. Round 13 generalized k=2 to k<=3;
        round 14 to k=4 (the last row-value fallback cell): a fully
        non-NULL inner side — the common case — emits 2^k-2 flag
        joins (6 at k=3, 14 at k=4); the every-pattern-present worst
        case is sum over patterns of 2^(non-null positions) ≈ 3^k
        joins (bounded, census-pruned, each a DISTINCT metadata-thin
        view), and an all-NULL inner tuple collapses the whole
        decomposition before any join; k>=5 stays on the fallback."""
        import functools
        import itertools

        from pyspark.sql import functions as F

        from sparksqlplus_spark.expressions import (
            AndCond,
            CaseWhen,
            Cmp,
            Col,
            IsNull,
            Lit,
            OrCond,
        )
        from sparksqlplus_spark.parser.sql import FromItem, OuterJoin

        k = len(keys)
        ovs = [ov for ov, _ in keys]
        ics = [ic for _, ic in keys]
        inner = self._filtered_inner(ex, inner_only)
        pats = {
            tuple(r[f"n{i}"] for i in range(k))
            for r in inner.groupBy(
                *[
                    F.col(ic).isNull().alias(f"n{i}")
                    for i, ic in enumerate(ics)
                ]
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        if not pats:
            # empty inner set keeps every probe; the appended M join
            # is a no-op against the empty view
            return Lit(True, "boolean")
        matched = IsNull(matched_flag, negated=True)
        if tuple([True] * k) in pats:
            return CaseWhen(
                ((matched, Lit(False, "boolean")),), Lit(None, "null")
            )

        def flag_join(df_view, cols, outer_cols):
            """LEFT-join a DISTINCT view (columns ``cols``, named
            __p0..) against the probe columns; returns the hit flag.
            DISTINCT on the full join key, so the join never
            duplicates outer rows."""
            self._view_counter += 1
            vname = f"__orx{self._view_counter}"
            self.catalog.register_df(vname, df_view, tuple(cols))
            ephemeral.append(vname)
            valias = f"{vname}_i"
            spec.outer_joins.append(
                OuterJoin(
                    item=FromItem(alias=valias, table=vname),
                    conds=[
                        Cmp("=", oc, Col(valias, c))
                        for oc, c in zip(outer_cols, cols)
                    ],
                    side="left",
                )
            )
            return IsNull(Col(valias, cols[0]), negated=True)

        branches = []
        for m in sorted(pats):
            comp = [i for i in range(k) if not m[i]]
            pat_cond = functools.reduce(
                lambda a, b: a & b,
                [
                    F.col(ic).isNull() if m[i] else F.col(ic).isNotNull()
                    for i, ic in enumerate(ics)
                ],
            )
            pat_rows = inner.filter(pat_cond)
            for r in range(len(comp) + 1):
                for e in itertools.combinations(comp, r):
                    if not any(m) and len(e) == k:
                        # full equality on a fully non-NULL tuple IS
                        # the matched flag the caller appended
                        continue
                    conds = [
                        IsNull(ovs[j]) for j in comp if j not in e
                    ]
                    if e:
                        view = pat_rows.select(
                            *[
                                F.col(ics[j]).alias(f"__p{i}")
                                for i, j in enumerate(e)
                            ]
                        ).distinct()
                        conds.append(
                            flag_join(
                                view,
                                [f"__p{i}" for i in range(len(e))],
                                [ovs[j] for j in e],
                            )
                        )
                    if not conds:
                        # comp empty is the all-NULL pattern,
                        # short-circuited above
                        continue
                    branches.append(
                        conds[0]
                        if len(conds) == 1
                        else AndCond(tuple(conds))
                    )
        whens = [(matched, Lit(False, "boolean"))]
        if branches:
            compat = (
                branches[0]
                if len(branches) == 1
                else OrCond(tuple(branches))
            )
            whens.append((compat, Lit(None, "null")))
        return CaseWhen(tuple(whens), Lit(True, "boolean"))

    def _expand_using(self, spec) -> None:
        """Resolve `JOIN ... USING (cols)` markers against the catalog
        (round 10; ANSI surface the reference's Calcite parser accepts
        but its planner never sees — our planner subset takes it
        natively). For each using column:

        - ONE qualified equi cond joins its unique owner in the left
          scope (everything joined before the item) to the joined item
          — the parser is schema-free, so owner election happens here;
        - an unqualified reference to the column elsewhere resolves to
          the join's PRESERVED side (left for inner/LEFT, right for
          RIGHT), which IS the ANSI coalesced column's value for those
          join types (matched rows carry equal values, unmatched
          preserved rows carry the preserved side's). FULL USING /
          NATURAL FULL — where BOTH sides are preserved — resolves the
          unqualified column to a genuine two-sided
          COALESCE(left.c, right.c) (late round 10; matches
          DuckDB/Spark's merged-column output).

        Mutates the spec in place. Conjuncts containing EXISTS or
        scalar subqueries are left untouched (their bodies open inner
        scopes this flat mapping must not reach); paths that bypass
        this pass leave markers behind and build_context rejects them,
        so auto mode falls back to spark.sql, which parses USING
        natively."""
        if not spec.using_joins and not any(
            oj.using is not None or oj.natural for oj in spec.outer_joins
        ):
            return
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import (
            Cmp,
            Col,
            Exists,
            Func,
            ScalarSubquery,
            map_expr,
        )
        from sparksqlplus_spark.parser.sql import CompoundSpec, QuerySpec

        def out_cols(fi) -> list[str]:
            if fi.values is not None:
                return list(fi.val_cols)
            if fi.col_aliases is not None:
                return list(fi.col_aliases)
            if fi.table is not None:
                try:
                    return list(self.catalog.get(fi.table).column_names)
                except UnknownTableError:
                    raise UnsupportedSqlError(
                        f"USING cannot resolve columns of {fi.table!r}"
                    ) from None
            sub = fi.subquery
            if isinstance(sub, CompoundSpec):
                sub = sub.parts[0]
            if not isinstance(sub, QuerySpec):
                raise UnsupportedSqlError(
                    "USING next to an opaque FROM item"
                )
            names: list[str] = []
            for si in sub.select:
                if si.alias:
                    names.append(si.alias)
                elif isinstance(si.expr, Col):
                    names.append(si.expr.name)
                else:
                    raise UnsupportedSqlError(
                        "USING next to a derived table with an unnamed "
                        "output column"
                    )
            return names

        scope: list[tuple[str, list[str]]] = []
        resolved: dict[str, object] = {}  # col -> replacement Expr

        def resolve(
            cols: list[str],
            right_alias: str,
            right_cols: list[str],
            preserved: str,
        ) -> list:
            conds = []
            for c in cols:
                if c not in right_cols:
                    raise UnsupportedSqlError(
                        f"USING column {c!r} missing from {right_alias!r}"
                    )
                owners = [a for a, cs in scope if c in cs]
                if len(owners) != 1:
                    raise UnsupportedSqlError(
                        f"USING column {c!r} is ambiguous or missing on "
                        "the left side"
                    )
                conds.append(
                    Cmp("=", Col(owners[0], c), Col(right_alias, c))
                )
                if preserved == "full":
                    # both sides preserved — the ANSI merged column is a
                    # true two-sided coalesce
                    expr = Func(
                        "coalesce",
                        (Col(owners[0], c), Col(right_alias, c)),
                    )
                else:
                    owner = owners[0] if preserved == "left" else right_alias
                    expr = Col(owner, c)
                if resolved.setdefault(c, expr).key() != expr.key():
                    raise UnsupportedSqlError(
                        f"USING column {c!r} resolves differently across "
                        "joins"
                    )
            return conds

        using_by_alias: dict[str, list[list[str]]] = {}
        for ra, cols in spec.using_joins:
            using_by_alias.setdefault(ra, []).append(cols)
        # same placement rule the parser applies to ON conjuncts:
        # merged into WHERE unless a RIGHT/FULL outer join follows
        # (then they belong inside the outer join's left operand)
        merge_inner = all(
            oj.side in ("left", "inner") for oj in spec.outer_joins
        )
        def common_cols(right_cols: list[str]) -> list[str]:
            # NATURAL JOIN: every right column whose NAME appears
            # anywhere in the left scope (per-column uniqueness is then
            # enforced by resolve). Zero common names is rejected like
            # DuckDB/Spark do — the ANSI cross-join degenerate silently
            # rewards a typo'd table with a cartesian product
            out = [
                c
                for c in right_cols
                if any(c in cs for _, cs in scope)
            ]
            if not out:
                raise UnsupportedSqlError(
                    "NATURAL JOIN has no common columns"
                )
            return out

        # (alias, item columns, using cols merged at this item) in ANSI
        # left-to-right join order — feeds the merged-column star
        # expansion below
        seq: list[tuple[str, list[str], list[str]]] = []
        for fi in spec.from_items:
            fcols = out_cols(fi)
            ucols: list[str] = []
            for cols in using_by_alias.get(fi.alias, []):
                if cols is None:
                    cols = common_cols(fcols)
                conds = resolve(cols, fi.alias, fcols, "left")
                (spec.where if merge_inner else spec.inner_on).extend(conds)
                ucols.extend(cols)
            scope.append((fi.alias, fcols))
            seq.append((fi.alias, fcols, ucols))
        for oj in spec.outer_joins:
            ocols = out_cols(oj.item)
            ucols = []
            if oj.using is not None or oj.natural:
                cols = (
                    common_cols(ocols) if oj.natural else oj.using
                )
                preserved = (
                    "left"
                    if oj.side in ("left", "inner")
                    else "right" if oj.side == "right" else "full"
                )
                oj.conds.extend(
                    resolve(cols, oj.item.alias, ocols, preserved)
                )
                oj.using = None
                oj.natural = False
                ucols = list(cols)
            scope.append((oj.item.alias, ocols))
            seq.append((oj.item.alias, ocols, ucols))
        spec.using_joins = []
        self._expand_stars_merged(spec, seq, resolved)

        def opaque(node) -> bool:
            hit = False

            def probe(n):
                nonlocal hit
                if isinstance(n, (Exists, ScalarSubquery)):
                    hit = True
                return None

            map_expr(node, probe)
            return hit

        def sub(n):
            if (
                isinstance(n, Col)
                and n.alias == ""
                and n.name in resolved
            ):
                return resolved[n.name]
            return None

        def rw(node):
            return node if opaque(node) else map_expr(node, sub)

        for si in spec.select:
            old = si.expr
            si.expr = rw(si.expr)
            if (
                si.alias is None
                and isinstance(old, Col)
                and old.alias == ""
                and old.name in resolved
                and not isinstance(si.expr, Col)
            ):
                # a bare merged-column ref rewritten to COALESCE(l, r)
                # (FULL join) must keep its ANSI output NAME — without
                # the alias Spark synthesizes col0 (round-12 fix)
                si.alias = old.name
        spec.where = [rw(c) for c in spec.where]
        spec.inner_on = [rw(c) for c in spec.inner_on]
        spec.having = [rw(c) for c in spec.having]
        spec.qualify = [rw(c) for c in spec.qualify]
        spec.group_by = [rw(e) for e in spec.group_by]
        out_aliases = {si.alias for si in spec.select if si.alias}
        for oi in spec.order_by:
            if (
                isinstance(oi.expr, Col)
                and oi.expr.alias == ""
                and oi.expr.name in out_aliases
            ):
                continue  # output-alias ref — not a column of any scope
            oi.expr = rw(oi.expr)
        for oj in spec.outer_joins:
            oj.conds = [rw(c) for c in oj.conds]

    def _expand_stars_merged(self, spec, seq, resolved) -> None:
        """Expand SELECT ``*`` / ``a.*`` in a USING/NATURAL-join
        statement to the ANSI merged-column list (round 12; closes the
        star+USING+QUALIFY dead path — the QUALIFY/DISTINCT ON desugars
        project NAMED items, and the spark.sql fallback cannot parse
        those keywords). Per SQL standard 7.10 — and matching what
        spark.sql itself produces, so both paths agree column-for-
        column — each join's merged columns move to the FRONT of the
        accumulated output (shown ONCE, as the preserved side's value,
        or COALESCE(l, r) under FULL; ``resolved`` already holds
        exactly those exprs), the left occurrences drop out, and the
        right side's remaining columns append. A qualified ``a.*``
        keeps the side's own copies (ANSI: qualification reaches
        through the merge). NOTE DuckDB instead leaves merged columns
        in their left-side position — same names and values, different
        order; the driver compare sorts by name, so oracles agree.

        Mutates ``spec.select`` in place. No-op without stars; called
        by _expand_using once owner election and the merged exprs are
        final."""
        from sparksqlplus_spark.expressions import Col, Star as _Star

        def is_star(e) -> bool:
            return isinstance(e, _Star) or (
                isinstance(e, Col) and e.name == "*"
            )

        if not any(is_star(si.expr) for si in spec.select):
            return
        order: list[tuple[str | None, str]] | None = None

        def star_order() -> list[tuple[str | None, str]]:
            out: list[tuple[str | None, str]] = []
            for alias, cols, ucols in seq:
                if ucols:
                    merged = set(ucols)
                    out = (
                        [(None, c) for c in ucols]
                        + [e for e in out if e[1] not in merged]
                        + [(alias, c) for c in cols if c not in merged]
                    )
                else:
                    out.extend((alias, c) for c in cols)
            return out

        alias_cols = {alias: cols for alias, cols, _ in seq}
        new_sel: list = []
        for si in spec.select:
            e = si.expr
            if not is_star(e):
                new_sel.append(si)
                continue
            if si.alias:
                raise UnsupportedSqlError("cannot alias *")
            if isinstance(e, Col) and e.alias:
                if e.alias not in alias_cols:
                    raise UnsupportedSqlError(f"unknown alias {e.alias!r}")
                new_sel.extend(
                    type(si)(Col(e.alias, c), None)
                    for c in alias_cols[e.alias]
                )
                continue
            if order is None:
                order = star_order()
                names = [c for _, c in order]
                if len(set(names)) != len(names):
                    raise UnsupportedSqlError(
                        "SELECT * with duplicate column names across "
                        "FROM items; not in the subset"
                    )
            for a, c in order:
                if a is None:
                    new_sel.append(type(si)(resolved[c], c))
                else:
                    new_sel.append(type(si)(Col(a, c), None))
        spec.select[:] = new_sel

    @staticmethod
    def _apply_col_aliases(df: DataFrame, fi) -> DataFrame:
        """Positional <derived column list> renames: `(SELECT ...) AS
        t(a, b)` (round 10). A pure projection rename — Catalyst still
        sees through the view for pushdown."""
        if fi.col_aliases is None:
            return df
        if len(fi.col_aliases) != len(df.columns):
            raise UnsupportedSqlError(
                f"derived column list of {fi.alias} has "
                f"{len(fi.col_aliases)} names for {len(df.columns)} columns"
            )
        return df.toDF(*fi.col_aliases)

    def _plan_subqueries(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> list[str]:
        """Composite views (engine extension): any FROM-subquery that
        the narrow native shapes (derived filtered scan, C21 aggregated
        view) reject is planned RECURSIVELY through the full pipeline
        and registered as an ephemeral DataFrame-backed catalog table
        the outer query scans — so aggregates over joins, multi-level
        nesting, and (via their own planning) window/outer-join bodies
        all compose natively. The registration is plan-time only: the
        view is one lazy Spark plan Catalyst sees through (filters
        from the outer query still push into it), and the caller
        unregisters the returned names once the statement's DataFrame
        is built. Subquery results use ANSI bag semantics (pure SQL
        surface, same rationale as CompoundSpec). A GROUP BY on plain
        projected columns becomes the view's primary key (the planner's
        FD/broadcast hints); so does DISTINCT over all columns."""
        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import Col
        from sparksqlplus_spark.plans.context import _make_relation

        from sparksqlplus_spark.parser.sql import CompoundSpec

        ephemeral: list[str] = []
        for i, fi in enumerate(spec.from_items):
            if fi.values is not None:
                # inline VALUES table (round 10): literal rows live in
                # the statement text — build ONE array-of-structs
                # literal and F.inline it (a single LocalRelation leaf
                # after constant folding; no driver-side type
                # inference, Spark's own array coercion unifies the
                # row types exactly as a SQL inline table would)
                from pyspark.sql import functions as F

                structs = [
                    F.struct(
                        *[
                            e.to_spark({}).alias(c)
                            for e, c in zip(row, fi.val_cols)
                        ]
                    )
                    for row in fi.values
                ]
                df = self.spark.range(1).select(
                    F.inline(F.array(*structs))
                )
                self._view_counter += 1
                name = f"__view{self._view_counter}_{fi.alias}"
                self.catalog.register_df(
                    name, df, (), cardinality=len(fi.values)
                )
                ephemeral.append(name)
                fi.table = name
                fi.values = None
                continue
            if fi.subquery is None:
                continue
            if isinstance(fi.subquery, CompoundSpec):
                # compound (UNION/INTERSECT/EXCEPT) FROM subquery or
                # CTE body (round 10): plan through the compound
                # runner and register the result as an ephemeral view
                import copy

                df = self._run_compound(
                    copy.deepcopy(fi.subquery), mode=mode,
                    cyclic_strategy=cyclic_strategy, count_mode=count_mode,
                )
                df = self._apply_col_aliases(df, fi)
                self._view_counter += 1
                name = f"__view{self._view_counter}_{fi.alias}"
                self.catalog.register_df(name, df, ())
                ephemeral.append(name)
                fi.table = name
                fi.subquery = None
                continue
            if fi.col_aliases is None:
                try:
                    _make_relation(i, fi, self.catalog)
                    continue  # narrow native shape — tighter integration
                except (UnsupportedSqlError, UnknownTableError):
                    pass
            # CTE substitution can alias ONE QuerySpec object into
            # several FROM items, and recursive planning mutates the
            # spec in place — plan a private copy
            import copy

            sub = copy.deepcopy(fi.subquery)
            df = self._plan_spec(
                sub, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
            df = self._apply_col_aliases(df, fi)
            # PK inference from the sub-spec's shape
            pk: tuple[str, ...] = ()
            out_names: dict[str, str] = {}
            if fi.col_aliases is None:
                for si in sub.select:
                    if isinstance(si.expr, Col):
                        out_names[si.expr.key()] = si.alias or si.expr.name
            if sub.distinct:
                pk = tuple(df.columns)
            elif sub.group_by and sub.group_mode == "plain":
                keys = [e.key() for e in sub.group_by]
                if all(
                    isinstance(e, Col) for e in sub.group_by
                ) and all(k in out_names for k in keys):
                    pk = tuple(dict.fromkeys(out_names[k] for k in keys))
            if pk and not set(pk) <= set(df.columns):
                pk = ()
            self._view_counter += 1
            name = f"__view{self._view_counter}_{fi.alias}"
            self.catalog.register_df(name, df, pk)
            ephemeral.append(name)
            fi.table = name
            fi.subquery = None
        return ephemeral

    def _lift_cte_not_in(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> list[str]:
        """NOT IN over a CTE (round 13, r12 verdict item 4): the parser
        carries the substituted CTE body on Exists.cte_body (it cannot
        register views); plan that body as an ephemeral catalog view
        and rewrite the node to the plain single-table null-aware form
        — so build_context routes it through the THREE-VALUED
        SemiFilter exactly like a base-table NOT IN, in every position
        (top-level conjunct, under OR, SELECT item). The two-valued
        Exists.body lift is never involved (it would silently drop the
        NULL semantics — the hazard test_exists_over_cte pins).
        Returns ephemeral view names for the caller to unregister."""
        import dataclasses

        from sparksqlplus_spark.expressions import Exists, map_expr

        ephemeral: list[str] = []

        def xform(node):
            if not (isinstance(node, Exists) and node.cte_body is not None):
                return None
            df = self._plan_spec(
                node.cte_body, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
            self._view_counter += 1
            vname = f"__ctv{self._view_counter}"
            self.catalog.register_df(vname, df, ())
            ephemeral.append(vname)
            return dataclasses.replace(node, table=vname, cte_body=None)

        try:
            spec.where = [map_expr(c, xform) for c in spec.where]
            spec.having = [map_expr(c, xform) for c in spec.having]
            spec.inner_on = [map_expr(c, xform) for c in spec.inner_on]
            for si in spec.select:
                si.expr = map_expr(si.expr, xform)
        except Exception:
            for n in ephemeral:
                self.catalog.unregister(n)
            raise
        return ephemeral

    def _plan_spec(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
        ansi: bool = False,
        root_hint: str | None = None,
        join_tree_hint=None,
    ) -> DataFrame:
        """Entry wrapper: lift NOT IN-over-CTE bodies into ephemeral
        views first (they can sit in any clause and on every planner
        route — qualify, outer, main), then plan. Queries using the
        lift get ANSI bag semantics like every composite-view surface."""
        eph = self._lift_cte_not_in(
            spec, mode=mode, cyclic_strategy=cyclic_strategy,
            count_mode=count_mode,
        )
        if not eph:
            return self._plan_spec_inner(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=ansi, root_hint=root_hint,
                join_tree_hint=join_tree_hint,
            )
        try:
            return self._plan_spec_inner(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True, root_hint=root_hint,
                join_tree_hint=join_tree_hint,
            )
        finally:
            for n in eph:
                self.catalog.unregister(n)

    def _plan_spec_inner(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
        ansi: bool = False,
        root_hint: str | None = None,
        join_tree_hint=None,
    ) -> DataFrame:
        """Plan one QuerySpec end-to-end: decorrelate + fold scalar
        subqueries, plan composite FROM-subqueries, build the context,
        execute (honoring mode='naive' and the join-tree/root hints).
        ANSI bag semantics apply when requested (compound parts,
        composite views, the outer-join tail) or whenever the statement
        uses a composite view (pure-SQL extension surface)."""
        from sparksqlplus_spark.expressions import Col, Star as _Star
        from sparksqlplus_spark.plans.context import expand_select_stars

        if any(
            isinstance(si.expr, _Star)
            or (isinstance(si.expr, Col) and si.expr.name == "*")
            for si in spec.select
        ):
            # ANSI star-expansion shows a USING/NATURAL merged column
            # ONCE, which this flat expansion cannot express — those
            # expand inside _expand_using (_expand_stars_merged, round
            # 12), once owner election and the merged exprs are final
            if not spec.using_joins and not any(
                oj.natural or oj.using for oj in spec.outer_joins
            ):
                try:
                    spec = expand_select_stars(spec, self.catalog)
                except UnsupportedSqlError:
                    # FROM shapes the early expansion cannot resolve yet
                    # (nested/compound subqueries, VALUES) — defer to the
                    # build_context expansion, which runs AFTER
                    # _plan_subqueries rewrites them to view scans
                    pass
        self._expand_using(spec)
        if spec.qualify:
            return self._plan_qualify(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
        spec = self._fold_scalars(
            self._decorrelate_scalars(self._decorrelate_select_scalars(spec))
        )
        if spec.outer_joins:
            if join_tree_hint is not None:
                raise UnsupportedSqlError(
                    "join_tree_hint does not apply to an outer join"
                )
            return self._run_outer(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
        ephemeral: list[str] = []
        ctx = None
        try:
            ephemeral += self._lift_or_exists(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            if spec.outer_joins:
                # the OR'd-EXISTS lift added flag LEFT JOINs — route
                # to the outer-join planner after all
                if join_tree_hint is not None:
                    raise UnsupportedSqlError(
                        "join_tree_hint does not apply to an outer join"
                    )
                return self._run_outer(
                    spec, mode=mode, cyclic_strategy=cyclic_strategy,
                    count_mode=count_mode,
                )
            ephemeral += self._lift_exists_joins(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            ephemeral += self._plan_subqueries(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            ctx = build_context(spec, self.catalog)
            if ansi or ephemeral:
                ctx.is_full = True
            if mode == "naive":
                return naive_execute(self.spark, self.catalog, ctx)
            if join_tree_hint is not None:
                from sparksqlplus_spark.plans.hints import join_tree_from_hint

                tree = join_tree_from_hint(ctx, join_tree_hint)
                return self._executor.execute_tree(
                    ctx,
                    tree,
                    root_hint=root_hint or tree.relations[tree.root].alias,
                    count_mode=count_mode,
                )
            return self._run_context(
                ctx, mode=mode, root_hint=root_hint,
                cyclic_strategy=cyclic_strategy, count_mode=count_mode,
            )
        except RoutedToFallback as exc:
            # round 15 (VERDICT r14 What's-wrong #1): a measured-routing
            # raise from inside execution (the keyed multi-comparison
            # NOT IN gate fires in _apply_semi_filter, after the
            # Context exists) must carry the engine's duplicate
            # semantics to the fallback: fill needs_distinct exactly
            # when finalize (compiler/cqc.py) would have deduped —
            # honest non-full, no aggregation/GROUP BY, no explicit
            # DISTINCT (spark.sql honors the latter two itself). A
            # raise before build_context (the OR'd-EXISTS lift gate)
            # sets it at the raise site; ANSI routes (outer, qualify,
            # compound) never reach this wrap and default to bag.
            if exc.needs_distinct is None and ctx is not None:
                exc.needs_distinct = not (
                    ctx.is_full
                    or ctx.distinct
                    or ctx.aggregations
                    or ctx.group_by
                )
            raise
        finally:
            for n in ephemeral:
                self.catalog.unregister(n)

    def _plan_qualify(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> DataFrame:
        """Desugar QUALIFY (QuerySpec.qualify — DuckDB/Snowflake
        surface, absent from both the reference and Spark SQL) into a
        derived table + outer WHERE, following the ANSI-extension
        evaluation order WHERE -> GROUP BY/HAVING -> window -> QUALIFY
        -> DISTINCT -> ORDER BY -> LIMIT:

          inner: the statement minus DISTINCT/ORDER/LIMIT, projecting
                 every original select item PLUS one hidden column per
                 window call (__qw<i>) and per non-window base-column
                 reference (__qc<i>) the QUALIFY conjunction touches;
          outer: FROM (inner) AS __qual WHERE <qualify with windows and
                 base refs remapped to the hidden columns>, carrying
                 the original DISTINCT/ORDER/LIMIT.

        Select-alias references in QUALIFY (e.g. `QUALIFY r <= 3` over
        `RANK() ... AS r`) resolve against the inner output naturally.
        The derived table routes through the composite-view planner, so
        bag semantics and the window-over-aggregate validation apply
        unchanged. At scale the plan is exactly the hand-written
        two-level form: one window exchange + a filter — nothing
        materializes driver-side."""
        from dataclasses import replace as dc_replace

        from sparksqlplus_spark.expressions import Col, WindowCall, map_expr
        from sparksqlplus_spark.parser.sql import (
            FromItem,
            QuerySpec,
            SelectItem,
        )
        from sparksqlplus_spark.plans.context import _default_name

        out_names = [
            si.alias or _default_name(si.expr, i)
            for i, si in enumerate(spec.select)
        ]
        if len(set(out_names)) != len(out_names):
            raise UnsupportedSqlError(
                "QUALIFY needs unambiguous select-item names"
            )
        hidden: list[SelectItem] = []

        def remap(cond):
            def repl(n):
                if isinstance(n, WindowCall):
                    name = f"__qw{len(hidden)}"
                    hidden.append(SelectItem(n, name))
                    return Col("__qual", name)
                if isinstance(n, Col):
                    if n.alias == "" and n.name in out_names:
                        return Col("__qual", n.name)
                    if n.alias == "__qual":
                        return None
                    name = f"__qc{len(hidden)}"
                    hidden.append(SelectItem(Col(n.alias, n.name), name))
                    return Col("__qual", name)
                return None

            return map_expr(cond, repl)

        from sparksqlplus_spark.plans.context import _agg_subcalls

        grouped = bool(spec.group_by) or any(
            _agg_subcalls(si.expr) for si in spec.select
        )
        if grouped:
            # QUALIFY over an aggregated statement (top-k groups):
            # windows over aggregates cannot live in the grouped
            # select, so the desugar goes THREE levels — inner = the
            # full grouped statement (GROUP BY + HAVING, no windows),
            # mid = projection + the QUALIFY window expressions, outer
            # = the filter + DISTINCT/ORDER/LIMIT. Window internals
            # may reference inner outputs by select alias, or repeat a
            # select-item expression verbatim (COUNT(*) when the item
            # is `COUNT(*) AS cnt` — matched by structural key);
            # anything else is not grouped/aggregated and raises.
            by_key = {si.expr.key(): n for si, n in zip(spec.select, out_names)}

            def to_inner_ref(e):
                def repl(n):
                    k = getattr(n, "key", None)
                    if k is not None and n.key() in by_key:
                        return Col("__qual", by_key[n.key()])
                    if isinstance(n, Col):
                        if n.alias == "" and n.name in out_names:
                            return Col("__qual", n.name)
                        if n.alias == "__qual":
                            return None
                        raise UnsupportedSqlError(
                            "QUALIFY over GROUP BY may only reference "
                            "select aliases or repeated select items"
                        )
                    return None

                return map_expr(e, repl)

            mid_hidden: list[SelectItem] = []

            def remap_grouped(cond):
                def repl(n):
                    if isinstance(n, WindowCall):
                        name = f"__qw{len(mid_hidden)}"
                        mid_hidden.append(SelectItem(to_inner_ref(n), name))
                        return Col("__q2", name)
                    if isinstance(n, Col):
                        if n.alias == "" and n.name in out_names:
                            return Col("__q2", n.name)
                        if n.alias == "__q2":
                            return None
                        raise UnsupportedSqlError(
                            "QUALIFY over GROUP BY may only reference "
                            "select aliases or repeated select items"
                        )
                    return None

                return map_expr(cond, repl)

            outer_where = [remap_grouped(c) for c in spec.qualify]
            inner = dc_replace(
                spec,
                select=[
                    SelectItem(si.expr, n)
                    for si, n in zip(spec.select, out_names)
                ],
                distinct=False,
                order_by=[],
                limit=None,
                offset=None,
                qualify=[],
            )
            mid = QuerySpec(
                select=[
                    *[SelectItem(Col("__qual", n), n) for n in out_names],
                    *mid_hidden,
                ],
                distinct=False,
                from_items=[FromItem(alias="__qual", subquery=inner)],
                where=[],
            )
            outer = QuerySpec(
                select=[SelectItem(Col("__q2", n), n) for n in out_names],
                distinct=spec.distinct,
                from_items=[FromItem(alias="__q2", subquery=mid)],
                where=outer_where,
                group_by=[],
                order_by=spec.order_by,
                limit=spec.limit,
                offset=spec.offset,
            )
            return self._plan_spec(
                outer, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )

        outer_where = [remap(c) for c in spec.qualify]
        # ORDER BY may reference base columns the output does not
        # project (e.g. the DISTINCT ON desugar ordering by a
        # tie-break column) — route them through the same hidden
        # projection the QUALIFY conjunction uses (late round 10)
        from sparksqlplus_spark.parser.sql import OrderItem

        outer_order = [
            OrderItem(remap(oi.expr), oi.desc, oi.nulls)
            for oi in spec.order_by
        ]
        inner = dc_replace(
            spec,
            select=[*spec.select, *hidden],
            distinct=False,
            order_by=[],
            limit=None,
            offset=None,
            qualify=[],
        )
        outer = QuerySpec(
            select=[SelectItem(Col("__qual", n), n) for n in out_names],
            distinct=spec.distinct,
            from_items=[FromItem(alias="__qual", subquery=inner)],
            where=outer_where,
            group_by=[],
            order_by=outer_order,
            limit=spec.limit,
            offset=spec.offset,
        )
        return self._plan_spec(
            outer, mode=mode, cyclic_strategy=cyclic_strategy,
            count_mode=count_mode, ansi=True,
        )

    def _run_outer(
        self,
        spec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> DataFrame:
        """LEFT/RIGHT/FULL OUTER JOIN planner (engine extension; the
        reference is inner-join only). Three phases, one lazy Spark
        plan end to end:

        1. the inner FROM block + its INNER-JOIN ON conjuncts (and,
           when every attachment is a LEFT join, the inner-only WHERE
           conjuncts — the FROM block is then the preserved side, so
           pre-join placement is equivalent) plan through the NORMAL
           pipeline (CQC reduce/enumerate, cyclic router — all of it)
           with bag semantics, projecting every inner column under a
           generated name;
        2. each outer join attaches in source order (left-associative,
           ANSI). LEFT: right-local ON conjuncts pre-filter the right
           side (not preserved — equivalent, and they push into the
           right scan), the rest join. RIGHT/FULL: the right side IS
           preserved, so every ON conjunct stays in the join condition
           (ON never removes preserved-side rows); WHERE conjuncts over
           core columns apply post-join (the core is null-supplied —
           pre-filtering would resurrect rows `WHERE x IS NULL` should
           not see and drop rows it should; Catalyst re-pushes the
           null-rejecting ones through the join at physical planning).
           Broadcast/shuffle choice is Catalyst's by size, as with any
           equi-join;
        3. the SELECT/GROUP BY/HAVING/ORDER BY/LIMIT tail runs as a
           single-table query over the joined frame through the same
           build_context + finalize as every other statement (so
           ROLLUP, HAVING, aliases all work) — with ANSI semantics,
           which makes WHERE right.key IS NULL the native anti-join
           idiom and TPC-H Q13 plan natively.
        """
        import copy

        from pyspark.sql import functions as F

        from sparksqlplus_spark.catalog import UnknownTableError
        from sparksqlplus_spark.expressions import (
            Col,
            Exists,
            ScalarSubquery,
            map_expr,
            rewrite_refs,
        )
        from sparksqlplus_spark.parser.sql import FromItem, OrderItem, SelectItem
        from sparksqlplus_spark.plans.context import (
            _default_name,
            _make_relation,
        )

        # Unfolded scalar subqueries are not supported in the
        # outer-join subset, and neither is EXISTS anywhere except as
        # a top-level WHERE conjunct (round 9: those now compose —
        # routed into the phase-1 core when they only touch preserved
        # core columns, else applied post-join by the phase-3
        # single-table pipeline) — detect early so mode='auto' falls
        # back
        def _probe(node):
            if isinstance(node, (Exists, ScalarSubquery)):
                raise UnsupportedSqlError(
                    "EXISTS/scalar subqueries in this position are not "
                    "in the outer-join subset"
                )
            return None

        non_where_conds = [
            # a TOP-LEVEL Exists in inner_on is the semi/anti-join
            # desugar routed pre-join by the parser (round 13 —
            # SEMI/ANTI followed by RIGHT/FULL); it plans inside the
            # phase-1 core below. Nested positions still fall back.
            *[c for c in spec.inner_on if not isinstance(c, Exists)],
            *[c for oj in spec.outer_joins for c in oj.conds],
            *spec.having,
        ]
        for c in non_where_conds:
            map_expr(c, _probe)
        for si in spec.select:
            map_expr(si.expr, _probe)

        ephemeral: list[str] = []
        try:
            # OR'd EXISTS rewrites to LEFT-JOIN flags (appending its
            # attachments to this spec) and multi-table EXISTS bodies
            # lift to composite-view form — both BEFORE the WHERE
            # probe, so only genuinely out-of-subset Exists positions
            # fall back
            ephemeral += self._lift_or_exists(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            ephemeral += self._lift_exists_joins(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            for c in spec.where:
                if isinstance(c, Exists):
                    continue  # top-level WHERE EXISTS composes (below)
                map_expr(c, _probe)
            ephemeral += self._plan_subqueries(
                spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
            )
            for oj in spec.outer_joins:
                if oj.item.subquery is not None:
                    from sparksqlplus_spark.parser.sql import (
                        CompoundSpec as _CSpec,
                    )

                    sub = copy.deepcopy(oj.item.subquery)
                    if isinstance(sub, _CSpec):
                        df = self._run_compound(
                            sub, mode=mode,
                            cyclic_strategy=cyclic_strategy,
                            count_mode=count_mode,
                        )
                    else:
                        df = self._plan_spec(
                            sub, mode=mode, cyclic_strategy=cyclic_strategy,
                            count_mode=count_mode, ansi=True,
                        )
                    self._view_counter += 1
                    name = f"__view{self._view_counter}_{oj.item.alias}"
                    self.catalog.register_df(name, df, ())
                    ephemeral.append(name)
                    oj.item.table = name
                    oj.item.subquery = None

            # ---- alias -> columns over BOTH sides ----------------------
            alias_cols: dict[str, list[str]] = {}
            for i, fi in enumerate(spec.from_items):
                try:
                    rel = _make_relation(i, fi, self.catalog)
                except UnknownTableError as exc:
                    raise UnsupportedSqlError(str(exc)) from None
                alias_cols[fi.alias] = list(rel.col_to_var.keys())
            outer_cols: dict[str, list[str]] = {}
            for oj in spec.outer_joins:
                try:
                    meta = self.catalog.get(oj.item.table)
                except UnknownTableError as exc:
                    raise UnsupportedSqlError(str(exc)) from None
                outer_cols[oj.item.alias] = list(meta.column_names)
            every = {**alias_cols, **outer_cols}
            if len(every) != len(alias_cols) + len(outer_cols):
                raise UnsupportedSqlError("duplicate FROM alias")

            def owner(col: str) -> str:
                owners = [a for a, cols in every.items() if col in cols]
                if len(owners) != 1:
                    raise UnsupportedSqlError(
                        f"ambiguous or unknown column {col!r}"
                    )
                return owners[0]

            def qualify(node):
                mapping = {}
                for a, c in node.refs():
                    if a == "":
                        mapping[(a, c)] = (owner(c), c)
                    elif a not in every:
                        raise UnsupportedSqlError(f"unknown alias {a!r}")
                    elif c not in every[a]:
                        raise UnsupportedSqlError(f"unknown column {a}.{c}")
                return rewrite_refs(node, mapping) if mapping else node

            def exists_inner_cols(ex) -> set[str]:
                try:
                    return set(self.catalog.get(ex.table).column_names)
                except UnknownTableError as exc:
                    raise UnsupportedSqlError(str(exc)) from None

            def qualify_exists(ex):
                """Qualify only the OUTER-scoped refs inside an Exists
                conjunct: refs on the subquery alias, and bare names
                the inner table owns (innermost scope wins), stay
                untouched — the flat qualifier would mis-resolve them
                against the enclosing FROM list."""
                inner_cols = exists_inner_cols(ex)
                mapping = {}
                for c in ex.conds:
                    for a, cn in c.refs():
                        if a == ex.table_alias or (
                            a == "" and cn in inner_cols
                        ):
                            continue
                        if a == "":
                            mapping[(a, cn)] = (owner(cn), cn)
                        elif a not in every:
                            raise UnsupportedSqlError(f"unknown alias {a!r}")
                        elif cn not in every[a]:
                            raise UnsupportedSqlError(
                                f"unknown column {a}.{cn}"
                            )
                return rewrite_refs(ex, mapping) if mapping else ex

            def exists_outer_aliases(ex) -> set[str]:
                """Outer aliases a QUALIFIED Exists correlates with."""
                inner_cols = exists_inner_cols(ex)
                out: set[str] = set()
                for c in ex.conds:
                    for a, cn in c.refs():
                        if a == ex.table_alias or (
                            a == "" and cn in inner_cols
                        ):
                            continue
                        out.add(a)
                return out

            where_q = [
                qualify_exists(c) if isinstance(c, Exists) else qualify(c)
                for c in spec.where
            ]
            on_q = [[qualify(c) for c in oj.conds] for oj in spec.outer_joins]
            inner_aliases = set(alias_cols)
            core_where: list = []
            for c in spec.inner_on:  # non-empty only with RIGHT/FULL
                if isinstance(c, Exists):
                    # semi/anti-join desugar routed pre-join (round 13):
                    # it filters the core BEFORE the RIGHT/FULL join,
                    # exactly Spark's left-to-right evaluation
                    cq = qualify_exists(c)
                    if exists_outer_aliases(cq) - inner_aliases:
                        raise UnsupportedSqlError(
                            "SEMI/ANTI JOIN may not correlate with "
                            "outer-joined tables"
                        )
                    core_where.append(cq)
                    continue
                cq = qualify(c)
                if {a for a, _ in cq.refs()} - inner_aliases:
                    raise UnsupportedSqlError(
                        "INNER JOIN ON may not reference outer-joined "
                        "tables"
                    )
                core_where.append(cq)

            # ---- split WHERE: inner-only pushes into the core when the
            # core stays non-null-supplied through every attachment
            # (LEFT preserves it, INNER never null-extends); with a
            # RIGHT/FULL join the core is null-supplied, so WHERE stays
            # post-join (docstring phase 2) ------------------------------
            preserved_core = all(
                oj.side in ("left", "inner") for oj in spec.outer_joins
            )
            safe_ids = {id(c) for c in spec.core_safe_where}
            post_where = []
            for c, cq in zip(spec.where, where_q):
                if isinstance(cq, Exists):
                    # a semi/anti filter only REMOVES rows of the frame
                    # it applies to, so when its correlation touches
                    # only core columns AND the core is preserved
                    # through every attachment, pre-join placement in
                    # the core is equivalent (each core row's EXISTS
                    # truth is join-invariant) and lets the SemiFilter
                    # planner push it into the core scan. Any
                    # attachment-column correlation — or a
                    # null-supplied core — applies post-join through
                    # the phase-3 single-table pipeline.
                    if (
                        exists_outer_aliases(cq) <= inner_aliases
                        and preserved_core
                    ):
                        core_where.append(cq)
                    else:
                        post_where.append(cq)
                    continue
                refs = {a for a, _ in cq.refs()}
                if refs <= inner_aliases and (
                    preserved_core or id(c) in safe_ids
                ):
                    core_where.append(cq)
                    if not preserved_core:
                        # decorrelation conjunct under RIGHT/FULL:
                        # planned inside the core (no cartesian
                        # core x view) AND re-applied post-join to
                        # drop spurious null-extended preserved rows
                        # (QuerySpec.core_safe_where docstring)
                        post_where.append(cq)
                else:
                    post_where.append(cq)

            # ---- phase 1: core inner block -----------------------------
            phys: dict[tuple[str, str], str] = {}
            core_sel: list[SelectItem] = []
            for a, cols in alias_cols.items():
                for c in cols:
                    phys[(a, c)] = f"__i{len(phys)}"
                    core_sel.append(SelectItem(Col(a, c), phys[(a, c)]))
            from sparksqlplus_spark.parser.sql import QuerySpec

            core_spec = QuerySpec(
                select=core_sel, distinct=False,
                from_items=spec.from_items, where=core_where,
            )
            core_ctx = build_context(core_spec, self.catalog)
            core_ctx.is_full = True  # SQL bag semantics for the core
            if mode == "naive":
                joined = naive_execute(self.spark, self.catalog, core_ctx)
            else:
                joined = self._run_context(
                    core_ctx, mode=mode, cyclic_strategy=cyclic_strategy,
                    count_mode=count_mode,
                )

            # ---- phase 2: attach LEFT JOINs in source order ------------
            known = dict(phys)  # (alias, col) -> physical column
            for j, (oj, conds) in enumerate(zip(spec.outer_joins, on_q)):
                a = oj.item.alias
                right = self.catalog.get(oj.item.table).load(self.spark)
                ren = {c: f"__o{j}_{k}" for k, c in enumerate(outer_cols[a])}
                right = right.select(
                    *[F.col(c).alias(ren[c]) for c in outer_cols[a]]
                )
                join_cond = None
                for cond in conds:
                    refs = {al for al, _ in cond.refs()}
                    if oj.side in ("left", "inner") and refs <= {a}:
                        # right side not preserved (LEFT null-extends
                        # it, INNER drops non-matches): ON-local
                        # conjuncts pre-filter (and push into the
                        # right scan); for RIGHT/FULL the right side
                        # IS preserved, so they must stay
                        # matching-only conditions
                        right = right.filter(
                            cond.to_spark({(a, c): ren[c] for c in ren})
                        )
                        continue
                    if not all(
                        al == a or (al, c) in known for al, c in cond.refs()
                    ):
                        raise UnsupportedSqlError(
                            "OUTER JOIN ON may only reference earlier "
                            "FROM items"
                        )
                    m = dict(known)
                    m.update({(a, c): ren[c] for c in ren})
                    cc = cond.to_spark(m)
                    join_cond = cc if join_cond is None else (join_cond & cc)
                if join_cond is None:
                    if not oj.allow_uncorrelated:
                        raise UnsupportedSqlError(
                            "OUTER JOIN needs a correlated ON condition"
                        )
                    # planner-built one-row flag view (keyless
                    # fold): unconditioned broadcast attach
                    join_cond = F.lit(True)
                joined = joined.join(right, join_cond, oj.side)
                known.update({(a, c): ren[c] for c in ren})

            # ---- phase 3: the statement tail over the joined frame -----
            self._view_counter += 1
            jname = f"__ojoin{self._view_counter}"
            self.catalog.register_df(jname, joined, ())
            ephemeral.append(jname)
            remap = {k: ("", v) for k, v in known.items()}

            final_sel = []
            for i, si in enumerate(spec.select):
                name = si.alias or _default_name(si.expr, i)
                final_sel.append(
                    SelectItem(rewrite_refs(qualify(si.expr), remap), name)
                )
            out_aliases = {si.alias for si in final_sel}

            def fix_order(e):
                if isinstance(e, Col) and e.alias == "" and e.name in out_aliases:
                    return e  # resolves against the output alias
                return rewrite_refs(qualify(e), remap)

            final_spec = QuerySpec(
                select=final_sel,
                distinct=spec.distinct,
                from_items=[FromItem(alias="__j", table=jname)],
                where=[rewrite_refs(c, remap) for c in post_where],
                group_by=[rewrite_refs(qualify(e), remap) for e in spec.group_by],
                order_by=[
                    OrderItem(fix_order(oi.expr), oi.desc, oi.nulls)
                    for oi in spec.order_by
                ],
                limit=spec.limit,
                offset=spec.offset,
                having=[rewrite_refs(qualify(c), remap) for c in spec.having],
                group_mode=spec.group_mode,
                grouping_sets=list(spec.grouping_sets),
            )
            return self._plan_spec(
                final_spec, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
        finally:
            for n in ephemeral:
                self.catalog.unregister(n)

    def _run_context(
        self,
        ctx: Context,
        mode: str = "auto",
        root_hint: str | None = None,
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> DataFrame:
        """Execute an already-built Context: acyclic CQC tree, else the
        cyclic router (break / GHD / greedy)."""
        tree = best_join_tree(ctx.relations, ctx.comparisons)
        if tree is not None:
            return self._executor.execute_tree(
                ctx, tree, root_hint=root_hint, count_mode=count_mode
            )
        from sparksqlplus_spark.plans.cyclic import execute_cyclic

        return execute_cyclic(
            self.spark,
            self.catalog,
            ctx,
            mode,
            cyclic_strategy,
            count_mode,
            executor=self._executor,
        )

    def _run_compound(
        self,
        comp: CompoundSpec,
        mode: str = "auto",
        cyclic_strategy: str = "auto",
        count_mode: str = "rows",
    ) -> DataFrame:
        """Execute a set-operator compound: plan each part natively,
        then fold left-associatively with the matching Spark set op.
        Parts get ANSI bag semantics (CompoundSpec docstring) — the
        combining operator owns the dedup decision, so UNION ALL keeps
        duplicates a CQ-dialect part would have collapsed. Columns
        align by POSITION (standard SQL), renamed to the first part's
        names. The whole chain stays one lazy Spark plan — set ops are
        hash-partition exchanges, no driver materialization."""
        from pyspark.sql import functions as F

        from sparksqlplus_spark.expressions import Col

        dfs: list[DataFrame] = [
            self._plan_spec(
                part, mode=mode, cyclic_strategy=cyclic_strategy,
                count_mode=count_mode, ansi=True,
            )
            for part in comp.parts
        ]
        width = len(dfs[0].columns)
        for d in dfs[1:]:
            if len(d.columns) != width:
                raise UnsupportedSqlError(
                    "compound parts differ in column count"
                )
        acc = dfs[0]
        for (op, is_all), d in zip(comp.ops, dfs[1:]):
            d = d.toDF(*acc.columns)
            if op == "union":
                acc = acc.unionAll(d)
                if not is_all:
                    acc = acc.dropDuplicates()
            elif op == "intersect":
                acc = acc.intersectAll(d) if is_all else acc.intersect(d)
            else:
                acc = acc.exceptAll(d) if is_all else acc.subtract(d)
        if comp.order_by:
            sort_exprs = []
            for oi in comp.order_by:
                e = oi.expr
                if not (
                    isinstance(e, Col) and e.alias == "" and e.name in acc.columns
                ):
                    raise UnsupportedSqlError(
                        "compound ORDER BY must name output columns"
                    )
                col = F.col(e.name)
                if oi.nulls == "first":
                    col = col.desc_nulls_first() if oi.desc else col.asc_nulls_first()
                elif oi.nulls == "last":
                    col = col.desc_nulls_last() if oi.desc else col.asc_nulls_last()
                else:
                    col = col.desc() if oi.desc else col.asc()
                sort_exprs.append(col)
            acc = acc.orderBy(*sort_exprs)
        if comp.offset is not None:
            acc = acc.offset(comp.offset)
        if comp.limit is not None:
            acc = acc.limit(comp.limit)
        return acc

    def _catalog_fingerprint(self) -> tuple:
        """Identity of the catalog's current state for the plan
        cache: (name, registration epoch) per table — the epoch is
        stamped by Catalog.register, so ANY re-registration (even of
        an identical-looking table) re-plans, and object-id reuse
        after gc cannot alias two different DataFrames. Ephemeral
        composite-view registrations made DURING planning are always
        unregistered before sql() returns, so the fingerprint is
        stable across repeated calls; a leak would only force a
        re-plan (fails safe)."""
        return tuple(
            sorted(
                (m.name.lower(), m.epoch)
                for m in self.catalog.tables()
            )
        )

    def sql(
        self,
        query: str,
        mode: str = "auto",
        root_hint: str | None = None,
        cyclic_strategy: str = "auto",
        join_tree_hint=None,
        count_mode: str = "rows",
    ) -> DataFrame:
        """Plan and execute a query (memoized — see _sql_uncached for
        the planning pipeline and parameter docs). A repeated call
        with the same query/options against an unchanged catalog
        returns the same lazy DataFrame without re-planning.

        Staleness contract: the cache key is the catalog's
        registration epochs and the values of the plan-shaping SQL
        confs (``_PLAN_CONFS``), so any register/unregister/DDL or a
        change of one of those confs re-plans —
        but OVERWRITING the files behind a still-registered table does
        not (the returned plan's folded statistics and broadcast
        decisions reflect the old data, the same hazard as Spark's own
        file-index caching). Re-register the table or call
        :meth:`clear_plan_cache` after mutating data in place."""
        if join_tree_hint is not None:
            # user join trees may be unhashable (nested dicts) and are
            # a debugging surface — plan fresh
            return self._sql_uncached(
                query, mode=mode, root_hint=root_hint,
                cyclic_strategy=cyclic_strategy,
                join_tree_hint=join_tree_hint, count_mode=count_mode,
            )
        if mode == "spark":
            # verbatim spark.sql resolves against SESSION temp views
            # the catalog fingerprint cannot see — never memoize
            return self._sql_uncached(query, mode=mode)
        conf = self.spark.conf
        key = (
            query, mode, root_hint, cyclic_strategy, count_mode,
            self._catalog_fingerprint(),
            tuple(conf.get(c) for c in _PLAN_CONFS),
        )
        hit = self._plan_cache.get(key)
        if hit is not None:
            self._plan_cache.move_to_end(key)
            return hit
        self._plan_cacheable = True
        df = self._sql_uncached(
            query, mode=mode, root_hint=root_hint,
            cyclic_strategy=cyclic_strategy,
            join_tree_hint=None, count_mode=count_mode,
        )
        # paths that END in a verbatim spark.sql run (fallbacks, the
        # tail-rescue emulation) may bind session temp views outside
        # the catalog fingerprint — they clear the flag and stay
        # uncached (planning there is one spark.sql parse: cheap)
        if self._plan_cacheable:
            self._plan_cache[key] = df
            if len(self._plan_cache) > self._plan_cache_max:
                self._plan_cache.popitem(last=False)
        return df

    def clear_plan_cache(self) -> None:
        """Drop every memoized compiled plan. Needed only when the
        files behind a registered table were overwritten IN PLACE
        (see :meth:`sql`'s staleness contract) — registration changes
        invalidate affected entries automatically via the catalog
        fingerprint."""
        self._plan_cache.clear()

    def _sql_uncached(
        self,
        query: str,
        mode: str = "auto",
        root_hint: str | None = None,
        cyclic_strategy: str = "auto",
        join_tree_hint=None,
        count_mode: str = "rows",
    ) -> DataFrame:
        """Plan and execute a query.

        mode: 'auto' (CQC, cyclic handler, then spark.sql fallback),
        'cqc' (fail if outside subset), 'naive' (greedy joins — the
        baseline comparator), 'spark' (verbatim spark.sql). KEYED
        multi-comparison correlated [NOT] IN and OR'd [NOT] EXISTS
        (an equality correlation key plus 2-5 comparisons) are
        Catalyst-only: 'auto' runs them through spark.sql, and
        'cqc'/'naive' raise RoutedToFallback, as they do on over-cap
        keyless folds (SCALING.md round-14 A/B).
        root_hint: alias to use as the enumeration root (reference C24
        join-order hint; overrides the planner's root choice).
        cyclic_strategy: router for cyclic queries — 'auto' (break,
        then GHD+WCOJ, then greedy), or force 'break'/'ghd'/'naive'.
        join_tree_hint: a COMPLETE user join tree (reference
        HintHandler.scala) as an edge list [(parent_alias,
        child_alias), ...] or nested {'relation': ..., 'children':
        [...]}; validated against the hypergraph (coverage, no
        duplicates, running intersection) and used verbatim instead of
        GYO enumeration. The enumeration root is the hint's root unless
        root_hint overrides it.
        count_mode: 'eager' propagates pre-aggregated COUNT(*)s up the
        join tree (semiring annotation) so counting queries never
        materialize the path bag — worth it on DENSE inputs where paths
        ≫ distinct endpoint pairs; default 'rows' keeps the row-level
        plan (faster on sparse data — see SCALING.md measurement).
        """
        if mode == "spark":
            self._ensure_views()
            return self.spark.sql(query)
        stmt = None
        try:
            stmt = parse_statement(query)
            if isinstance(stmt, CompoundSpec):
                if join_tree_hint is not None:
                    raise UnsupportedSqlError(
                        "join_tree_hint does not apply to a compound query"
                    )
                return self._run_compound(
                    stmt, mode=mode, cyclic_strategy=cyclic_strategy,
                    count_mode=count_mode,
                )
            return self._plan_spec(
                stmt,
                mode=mode,
                cyclic_strategy=cyclic_strategy,
                count_mode=count_mode,
                root_hint=root_hint,
                join_tree_hint=join_tree_hint,
            )
        except RoutedToFallback as exc:
            # No native plan in ANY mode (keyed multi-comparison [NOT]
            # IN / OR'd EXISTS — Catalyst measured faster, SCALING.md
            # r14 A/B), but the statement is in the dialect, so the
            # non-full => DISTINCT contract (SURVEY C23) must hold on
            # the fallback run too. Apply the reference's own rewrite
            # (CompileController.java:98-101: SELECT -> SELECT DISTINCT
            # before ORDER BY/LIMIT) when the native plan would have
            # deduped; needs_distinct=None means the raise crossed only
            # ANSI-bag surfaces — run verbatim.
            if mode != "auto" or join_tree_hint is not None:
                raise
            self._ensure_views()
            if not isinstance(stmt, CompoundSpec) and getattr(
                stmt, "qualify", None
            ):
                # QUALIFY is engine-only syntax (Spark SQL cannot
                # parse it — _plan_qualify docstring), so no verbatim
                # run exists: evaluate the predicate as a select-list
                # helper column over the verbatim body and filter on it
                _log.info(
                    "routed fallback: statement carries QUALIFY "
                    "(Spark-unparseable); evaluating it as a helper "
                    "column over the verbatim body"
                )
                emu = self._emulate_tail_rescue(
                    query, stmt,
                    dedup=bool(exc.needs_distinct or stmt.distinct),
                )
                if emu is not None:
                    return emu
                raise
            if not exc.needs_distinct:
                try:
                    res = self.spark.sql(query)
                    self._plan_cacheable = False
                    return res
                except Exception:
                    # explicit DISTINCT + ORDER BY on a non-output
                    # column is an ENGINE dialect extension
                    # (finalize's helper-sort collapse) that ANSI
                    # Spark rejects at analysis — a perf routing must
                    # not become a completion failure (round 16)
                    if (
                        isinstance(stmt, CompoundSpec)
                        or not getattr(stmt, "distinct", False)
                        or not getattr(stmt, "order_by", None)
                    ):
                        raise
                    _log.info(
                        "routed fallback: verbatim run failed analysis "
                        "on an explicit-DISTINCT ORDER BY tail; "
                        "emulating the helper-sort collapse over the "
                        "verbatim body"
                    )
                    emu = self._emulate_tail_rescue(query, stmt)
                    if emu is not None:
                        return emu
                    raise
            rewritten = re.sub(
                r"^(\s*)select\b", r"\1SELECT DISTINCT", query,
                count=1, flags=re.IGNORECASE,
            )
            if rewritten != query:
                try:
                    _log.debug(
                        "routed fallback: applying non-full DISTINCT "
                        "rewrite (reference CompileController.java:98-101)"
                    )
                    res = self.spark.sql(rewritten)
                    self._plan_cacheable = False
                    return res
                except Exception as rewrite_err:
                    # ORDER BY on a non-output column: ANSI DISTINCT
                    # rejects it but the engine supports it via the
                    # helper-sort collapse in finalize. Without a
                    # LIMIT/OFFSET tail, deduping the verbatim result
                    # is exact (ordering is advisory on a DataFrame);
                    # WITH one, LIMIT-then-dedup diverges from the
                    # native dedup-then-limit (round 16, VERDICT r15
                    # #1) — emulate finalize's collapse DataFrame-side
                    # instead (dedup, then sort/offset/limit).
                    has_tail = not isinstance(stmt, CompoundSpec) and (
                        getattr(stmt, "limit", None) is not None
                        or getattr(stmt, "offset", None) is not None
                    )
                    _log.info(
                        "routed fallback: DISTINCT rewrite failed "
                        "analysis (%s: %s); %s",
                        rewrite_err.__class__.__name__,
                        str(rewrite_err).splitlines()[0][:200],
                        "emulating the helper-sort collapse over the "
                        "verbatim body (LIMIT/OFFSET tail present)"
                        if has_tail
                        else "deduping the verbatim result",
                    )
                    if has_tail:
                        emu = self._emulate_tail_rescue(query, stmt)
                        if emu is not None:
                            return emu
                        raise
            self._plan_cacheable = False
            return self.spark.sql(query).dropDuplicates()
        except UnsupportedSqlError as u_exc:
            if mode == "auto" and join_tree_hint is None:
                self._ensure_views()
                try:
                    res = self.spark.sql(query)
                    self._plan_cacheable = False
                    return res
                except Exception as fb_exc:
                    # the engine PARSED a statement Spark cannot
                    # (engine-only syntax, e.g. QUALIFY) — surface the
                    # engine's own planning error, not Spark's parse
                    # error (round 16). Analysis-level Spark failures
                    # still surface as-is: for plain-SQL statements
                    # outside the dialect they carry the meaningful
                    # message.
                    if (
                        stmt is not None
                        and type(fb_exc).__name__ == "ParseException"
                    ):
                        raise u_exc from None
                    raise
            raise

    def _emulate_tail_rescue(
        self, query: str, stmt, dedup: bool = True
    ) -> DataFrame | None:
        """Exact rescue for a routed statement that spark.sql cannot
        run verbatim (round 16): a non-full or explicit-DISTINCT
        statement with an ORDER BY on a non-output column (ANSI
        DISTINCT rejects it) and a LIMIT/OFFSET tail, or a statement
        carrying QUALIFY (Spark cannot parse it). Reproduces
        finalize's semantics (compiler/cqc.py) over the verbatim
        spark.sql body: the QUALIFY predicate and each ORDER BY
        expression become select-list helper columns (text-level,
        top-level scan — _split_qualify / _split_tail_rescue); rows
        failing QUALIFY are filtered and its helper dropped; with
        ``dedup`` the rows collapse over the ORIGINAL output columns,
        each sort helper to its best rank (min for asc, max for desc);
        then sort/offset/limit and drop the helpers. Returns None when
        the text does not scan cleanly or the emulated frame fails
        analysis — the caller then surfaces the routing error instead
        of guessing."""
        from pyspark.sql import functions as F

        from sparksqlplus_spark.compiler.cqc import _sort_col

        qualify = None
        if getattr(stmt, "qualify", None):
            split = _split_qualify(query)
            if split is None:
                return None
            query, qualify = split
        has_tail = bool(stmt.order_by) or stmt.limit is not None or bool(
            getattr(stmt, "offset", None)
        )
        if has_tail:
            parts = _split_tail_rescue(query, len(stmt.order_by))
        else:
            froms = _top_level_positions(query)["from"]
            parts = (query.rstrip(), froms[0], []) if froms else None
        if parts is None:
            return None
        body, insert_at, order_sqls = parts
        helpers = [
            f"{sql} AS __sort_{i}" for i, sql in enumerate(order_sqls)
        ]
        if qualify is not None:
            helpers.append(f"({qualify}) AS __qualify")
        modified = (
            body[:insert_at].rstrip()
            + (f", {', '.join(helpers)} " if helpers else " ")
            + body[insert_at:]
        )
        self._plan_cacheable = False
        try:
            df = self.spark.sql(modified)
            if qualify is not None:
                df = df.filter(F.col("__qualify")).drop("__qualify")
            out_cols = [
                c for c in df.columns if not c.startswith("__sort_")
            ]
            if not out_cols or len(set(out_cols)) != len(out_cols):
                return None
            res = df
            if stmt.order_by:
                if dedup:
                    aggs = [
                        (F.max if it.desc else F.min)(
                            F.col(f"__sort_{i}")
                        ).alias(f"__sort_{i}")
                        for i, it in enumerate(stmt.order_by)
                    ]
                    res = res.groupBy(
                        *[F.col(c) for c in out_cols]
                    ).agg(*aggs)
                res = res.orderBy(
                    *[
                        _sort_col(
                            F.col(f"__sort_{i}"), it.desc, it.nulls
                        )
                        for i, it in enumerate(stmt.order_by)
                    ]
                )
            elif dedup:
                res = res.dropDuplicates()
            if getattr(stmt, "offset", None):
                res = res.offset(stmt.offset)
            if stmt.limit is not None:
                res = res.limit(stmt.limit)
            return res.select(*[F.col(c) for c in out_cols])
        except Exception as emu_exc:
            # the groupBy/agg/orderBy construction analyzes eagerly —
            # an AnalysisException here (helper dtype that min/max
            # cannot aggregate, dotted output names F.col mis-resolves)
            # must decline the rescue so the caller surfaces the
            # routing error, not a raw Spark error (ADVICE r16 #2).
            _log.info(
                "tail-rescue emulation declined (%s: %s)",
                emu_exc.__class__.__name__,
                str(emu_exc).splitlines()[0][:200],
            )
            return None

    def plan_candidates(self, query: str, limit: int = 24) -> dict:
        """Ranked candidate join trees for user plan choice — the
        reference's /parse surface (sqlplus-web
        rest/controller/RestApiController.java:44-131,
        candidatesWithLimit LogicalPlanConverter.scala:58-62) as a
        library call instead of a REST endpoint.

        A candidate is one distinct edge-set from exhaustive GYO ear
        elimination x one valid enumeration root: every relation for
        full/aggregation queries, only the connex subtree for non-full
        ones (reference GyoAlgorithmTest line-3/line-4 semantics —
        e.g. the 3-chain full query yields 3 candidates, its v1-v2
        projection exactly 1 rooted at R1). Candidates are ranked by
        the same key `api.sql` uses to pick silently (Berge-acyclic
        first, then min max-edge-degree, then total comparison-path
        length); index 0 is the executed plan. Cyclic queries report
        the router's strategy and, for breakable cores, the candidate
        trees of the broken (acyclic) form.
        """
        from sparksqlplus_spark.plans.gyo import (
            comparison_paths,
            connex_subtree,
            enumerate_join_trees,
            is_berge_acyclic,
            rank_tree,
        )

        stmt = parse_statement(query)
        if isinstance(stmt, CompoundSpec):
            # set-operator compound: each part is its own plan; report
            # the fold structure so the surface agrees with _run_compound
            return {
                "strategy": "compound",
                "acyclic": True,
                "ops": [
                    f"{op}{' all' if is_all else ''}" for op, is_all in stmt.ops
                ],
                "parts": len(stmt.parts),
                "candidates": [],
            }
        spec = self._fold_scalars(
            self._decorrelate_scalars(self._decorrelate_select_scalars(stmt))
        )
        if spec.outer_joins:
            # outer-join plan: core + attachments (api._run_outer); the
            # core's own candidates are not enumerated here
            return {
                "strategy": "outer_join",
                "acyclic": True,
                "attachments": [
                    {
                        "alias": oj.item.alias,
                        "table": oj.item.table or f"({oj.item.alias})",
                        "side": oj.side,
                        "on": [c.key() for c in oj.conds],
                    }
                    for oj in spec.outer_joins
                ],
                "candidates": [],
            }
        # composite views must stay registered through the cyclic-path
        # statistics below — clean up only when the whole dict is built
        ephemeral = []
        try:
            ephemeral += self._lift_exists_joins(spec)
            ephemeral += self._plan_subqueries(spec)
            ctx = build_context(spec, self.catalog)
            return self._plan_candidates_ctx(ctx, limit)
        finally:
            for n in ephemeral:
                self.catalog.unregister(n)

    def _plan_candidates_ctx(self, ctx, limit: int) -> dict:
        from sparksqlplus_spark.plans.gyo import (
            comparison_paths,
            connex_subtree,
            enumerate_join_trees,
            is_berge_acyclic,
            rank_tree,
        )

        result: dict = {
            "full": ctx.is_full,
            "output_variables": [n for n, _ in ctx.output],
            "group_by": [e.key() for e in ctx.group_by],
            "aggregations": [(n, e.key()) for n, e in ctx.aggregations],
            "acyclic": True,
            "strategy": "cqc",
            "candidates": [],
        }
        if ctx.semi_filters:
            rel_alias = {r.rid: r.alias for r in ctx.relations}
            result["semi_joins"] = [
                {
                    "relation": rel_alias[rid],
                    "kind": (
                        "null_aware_anti"
                        if sf.negated and sf.null_aware
                        else "anti" if sf.negated else "semi"
                    ),
                    "inner_table": sf.table,
                    "keys": [list(k) for k in sf.keys],
                }
                for rid, sfs in sorted(ctx.semi_filters.items())
                for sf in sfs
            ]
        work_ctx = ctx
        if not enumerate_join_trees(ctx.relations, limit=1):  # cyclic
            from sparksqlplus_spark.plans.cyclic import (
                GHD_BLOWUP,
                _break_blowup,
                _cycle_orientation,
                ghd_multiplicity_safe,
                try_break,
            )
            from sparksqlplus_spark.plans.ghd import ghd_decompose

            result["acyclic"] = False
            broken = try_break(ctx)
            # mirror execute_cyclic's auto routing: a breakable core
            # still goes to GHD when the density rule says break's
            # first-join intermediate blows up (round-5 advice — the
            # reported strategy must match what sql() executes)
            if broken is not None and ghd_multiplicity_safe(ctx):
                blowup = _break_blowup(self.spark, self.catalog, ctx)
                if blowup is not None and blowup >= GHD_BLOWUP:
                    result["break_blowup"] = round(blowup, 2)
                    broken = None
            if broken is None:
                result["strategy"] = "ghd"
                alias = {r.rid: r.alias for r in ctx.relations}
                cyc = _cycle_orientation(ctx.relations)
                if cyc is not None:
                    result["bags"] = [
                        {
                            "members": [r.alias for r, _ in cyc],
                            "variables": sorted(
                                set().union(*[r.variables for r in ctx.relations])
                            ),
                            "kind": "cycle",
                        }
                    ]
                else:
                    decomp = ghd_decompose(ctx.relations) or ghd_decompose(
                        ctx.relations, max_bag=4
                    )
                    result["bags"] = (
                        [
                            {
                                "members": sorted(alias[r] for r in bag.rids),
                                "variables": sorted(bag.variables),
                            }
                            for bag in decomp.bags
                        ]
                        if decomp is not None
                        else []
                    )
                return result
            result["strategy"] = "break"
            work_ctx = broken[0]

        trees = enumerate_join_trees(work_ctx.relations, limit=limit)
        needed = self._executor._needed_vars(work_ctx)
        scored = []
        for t in trees:
            rank_key = rank_tree(t, work_ctx.comparisons)
            if work_ctx.is_full or work_ctx.aggregations or work_ctx.group_by:
                roots = sorted(t.relations)
            else:
                roots = sorted(connex_subtree(t, needed))
            for root in roots:
                rt = t.rerooted(root)
                paths = comparison_paths(rt, work_ctx.comparisons)
                alias = {rid: r.alias for rid, r in rt.relations.items()}
                edges = []
                for child, parent in sorted(rt.parent.items()):
                    key = sorted(rt.join_key(child))
                    kset = set(key)
                    p_pk = set(rt.relations[parent].primary_key_vars)
                    c_pk = set(rt.relations[child].primary_key_vars)
                    if p_pk and p_pk <= kset:
                        ktype = "parent-pk"  # child row matches <=1 parent
                    elif c_pk and c_pk <= kset:
                        ktype = "child-pk"
                    else:
                        ktype = "many-to-many"
                    edges.append(
                        {
                            "parent": alias[parent],
                            "child": alias[child],
                            "join_key": key,
                            "key_type": ktype,
                        }
                    )
                scored.append(
                    (
                        rank_key,
                        alias[root],
                        {
                            "root": alias[root],
                            "berge_acyclic": is_berge_acyclic(paths),
                            "rank_key": list(rank_key),
                            "relations": [
                                {
                                    "alias": r.alias,
                                    "table": r.table,
                                    "kind": r.kind,
                                    "variables": sorted(r.variables),
                                    "primary_key": sorted(r.primary_key_vars),
                                }
                                for _, r in sorted(rt.relations.items())
                            ],
                            "edges": edges,
                            "comparison_paths": {
                                cid: sorted(
                                    sorted(alias[x] for x in e) for e in es
                                )
                                for cid, es in paths.items()
                            },
                        },
                    )
                )
        scored.sort(key=lambda s: (s[0], s[1]))
        for i, (_, _, cand) in enumerate(scored):
            cand["rank"] = i
            result["candidates"].append(cand)
        return result

    def explain_tree(self, query: str, cyclic_strategy: str = "auto") -> str:
        """Debug: render the join tree chosen for a query; for cyclic
        queries, describe the chosen strategy (break rewrite or GHD
        decomposition with per-bag evaluation). Pass
        cyclic_strategy='ghd' to preview the GHD plan even when the
        auto router would break. Compounds render one tree per part;
        outer joins render the core tree plus attachment lines."""
        stmt = parse_statement(query)
        if isinstance(stmt, CompoundSpec):
            out = ["compound (ANSI bag parts):"]
            for i, part in enumerate(stmt.parts):
                if i:
                    op, is_all = stmt.ops[i - 1]
                    out.append(f"-- {op.upper()}{' ALL' if is_all else ''} --")
                out.append(self._explain_parsed(part, cyclic_strategy))
            return "\n".join(out)
        return self._explain_parsed(stmt, cyclic_strategy)

    def _explain_parsed(self, spec, cyclic_strategy: str = "auto") -> str:
        spec = self._fold_scalars(
            self._decorrelate_scalars(self._decorrelate_select_scalars(spec))
        )
        if spec.outer_joins:
            from sparksqlplus_spark.expressions import Col
            from sparksqlplus_spark.parser.sql import QuerySpec, SelectItem
            from sparksqlplus_spark.plans.context import _make_relation

            ephemeral = self._plan_subqueries(spec)
            try:
                inner = {fi.alias for fi in spec.from_items}
                alias_cols: dict[str, list[str]] = {}
                for i, fi in enumerate(spec.from_items):
                    alias_cols[fi.alias] = list(
                        _make_relation(i, fi, self.catalog).col_to_var
                    )
                # display approximation of _run_outer's split: fully
                # qualified inner-only conjuncts join the core tree
                # same preserved-core predicate as _run_outer — an
                # INNER attachment after a LEFT join keeps the core
                # non-null-supplied (round-7 ADVICE); decorrelation
                # conjuncts additionally stay core-side under
                # RIGHT/FULL (core_safe_where)
                preserved = all(
                    oj.side in ("left", "inner") for oj in spec.outer_joins
                )
                safe = spec.core_safe_where
                core_where = [
                    c
                    for c in [
                        *spec.inner_on,
                        *(spec.where if preserved else safe),
                    ]
                    if {a for a, _ in c.refs()} <= inner
                    and all(a != "" for a, _ in c.refs())
                ]
                core_sel = [
                    SelectItem(Col(a, cols[0]), f"__e{k}")
                    for k, (a, cols) in enumerate(alias_cols.items())
                    if cols
                ]
                core = QuerySpec(
                    select=core_sel, distinct=False,
                    from_items=spec.from_items, where=core_where,
                )
                core_txt = self._explain_ctx(
                    build_context(core, self.catalog), cyclic_strategy
                )
                lines = ["outer-join plan (ANSI):"]
                lines += ["  " + ln for ln in core_txt.splitlines()]
                for oj in spec.outer_joins:
                    tgt = oj.item.table or f"({oj.item.alias})"
                    conds = ", ".join(c.key() for c in oj.conds)
                    lines.append(
                        f"  {oj.side}_join {tgt} AS {oj.item.alias} on [{conds}]"
                    )
                return "\n".join(lines)
            finally:
                for n in ephemeral:
                    self.catalog.unregister(n)
        ephemeral = []
        try:
            ephemeral += self._lift_exists_joins(spec)
            ephemeral += self._plan_subqueries(spec)
            return self._explain_ctx(
                build_context(spec, self.catalog), cyclic_strategy
            )
        finally:
            for n in ephemeral:
                self.catalog.unregister(n)

    def _explain_ctx(self, ctx, cyclic_strategy: str = "auto") -> str:
        tree = best_join_tree(ctx.relations, ctx.comparisons)

        def render(t, ctx_) -> str:
            lines: list[str] = []

            def walk(rid: int, depth: int) -> None:
                rel = t.relations[rid]
                key = t.join_key(rid) if rid in t.parent else ()
                semis = "".join(
                    f" {'anti' if sf.negated else 'semi'}({sf.table} on "
                    f"{[ov for ov, _ in sf.keys]})"
                    for sf in ctx_.semi_filters.get(rel.rid, [])
                )
                lines.append(
                    "  " * depth
                    + f"{rel.alias}[{rel.kind}] vars={sorted(rel.variables)} key={list(key)}"
                    + semis
                )
                for c in t.children[rid]:
                    walk(c, depth + 1)

            walk(t.root, 0)
            return "\n".join(lines)

        if tree is not None:
            return render(tree, ctx)
        # cyclic: explain the router's decision (mirrors execute_cyclic,
        # including the density rule and its catalog-kept moments)
        from sparksqlplus_spark.plans.cyclic import (
            GHD_BLOWUP,
            _break_blowup,
            _triangle_orientation,
            ghd_multiplicity_safe,
            try_break,
        )
        from sparksqlplus_spark.plans.ghd import ghd_decompose

        broken = try_break(ctx) if cyclic_strategy in ("auto", "break") else None
        blowup = None
        if broken is not None and cyclic_strategy == "auto" and ghd_multiplicity_safe(ctx):
            blowup = _break_blowup(self.spark, self.catalog, ctx)
        dense = blowup is not None and blowup >= GHD_BLOWUP
        decomp = ghd_decompose(ctx.relations) or ghd_decompose(ctx.relations, max_bag=4)
        if broken is not None and (not dense or decomp is None):
            new_ctx, btree = broken
            n_breaks = len(new_ctx.residuals) - len(ctx.residuals)
            head = f"cyclic: break rewrite ({n_breaks} clone(s) + residual equalities)"
            if blowup is not None:
                head += f" [blowup {blowup:.1f} < {GHD_BLOWUP}]"
            return head + "\n" + render(btree, new_ctx)
        if decomp is None:
            return "cyclic: no break/GHD plan — greedy connected joins"
        # build the (lazy) relation frames so the bag label reflects the
        # SAME checks _eval_bag applies (triangle/cycle shape AND
        # integral keys) — no job runs, only plan analysis
        from sparksqlplus_spark.compiler.cqc import build_relation_df
        from sparksqlplus_spark.plans.cyclic import (
            _cycle_orientation,
            _integral_types,
        )

        dfs = {
            r.rid: build_relation_df(
                self.spark, self.catalog, r, ctx.local_filters.get(r.rid, []),
                ctx.var_map, semi_filters=ctx.semi_filters.get(r.rid, []),
            )
            for r in ctx.relations
        }
        by_id = {r.rid: r for r in ctx.relations}
        # mirror execute_ghd's whole-query k-cycle single-bag override
        whole_cycle = _cycle_orientation(ctx.relations)
        if whole_cycle is not None and all(
            _integral_types(dfs[r.rid].select(a, b), [a, b])
            for r, (a, b) in whole_cycle
        ):
            aliases = ", ".join(r.alias for r, _ in whole_cycle)
            head = (
                f"cyclic: GHD (single {len(ctx.relations)}-cycle bag, "
                f"fractional width {len(ctx.relations) / 2.0})"
            )
            if dense:
                head += f" [density-routed: break blowup {blowup:.1f} >= {GHD_BLOWUP}]"
            all_vars = sorted(set().union(*[r.variables for r in ctx.relations]))
            return head + f"\n  bag0 [wcoj-cycle] {{{aliases}}} vars={all_vars}"
        head = f"cyclic: GHD (fractional width {decomp.width})"
        if dense:
            head += f" [density-routed: break blowup {blowup:.1f} >= {GHD_BLOWUP}]"
        lines = [head]
        for i, bag in enumerate(decomp.bags):
            members = [by_id[r] for r in sorted(bag.rids)]
            tri = _triangle_orientation(members)
            if len(members) == 1:
                kind = "scan"
            elif tri is not None and all(
                _integral_types(dfs[rel.rid], [a, b]) for rel, (a, b) in tri
            ):
                kind = "triangle"
            else:
                kind = "binary-joins"
            aliases = ", ".join(m.alias for m in members)
            lines.append(
                f"  bag{i} [{kind}] {{{aliases}}} vars={sorted(bag.variables)}"
            )
        return "\n".join(lines)

    def _ensure_views(self) -> None:
        """Publish catalog tables as Spark temp views so the
        mode='auto' spark.sql fallback resolves them: path-backed
        scans AND user-registered DataFrames (round 10 — previously
        register_df tables were invisible to the fallback). Internal
        ephemeral plan views (``__``-prefixed) stay private."""
        for meta in self.catalog.tables():
            if meta.name.startswith("__"):
                continue
            if meta.df is not None:
                meta.df.createOrReplaceTempView(meta.name)
            elif meta.path:
                meta.load(self.spark).createOrReplaceTempView(meta.name)
