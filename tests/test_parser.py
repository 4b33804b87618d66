"""Parser unit tests (reference SqlPlusParserTest intent, SURVEY §5):
DDL shapes, tokenizer edge cases, precedence, literals, CAST."""

import pytest

from sparksqlplus_spark.catalog import parse_ddl
from sparksqlplus_spark.expressions import (
    AndCond,
    Arith,
    Cast,
    CaseWhen,
    Cmp,
    Col,
    InList,
    Like,
    Lit,
    OrCond,
)
from sparksqlplus_spark.parser.sql import UnsupportedSqlError, parse_query


def test_ddl_single_and_composite_pk():
    cat = parse_ddl(
        """CREATE TABLE a (x INT, y VARCHAR, PRIMARY KEY (x));
           CREATE TABLE b (p INT, q INT, r DECIMAL, PRIMARY KEY (p, q))
           WITH ('path' = '/tmp/b.csv', 'cardinality' = '42');"""
    )
    assert cat.get("a").primary_key == ("x",)
    assert cat.get("B").primary_key == ("p", "q")  # case-insensitive lookup
    assert cat.get("b").cardinality == 42
    assert cat.get("b").fmt == "csv"


def test_ddl_invalid_type():
    with pytest.raises(ValueError):
        parse_ddl("CREATE TABLE t (x BLOB)")


def test_string_escapes_and_literals():
    q = parse_query("SELECT a FROM t WHERE s = 'it''s' AND d = DATE '1995-01-01'")
    assert q.where[0].right.value == "it's"
    assert q.where[1].right.kind == "date"


def test_precedence_or_and():
    q = parse_query("SELECT a FROM t WHERE p = 1 AND q = 2 OR r = 3")
    # AND binds tighter: (p=1 AND q=2) OR r=3 — one top-level OR
    assert len(q.where) == 1
    assert isinstance(q.where[0], OrCond)
    assert isinstance(q.where[0].children[0], AndCond)


def test_arith_precedence():
    q = parse_query("SELECT a + b * c FROM t")
    e = q.select[0].expr
    assert isinstance(e, Arith) and e.op == "+"
    assert isinstance(e.right, Arith) and e.right.op == "*"


def test_between_desugars():
    # BETWEEN becomes two comparisons, flattened into the conjunction
    q = parse_query("SELECT a FROM t WHERE a BETWEEN 1 AND 5")
    assert len(q.where) == 2
    assert q.where[0].op == ">=" and q.where[1].op == "<="


def test_not_like_and_not_in():
    q = parse_query("SELECT a FROM t WHERE a NOT LIKE 'x%' AND b NOT IN (1, 2)")
    assert isinstance(q.where[0], Like) and q.where[0].negated
    assert isinstance(q.where[1], InList) and q.where[1].negated


def test_cast_parses():
    q = parse_query("SELECT CAST(a AS BIGINT) AS b, CAST(x AS VARCHAR) FROM t")
    assert isinstance(q.select[0].expr, Cast)
    assert q.select[0].expr.type_name == "bigint"
    assert q.select[1].expr.type_name == "string"


def test_case_when_nested():
    q = parse_query(
        "SELECT CASE WHEN a = 1 AND b = 2 THEN 'x' ELSE 'y' END FROM t"
    )
    assert isinstance(q.select[0].expr, CaseWhen)


def test_unsupported_raises():
    with pytest.raises(UnsupportedSqlError):
        # quantified subqueries must be plain single-column SELECTs
        parse_query("SELECT a FROM t WHERE a > ALL (SELECT b FROM s GROUP BY b)")


def test_having_parses_with_group_by_only():
    q = parse_query(
        "SELECT a, COUNT(*) FROM t GROUP BY a HAVING COUNT(*) > 5 AND a = 1"
    )
    assert len(q.having) == 2
    # bare HAVING (no GROUP BY) parses since round 8 — the ANSI
    # global-aggregate filter; context validation still rejects
    # non-aggregate refs (test_bare_having below)
    q2 = parse_query("SELECT COUNT(*) FROM t HAVING COUNT(*) > 1")
    assert len(q2.having) == 1 and not q2.group_by


def test_outer_parses_exists_parses():
    """TPC-H Q13/Q21 surface: LEFT OUTER JOIN now PARSES into an
    OuterJoin attachment (native planning via api._run_outer since
    round 6 — build_context still rejects it so plain context callers
    fall back); single-table [NOT] EXISTS parses into an Exists
    conjunct (native semi/anti planning)."""
    from sparksqlplus_spark.expressions import Exists

    q = parse_query(
        "SELECT c.c_custkey FROM customer AS c "
        "LEFT OUTER JOIN orders AS o ON c.c_custkey = o.o_custkey"
    )
    (oj,) = q.outer_joins
    assert oj.item.alias == "o" and oj.side == "left" and len(oj.conds) == 1
    q = parse_query(
        "SELECT a FROM t WHERE NOT EXISTS "
        "(SELECT * FROM s WHERE s.b = t.a)"
    )
    (ex,) = q.where
    assert isinstance(ex, Exists) and ex.negated and ex.table == "s"


def test_interval_literal():
    q = parse_query("SELECT a FROM t WHERE d < DATE '2000-01-01' + INTERVAL '30' DAY")
    add = q.where[0].right
    assert isinstance(add, Arith) and add.right.kind == "interval_day"
    assert add.right.value == 30


def test_join_on_desugar():
    q = parse_query(
        "SELECT a.x FROM a INNER JOIN b ON a.k = b.k JOIN c ON b.j = c.j WHERE a.x > 1"
    )
    assert len(q.from_items) == 3
    assert len(q.where) == 3


def test_grouped_output_requires_group_or_aggregate(engine):
    """An output over GROUP BY that is neither a grouped expression nor
    a modeled aggregate (e.g. percentile — real but outside the CQC
    subset) must raise UnsupportedSqlError at validation, so that
    mode='auto' falls back to spark.sql instead of failing mid-plan."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    sql = ("SELECT o.o_custkey, percentile(o.o_totalprice, 0.5) AS p50 "
           "FROM orders AS o GROUP BY o.o_custkey")
    with pytest.raises(UnsupportedSqlError, match="non-grouped"):
        engine.context(sql)
    # auto mode completes through the spark.sql fallback
    assert engine.sql(sql).count() > 0


def test_exists_parses_and_plans_native(engine):
    """[NOT] EXISTS with single-table equality correlation plans
    NATIVELY (no fallback): the context carries a SemiFilter and the
    result matches spark.sql exactly. Out-of-subset EXISTS shapes
    (joins inside, OR'd EXISTS, uncorrelated) raise and fall back."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    sql = ("SELECT c.c_custkey, c.c_name FROM customer AS c "
           "WHERE EXISTS (SELECT * FROM orders AS o "
           "              WHERE o.o_custkey = c.c_custkey "
           "                AND o.o_orderpriority = '1-URGENT')")
    ctx = engine.context(sql)
    sfs = ctx.semi_filters[ctx.relation_by_alias("c").rid]
    assert len(sfs) == 1 and not sfs[0].negated
    assert sfs[0].keys == (("v1", "o_custkey"),) or len(sfs[0].keys) == 1
    ours = engine.sql(sql, mode="cqc")
    ref = engine.sql(sql, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0 and ref.exceptAll(ours).count() == 0

    neg = ("SELECT c.c_custkey FROM customer AS c "
           "WHERE NOT EXISTS (SELECT * FROM orders AS o "
           "                  WHERE o.o_custkey = c.c_custkey)")
    ctx2 = engine.context(neg)
    assert ctx2.semi_filters[0][0].negated
    ours2 = engine.sql(neg, mode="cqc")
    ref2 = engine.sql(neg, mode="spark")
    assert ours2.count() == ref2.count()
    assert ours2.exceptAll(ref2).count() == 0

    # joined with another relation: semi filter + normal join tree
    joined = ("SELECT c.c_custkey, n.n_name FROM customer AS c, nation AS n "
              "WHERE c.c_nationkey = n.n_nationkey "
              "  AND EXISTS (SELECT * FROM orders AS o "
              "              WHERE o.o_custkey = c.c_custkey)")
    ours3 = engine.sql(joined, mode="cqc")
    ref3 = engine.sql(joined, mode="spark")
    assert ours3.count() == ref3.count() > 0
    assert ours3.exceptAll(ref3).count() == 0

    # uncorrelated EXISTS plans natively since round 9: a keyless
    # SemiFilter (broadcast LIMIT-1 constant gate)
    unc = ("SELECT c.c_custkey FROM customer AS c WHERE EXISTS "
           "(SELECT * FROM orders AS o WHERE o.o_totalprice > 100)")
    ctx4 = engine.context(unc)
    gate = [sf for sfs in ctx4.semi_filters.values() for sf in sfs]
    assert len(gate) == 1 and gate[0].keys == ()
    ours4 = engine.sql(unc, mode="cqc")
    ref4 = engine.sql(unc, mode="spark").distinct()
    assert ours4.count() == ref4.count() > 0
    assert ours4.exceptAll(ref4).count() == 0

    for bad in [
        # OR'd with another predicate — the context build itself
        # rejects it (api-level flag-join lift handles it upstream)
        ("SELECT c.c_custkey FROM customer AS c WHERE c.c_custkey < 10 OR "
         "EXISTS (SELECT * FROM orders AS o WHERE o.o_custkey = c.c_custkey)"),
    ]:
        with pytest.raises(UnsupportedSqlError):
            engine.context(bad)
        # auto mode still answers through the fallback
        assert engine.sql(bad).count() >= 0


def test_exists_join_body_lifts_to_view(engine):
    """[NOT] EXISTS with a JOIN inside the subquery (TPC-H Q4 shape
    widened) lifts the inner block to a composite DISTINCT view
    (api._lift_exists_joins) and plans the same SemiFilter semi/anti
    join against it; results match spark.sql and the explain surface
    shows the semi join."""
    cases = [
        ("SELECT o.o_orderpriority, COUNT(*) AS order_count "
         "FROM orders AS o WHERE EXISTS "
         "(SELECT * FROM lineitem AS l, part AS p "
         " WHERE l.l_partkey = p.p_partkey "
         " AND l.l_orderkey = o.o_orderkey AND p.p_size = 15) "
         "GROUP BY o.o_orderpriority"),
        # explicit JOIN ... ON syntax + NOT EXISTS (anti join)
        ("SELECT COUNT(*) AS n FROM customer AS c "
         "WHERE NOT EXISTS (SELECT * FROM orders AS o JOIN lineitem AS l "
         " ON o.o_orderkey = l.l_orderkey "
         " WHERE o.o_custkey = c.c_custkey AND l.l_quantity > 45)"),
        # extra non-equality correlation into the lifted view
        ("SELECT s.s_suppkey FROM supplier AS s "
         "WHERE EXISTS (SELECT * FROM lineitem AS l, part AS p "
         " WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey "
         " AND l.l_extendedprice < s.s_acctbal AND p.p_size = 15)"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count(), q
        assert ours.exceptAll(ref).count() == 0, q
        assert ref.exceptAll(ours).count() == 0, q
    assert "semi(__exv" in engine.explain_tree(cases[0])


def test_in_subquery_desugars_to_semijoin(engine):
    """expr IN (SELECT col FROM t WHERE ...) desugars to the Exists
    semi-join; NOT IN (subquery) plans as a NULL-AWARE anti join
    (hash anti + broadcast has-null check) and matches spark.sql."""
    sql = ("SELECT c.c_custkey FROM customer AS c "
           "WHERE c.c_custkey IN (SELECT o_custkey FROM orders AS o "
           "                      WHERE o.o_orderpriority = '1-URGENT')")
    ctx = engine.context(sql)
    assert ctx.semi_filters and not ctx.semi_filters[0][0].negated
    ours = engine.sql(sql, mode="cqc")
    ref = engine.sql(sql, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0

    neg = ("SELECT c.c_custkey FROM customer AS c "
           "WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders AS o "
           "                          WHERE o.o_orderpriority = '1-URGENT')")
    ctx2 = engine.context(neg)
    (sf2,) = ctx2.semi_filters[0]
    assert sf2.negated and sf2.null_aware
    ours2 = engine.sql(neg, mode="cqc")
    ref2 = engine.sql(neg, mode="spark")
    assert ours2.count() == ref2.count() > 0
    assert ours2.exceptAll(ref2).count() == 0


def test_not_in_subquery_null_semantics(spark):
    """NOT IN three-valued logic on synthetic data: any NULL in the
    inner set empties the result; a NULL probe never qualifies against
    a non-empty set; an EMPTY inner set keeps every row including NULL
    probes. Each case is checked against spark.sql."""
    from sparksqlplus_spark.api import SparkSQLPlus

    eng = SparkSQLPlus(spark)
    probe = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40)], "pk int, x int"
    )
    eng.register("probe_t", probe, primary_key=("pk",))
    for inner_rows, tag in [
        ([(10,), (30,)], "plain"),          # drops x=10; keeps 20, 40; drops NULL
        ([(10,), (None,)], "inner-null"),   # empty result
        ([], "empty-set"),                  # keeps all four rows
    ]:
        inner = spark.createDataFrame(inner_rows, "y int")
        eng.register("inner_t", inner)
        q = ("SELECT p.pk FROM probe_t AS p "
             "WHERE p.x NOT IN (SELECT y FROM inner_t AS i)")
        ctx = eng.context(q)
        (sf,) = ctx.semi_filters[0]
        assert sf.negated and sf.null_aware, tag
        ours = sorted(r.pk for r in eng.sql(q, mode="cqc").collect())
        ref = sorted(r.pk for r in eng.sql(q, mode="spark").collect())
        assert ours == ref, f"{tag}: {ours} != {ref}"
    expected = {"plain": [2, 4], "inner-null": [], "empty-set": [1, 2, 3, 4]}
    assert ours == expected["empty-set"]


def test_rollup_cube_grouping_sets(engine):
    """GROUP BY ROLLUP / CUBE / GROUPING SETS (engine extension) plan
    natively through the grouped-frame finalize and match spark.sql,
    including GROUPING() indicators; subquery ROLLUP and GROUPING()
    without ROLLUP raise and ride the fallback."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    cases = [
        ("SELECT o.o_orderpriority AS pri, o.o_orderstatus AS st, "
         "COUNT(*) AS n, GROUPING(o.o_orderstatus) AS g FROM orders AS o "
         "GROUP BY ROLLUP(o.o_orderpriority, o.o_orderstatus)"),
        ("SELECT n.n_regionkey AS rk, c.c_mktsegment AS seg, COUNT(*) AS n "
         "FROM customer AS c, nation AS n "
         "WHERE c.c_nationkey = n.n_nationkey "
         "GROUP BY CUBE(n.n_regionkey, c.c_mktsegment)"),
        ("SELECT o.o_orderpriority AS pri, o.o_orderstatus AS st, "
         "COUNT(*) AS n FROM orders AS o GROUP BY GROUPING SETS "
         "((o.o_orderpriority), (o.o_orderstatus), ())"),
    ]
    for q in cases:
        ours = eng_df = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count() > 0
        assert ours.exceptAll(ref).count() == 0
        assert ref.exceptAll(eng_df).count() == 0

    with pytest.raises(UnsupportedSqlError):
        engine.context(
            "SELECT t.s, COUNT(*) AS n FROM "
            "(SELECT o_orderstatus AS s, COUNT(*) AS c FROM orders "
            " GROUP BY ROLLUP(o_orderstatus)) AS t GROUP BY t.s"
        )
    with pytest.raises(UnsupportedSqlError):
        engine.context(
            "SELECT o.o_orderstatus AS st, GROUPING(o.o_orderstatus) AS g, "
            "COUNT(*) AS n FROM orders AS o GROUP BY o.o_orderstatus"
        )


def test_composite_view_planning(engine):
    """FROM-subqueries outside the narrow native shapes plan
    RECURSIVELY (aggregates over joins, nesting, ORDER BY/LIMIT views)
    as ephemeral DataFrame-backed catalog tables, and the ephemeral
    names never leak."""
    q = ("SELECT t.c_count AS c_count, COUNT(*) AS custdist "
         "FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count "
         "      FROM customer AS c, orders AS o "
         "      WHERE c.c_custkey = o.o_custkey GROUP BY c.c_custkey) AS t "
         "GROUP BY t.c_count ORDER BY custdist DESC, c_count DESC")
    ours = engine.sql(q, mode="cqc")
    ref = engine.sql(q, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0
    assert not [t.name for t in engine.catalog.tables()
                if t.name.startswith("__view")]


def test_left_outer_join_native(engine):
    """LEFT [OUTER] JOIN plans natively (core through the normal
    pipeline, attachments in source order, tail over the joined frame):
    right-side ON filters, the IS NULL anti-join idiom, chains, and
    the TPC-H Q13 shape all match spark.sql."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    cases = [
        ("SELECT c.c_custkey, o.o_orderkey FROM customer AS c "
         "LEFT OUTER JOIN orders AS o ON c.c_custkey = o.o_custkey "
         "AND o.o_orderpriority = '1-URGENT'"),
        # WHERE right-col IS NULL == anti join (ANSI semantics)
        ("SELECT c.c_custkey FROM customer AS c "
         "LEFT JOIN orders AS o ON c.c_custkey = o.o_custkey "
         "AND o.o_totalprice > 200000.0 WHERE o.o_orderkey IS NULL"),
        # Q13: aggregate over a left join inside a derived table
        ("SELECT t.c_count AS c_count, COUNT(*) AS custdist FROM "
         "(SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count "
         " FROM customer AS c LEFT OUTER JOIN orders AS o "
         " ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT' "
         " GROUP BY c.c_custkey) AS t "
         "GROUP BY t.c_count ORDER BY custdist DESC, c_count DESC"),
        # chain + multi-relation inner core
        ("SELECT n.n_name, COUNT(o.o_orderkey) AS cnt "
         "FROM customer AS c, nation AS n "
         "LEFT JOIN orders AS o ON c.c_custkey = o.o_custkey "
         "AND o.o_totalprice > 150000.0 "
         "WHERE c.c_nationkey = n.n_nationkey GROUP BY n.n_name"),
    ]
    for q in cases:
        ours = engine.sql(q)
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count()
        assert ours.exceptAll(ref).count() == 0
        assert ref.exceptAll(ours).count() == 0

    # inner join AFTER an outer join changes semantics — rejected
    with pytest.raises(UnsupportedSqlError):
        from sparksqlplus_spark.parser.sql import parse_query

        parse_query(
            "SELECT c.c_custkey FROM customer AS c "
            "LEFT JOIN orders AS o ON c.c_custkey = o.o_custkey, lineitem AS l"
        )


def test_right_full_outer_join_native(engine):
    """RIGHT/FULL OUTER JOIN plan natively through the same three-phase
    planner: RIGHT preserves the right side (ON conjuncts never
    pre-filter it), FULL preserves both, inner-ON conjuncts stay inside
    the outer join's left operand while WHERE applies post-join, and
    the IS NULL idiom works against the nullable core."""
    from sparksqlplus_spark.parser.sql import parse_query

    cases = [
        # ON conjunct over the (preserved) right side: matching-only
        ("SELECT n.n_name, c.c_name FROM customer AS c "
         "RIGHT JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
         "AND c.c_acctbal > 9900.0"),
        # IS NULL over the null-supplied core — must NOT be pushed
        ("SELECT n.n_name FROM customer AS c "
         "RIGHT JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
         "AND c.c_acctbal > 9900.0 WHERE c.c_custkey IS NULL"),
        # FULL + aggregation over the nullable side
        ("SELECT o.o_orderpriority, COUNT(l.l_orderkey) AS cnt "
         "FROM orders AS o FULL OUTER JOIN lineitem AS l "
         "ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 49 "
         "GROUP BY o.o_orderpriority"),
        # inner-ON stays pre-join when a RIGHT join follows
        ("SELECT s.s_name, n.n_name, r.r_name FROM supplier AS s "
         "JOIN nation AS n ON s.s_nationkey = n.n_nationkey "
         "RIGHT JOIN region AS r ON n.n_regionkey = r.r_regionkey "
         "AND s.s_acctbal > 9000.0"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count(), q
        assert ours.exceptAll(ref).count() == 0, q
        assert ref.exceptAll(ours).count() == 0, q

    # parse shape: inner-ON kept separate only when RIGHT/FULL present
    spec = parse_query(
        "SELECT s.s_name FROM supplier AS s "
        "JOIN nation AS n ON s.s_nationkey = n.n_nationkey "
        "RIGHT JOIN region AS r ON n.n_regionkey = r.r_regionkey"
    )
    assert len(spec.inner_on) == 1 and not spec.where
    assert [oj.side for oj in spec.outer_joins] == ["right"]
    spec_l = parse_query(
        "SELECT s.s_name FROM supplier AS s "
        "JOIN nation AS n ON s.s_nationkey = n.n_nationkey "
        "LEFT JOIN region AS r ON n.n_regionkey = r.r_regionkey"
    )
    assert not spec_l.inner_on and len(spec_l.where) == 1


def test_window_functions_native(engine):
    """fn() OVER (PARTITION BY ... ORDER BY ...) plans natively with
    ANSI semantics — ranking in a derived table (top-k idiom), running
    aggregates, lag with defaults, and windows over a join all match
    spark.sql; windows outside the SELECT list raise and fall back."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    cases = [
        ("SELECT c_custkey, o_orderkey, rnk FROM ("
         "  SELECT o.o_custkey AS c_custkey, o.o_orderkey AS o_orderkey,"
         "         CAST(ROW_NUMBER() OVER (PARTITION BY o.o_custkey"
         "           ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT)"
         "           AS rnk"
         "  FROM orders AS o) AS t WHERE rnk <= 3"),
        ("SELECT o.o_orderkey, SUM(o.o_totalprice) OVER ("
         "PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey"
         ") AS run FROM orders AS o"),
        ("SELECT o.o_orderkey, LAG(o.o_totalprice, 1, 0.0) OVER ("
         "PARTITION BY o.o_custkey ORDER BY o.o_orderkey) AS prev "
         "FROM orders AS o"),
        ("SELECT c.c_name, RANK() OVER (PARTITION BY c.c_nationkey "
         "ORDER BY o.o_totalprice DESC) AS r "
         "FROM customer AS c, orders AS o WHERE c.c_custkey = o.o_custkey"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count() > 0
        assert ours.exceptAll(ref).count() == 0
        assert ref.exceptAll(ours).count() == 0

    for bad, valid_sql in [
        # window in WHERE — invalid SQL everywhere, no fallback rescue
        ("SELECT o.o_orderkey FROM orders AS o "
         "WHERE ROW_NUMBER() OVER (ORDER BY o.o_orderkey) <= 3", False),
        # window over an aggregated query — valid SQL, fallback handles
        ("SELECT o.o_custkey, RANK() OVER (ORDER BY SUM(o.o_totalprice)) "
         "AS r, SUM(o.o_totalprice) AS s FROM orders AS o "
         "GROUP BY o.o_custkey", True),
        # frame on a ranking function — invalid per ANSI, falls back to
        # Spark's own error surface (explicit frames on aggregates are
        # NATIVE since r7 — covered by test_window_frames_equals_spark)
        ("SELECT RANK() OVER (ORDER BY o.o_orderkey "
         "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
         "FROM orders AS o", False),
    ]:
        with pytest.raises(UnsupportedSqlError):
            engine.sql(bad, mode="cqc")
        if valid_sql:
            assert engine.sql(bad).count() >= 0  # auto falls back


def test_compound_set_operators(engine):
    """Top-level UNION [ALL] / INTERSECT / EXCEPT chains plan each part
    natively with ANSI bag semantics and fold with Spark set ops; a
    trailing ORDER BY/LIMIT binds to the whole compound. INTERSECT
    mixed with other ops is rejected (precedence) and falls back."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError, parse_query

    cases = [
        # UNION ALL over non-full parts must keep duplicates (ANSI),
        # not collapse them with the CQ non-full DISTINCT rule
        ("SELECT o.o_orderstatus AS s FROM orders AS o "
         "WHERE o.o_totalprice > 100000.0 "
         "UNION ALL SELECT o.o_orderstatus AS s FROM orders AS o "
         "WHERE o.o_orderpriority = '1-URGENT'"),
        ("SELECT c.c_custkey AS k FROM customer AS c "
         "EXCEPT SELECT o.o_custkey AS k FROM orders AS o "
         "WHERE o.o_orderpriority = '1-URGENT'"),
        ("SELECT c.c_custkey AS k FROM customer AS c "
         "INTERSECT SELECT o.o_custkey AS k FROM orders AS o"),
        ("SELECT n.n_nationkey AS k FROM nation AS n "
         "UNION SELECT r.r_regionkey AS k FROM region AS r "
         "ORDER BY k DESC LIMIT 7"),
    ]
    for q in cases:
        ours = engine.sql(q)
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count()
        assert ours.exceptAll(ref).count() == 0
        assert ref.exceptAll(ours).count() == 0

    # compound stays out of parse_query (single-SELECT callers)
    with pytest.raises(UnsupportedSqlError):
        parse_query("SELECT a FROM t UNION SELECT b FROM u")
    # INTERSECT mixed with UNION is rejected at parse_statement
    from sparksqlplus_spark.parser.sql import parse_statement

    with pytest.raises(UnsupportedSqlError):
        parse_statement(
            "SELECT a FROM t UNION SELECT b FROM u INTERSECT SELECT c FROM v"
        )


def test_correlated_scalar_decorrelates(engine):
    """expr CMP (SELECT agg FROM t WHERE t.k = outer.k) rewrites to an
    aggregated view + equi-join (api._decorrelate_scalars) — the
    ORIGINAL Q17/Q2 spelling plans natively. A bare correlated COUNT
    decorrelates through a LEFT JOIN + COALESCE(cnt, 0) instead
    (0-on-empty-group breaks the inner-join equivalence), making the
    `WHERE (SELECT COUNT(*) ...) = 0` idiom native; COUNT wrapped in
    an expression still rides the fallback."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    cases = [
        ("SELECT SUM(l.l_extendedprice) / 7.0 AS avg_yearly "
         "FROM lineitem AS l, part AS p "
         "WHERE p.p_partkey = l.l_partkey AND p.p_size = 15 "
         "AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) "
         "FROM lineitem AS l2 WHERE l2.l_partkey = p.p_partkey)"),
        ("SELECT s.s_suppkey, s.s_acctbal FROM supplier AS s "
         "WHERE s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier AS s2 "
         "WHERE s2.s_nationkey = s.s_nationkey)"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count() > 0
        assert ours.exceptAll(ref).count() == 0

    count_cases = [
        # the customers-without-matching-orders idiom: cnt = 0
        ("SELECT c.c_custkey FROM customer AS c WHERE 0 = "
         "(SELECT COUNT(*) FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey "
         " AND o.o_totalprice > 350000.0)"),
        # threshold the other way, COUNT(col), subquery on the left
        ("SELECT c.c_custkey FROM customer AS c WHERE "
         "(SELECT COUNT(o.o_orderkey) FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey) >= 15"),
        # aggregate outer over the decorrelated count
        ("SELECT COUNT(*) AS n FROM customer AS c WHERE 0 = "
         "(SELECT COUNT(*) FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey AND "
         " o.o_orderpriority = '1-URGENT' "
         " AND o.o_totalprice > 250000.0)"),
    ]
    for q in count_cases:
        ours = engine.sql(q, mode="cqc")
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count() > 0, q
        assert ours.exceptAll(ref).count() == 0, q
        assert ref.exceptAll(ours).count() == 0, q

    # round-8: COUNT wrapped in constant arithmetic decorrelates
    # NATIVELY too — the wrapper re-applies over COALESCE(cnt, 0)
    # (test_count_arithmetic_decorrelation covers the variants)
    wrapped = ("SELECT c.c_custkey FROM customer AS c WHERE 1 = "
               "(SELECT COUNT(*) + 1 FROM orders AS o "
               " WHERE o.o_custkey = c.c_custkey)")
    assert (
        engine.sql(wrapped, mode="cqc")
        .exceptAll(engine.sql(wrapped, mode="spark")).count()
        == 0
    )


def test_scalar_subquery_folds_to_literal(engine):
    """Uncorrelated scalar subqueries fold to a computed Lit before
    planning (above-average filter — the classic idiom); correlated
    ones raise from the inner build and ride the fallback in auto."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    sql = ("SELECT o.o_orderkey, o.o_totalprice FROM orders AS o "
           "WHERE o.o_totalprice > (SELECT AVG(o2.o_totalprice) "
           "                        FROM orders AS o2)")
    ctx = engine.context(sql)
    (cond,) = ctx.local_filters[0]
    assert cond.right.kind == "double" and cond.right.value > 0
    ours = engine.sql(sql, mode="cqc")
    ref = engine.sql(sql, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0

    # nested: scalar inside the scalar's WHERE
    nested = ("SELECT o.o_orderkey FROM orders AS o "
              "WHERE o.o_totalprice > (SELECT MAX(o2.o_totalprice) "
              "  FROM orders AS o2 WHERE o2.o_totalprice < "
              "  (SELECT AVG(o3.o_totalprice) FROM orders AS o3))")
    assert engine.sql(nested, mode="cqc").count() == engine.sql(nested, mode="spark").count()

    # correlated -> unknown alias inside the inner build -> fallback
    corr = ("SELECT o.o_orderkey FROM orders AS o "
            "WHERE o.o_totalprice > (SELECT AVG(o2.o_totalprice) "
            "  FROM orders AS o2 WHERE o2.o_custkey = o.o_custkey)")
    with pytest.raises(UnsupportedSqlError):
        engine.context(corr)
    assert engine.sql(corr).count() >= 0


def test_with_cte_desugars_to_subquery(engine):
    """WITH over an aggregated view desugars to the native C21
    FROM-subquery shape (tpch_q15's revenue view as a CTE); a CTE
    whose body is outside the subset raises at context build and runs
    via the fallback; EXISTS over a CTE also falls back."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    sql = ("WITH rev AS (SELECT l_suppkey, SUM(l_extendedprice) AS total "
           "             FROM lineitem GROUP BY l_suppkey) "
           "SELECT s.s_suppkey, s.s_name, r.total "
           "FROM supplier AS s, rev AS r "
           "WHERE s.s_suppkey = r.l_suppkey AND r.total > 100000.0")
    ctx = engine.context(sql)
    assert any(rel.kind == "agg" for rel in ctx.relations)
    ours = engine.sql(sql, mode="cqc")
    ref = engine.sql(sql, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0

    # same CTE referenced twice: both FROM items become agg subqueries
    twice = ("WITH rev AS (SELECT l_suppkey, COUNT(*) AS n "
             "             FROM lineitem GROUP BY l_suppkey) "
             "SELECT a.l_suppkey, a.n, b.n FROM rev AS a, rev AS b "
             "WHERE a.l_suppkey = b.l_suppkey")
    ctx2 = engine.context(twice)
    assert sum(rel.kind == "agg" for rel in ctx2.relations) == 2
    assert engine.sql(twice, mode="cqc").count() > 0

    # non-agg CTE body -> now a native derived table (filtered scan)
    plain = ("WITH big AS (SELECT o_orderkey, o_totalprice FROM orders "
             "             WHERE o_totalprice > 100000.0) "
             "SELECT big.o_orderkey FROM big")
    ctx3 = engine.context(plain)
    assert ctx3.relations[0].sub_proj and ctx3.relations[0].pre_filters
    assert engine.sql(plain, mode="cqc").count() == \
        engine.sql(plain, mode="spark").count() > 0

    # EXISTS over a CTE -> fallback
    exq = ("WITH rev AS (SELECT l_suppkey, COUNT(*) AS n "
           "             FROM lineitem GROUP BY l_suppkey) "
           "SELECT s.s_suppkey FROM supplier AS s "
           "WHERE EXISTS (SELECT * FROM rev WHERE l_suppkey = s.s_suppkey)")
    with pytest.raises(UnsupportedSqlError):
        engine.context(exq)
    assert engine.sql(exq).count() > 0


def test_derived_table_filtered_scan(engine):
    """FROM (SELECT ...) derived tables plan as filtered scans: plain
    and renamed columns, a computed column usable as a join-able
    output, and a filter on an UNPROJECTED base column; results match
    spark.sql exactly. Window functions inside stay on the fallback."""
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    sql = ("SELECT t.k, t.price2, s.s_name "
           "FROM (SELECT l_suppkey AS k, l_extendedprice * 2 AS price2 "
           "      FROM lineitem WHERE l_quantity > 45) AS t, "
           "     supplier AS s "
           "WHERE t.k = s.s_suppkey")
    ctx = engine.context(sql)
    t_rel = ctx.relation_by_alias("t")
    assert t_rel.sub_proj and t_rel.pre_filters
    ours = engine.sql(sql, mode="cqc")
    ref = engine.sql(sql, mode="spark").distinct()  # non-full => DISTINCT
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0
    assert ref.exceptAll(ours).count() == 0

    # computed column without an alias is rejected (fallback in auto)
    with pytest.raises(UnsupportedSqlError):
        engine.context(
            "SELECT t.l_suppkey FROM (SELECT l_suppkey, l_quantity + 1 "
            "FROM lineitem) AS t"
        )
    # predicate pushdown: the base filter must reach the parquet scan
    plan = ours._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_quantity" in plan


def test_exists_inside_derived_table_lifts_to_pre_semi(engine):
    """[NOT] EXISTS inside a derived table's WHERE lifts to a semi/anti
    join on the BASE frame before the projection — the correlation
    column may be projected away (TPC-H Q22's custsale drops
    c_custkey). The full Q22 shape plans natively and matches
    spark.sql."""
    q = ("SELECT seg, COUNT(*) AS numcust FROM "
         "(SELECT substring(c_mktsegment, 1, 2) AS seg FROM customer "
         " WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer AS c2) "
         "   AND NOT EXISTS (SELECT * FROM orders "
         "                   WHERE o_custkey = c_custkey "
         "                     AND o_totalprice > 450000.0)) AS custsale "
         "GROUP BY seg")
    ctx = engine.context(q)
    rel = ctx.relations[0]
    assert rel.pre_semi and rel.pre_semi[0].negated
    assert rel.pre_semi[0].keys == (("c_custkey", "o_custkey"),)
    ours = engine.sql(q, mode="cqc")
    ref = engine.sql(q, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0
    assert ref.exceptAll(ours).count() == 0


def test_exists_non_equality_correlation(engine):
    """Correlated non-equality predicates (Q21's l2.l_suppkey <>
    l1.l_suppkey) AND into the semi-join condition alongside the
    equality keys — both EXISTS and NOT EXISTS forms plan natively and
    match spark.sql."""
    q = ("SELECT l1.l_orderkey, l1.l_suppkey FROM lineitem AS l1 "
         "WHERE EXISTS (SELECT * FROM lineitem AS l2 "
         "              WHERE l2.l_orderkey = l1.l_orderkey "
         "                AND l2.l_suppkey <> l1.l_suppkey) "
         "  AND NOT EXISTS (SELECT * FROM lineitem AS l3 "
         "                  WHERE l3.l_orderkey = l1.l_orderkey "
         "                    AND l3.l_linenumber > l1.l_linenumber)")
    ctx = engine.context(q)
    sfs = ctx.semi_filters[0]
    assert len(sfs) == 2 and all(sf.extra for sf in sfs)
    ours = engine.sql(q, mode="cqc")
    ref = engine.sql(q, mode="spark").distinct()
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0
    assert ref.exceptAll(ours).count() == 0


def test_distinct_aggregates(engine):
    """SUM/AVG/COUNT(DISTINCT ...) execute natively (AVG DISTINCT via
    the sum_distinct/count_distinct identity); MIN/MAX DISTINCT are
    no-ops. Matches spark.sql."""
    q = ("SELECT o.o_orderstatus AS st, SUM(DISTINCT o.o_custkey) AS sd, "
         "AVG(DISTINCT o.o_custkey) AS ad, COUNT(DISTINCT o.o_custkey) AS cd, "
         "MIN(DISTINCT o.o_totalprice) AS md "
         "FROM orders AS o GROUP BY o.o_orderstatus")
    ours = engine.sql(q, mode="cqc")
    ref = engine.sql(q, mode="spark")
    assert ours.count() == ref.count() > 0
    assert ours.exceptAll(ref).count() == 0


def test_review_regressions_round6(engine):
    """Round-6 review findings, pinned: (a) an unaliased derived table
    followed by LEFT JOIN must not eat 'left' as its alias and degrade
    to an inner join (raises -> fallback); (b) COUNT(*) OVER plans
    natively; (c) a window inside a derived-table projection keeps ANSI
    semantics even when the outer projection is non-full; (d) GROUPING()
    inside a C21-shaped subquery falls back instead of crashing."""
    cases = [
        ("SELECT c_custkey, o_orderkey FROM (SELECT * FROM customer) "
         "LEFT JOIN orders AS o ON c_custkey = o.o_custkey "
         "AND o.o_totalprice > 250000.0", "auto"),
        ("SELECT c.c_custkey, COUNT(*) OVER (PARTITION BY c.c_nationkey) "
         "AS n FROM customer AS c", "cqc"),
        ("SELECT t.r FROM (SELECT o_custkey AS k, RANK() OVER "
         "(PARTITION BY o_custkey ORDER BY o_totalprice) AS r "
         "FROM orders) AS t", "cqc"),
    ]
    for q, mode in cases:
        a = engine.sql(q, mode=mode)
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count(), q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q
    grouping_sub = (
        "SELECT v.k FROM (SELECT o_custkey AS k, "
        "CAST(GROUPING(o_custkey) AS INT) AS g "
        "FROM orders GROUP BY ROLLUP(o_custkey)) AS v WHERE v.k > 0"
    )
    assert engine.sql(grouping_sub).count() > 0  # fallback, no crash


def test_having_qualification(engine):
    """HAVING refs qualify like every other clause: unqualified column
    refs inside HAVING aggregates, and HAVING over an outer-join tail
    (the round-6 KeyError), both match spark.sql."""
    cases = [
        ("SELECT o.o_orderstatus AS st, SUM(o.o_totalprice) AS s "
         "FROM orders AS o GROUP BY o.o_orderstatus "
         "HAVING SUM(o_totalprice) > 1000.0"),
        ("SELECT c.c_nationkey AS nk, COUNT(o.o_orderkey) AS cnt "
         "FROM customer AS c "
         "LEFT JOIN orders AS o ON c.c_custkey = o.o_custkey "
         "GROUP BY c.c_nationkey HAVING COUNT(o.o_orderkey) > 50 "
         "ORDER BY cnt DESC, nk"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q


def test_cross_feature_combinations(engine):
    """Round-6 surfaces composed: windows inside compound parts,
    aggregated compound parts, a correlated scalar inside a derived
    table (decorrelation must run before scalar folding), NOT IN inside
    a derived table, and EXISTS + window in one statement."""
    cases = [
        ("SELECT o.o_orderkey AS k, ROW_NUMBER() OVER "
         "(ORDER BY o.o_orderkey) AS r FROM orders AS o "
         "WHERE o.o_totalprice > 400000.0 "
         "UNION ALL SELECT o.o_orderkey AS k, ROW_NUMBER() OVER "
         "(ORDER BY o.o_orderkey DESC) AS r FROM orders AS o "
         "WHERE o.o_totalprice > 400000.0"),
        ("SELECT v.k FROM (SELECT o.o_orderkey AS k FROM orders AS o "
         "WHERE o.o_totalprice > (SELECT 2.0 * AVG(o2.o_totalprice) "
         "FROM orders AS o2 WHERE o2.o_custkey = o.o_custkey)) AS v "
         "ORDER BY v.k LIMIT 20"),
        ("SELECT t.k FROM (SELECT c_custkey AS k FROM customer "
         "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders "
         "WHERE o_orderpriority = '1-URGENT')) AS t"),
        ("SELECT c.c_custkey, RANK() OVER (ORDER BY c.c_acctbal DESC) "
         "AS r FROM customer AS c WHERE EXISTS "
         "(SELECT * FROM orders AS o WHERE o.o_custkey = c.c_custkey "
         "AND o.o_totalprice > 300000.0)"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q


def test_round7_advice_regressions(engine):
    """Round-7 ADVICE items: (1) a non-integer window-frame bound
    raises UnsupportedSqlError (not ValueError) so mode='auto' rides
    the spark.sql fallback; (2) INNER JOIN after an outer join executes
    natively (OuterJoin side='inner', left-associative attachment over
    the outer-joined frame); (3) a decorrelated sum/avg/min/max scalar
    under a RIGHT/FULL outer join keeps its generated view-join
    conjuncts in the phase-1 core (no cartesian core x view) AND
    re-applies them post-join (core_safe_where)."""
    # (1) non-integer frame bound: parse raises UnsupportedSqlError...
    bad_frame = (
        "SELECT o.o_custkey AS k, AVG(o.o_totalprice) OVER "
        "(ORDER BY o.o_totalprice RANGE BETWEEN 2.5 PRECEDING AND "
        "CURRENT ROW) AS m FROM orders AS o WHERE o.o_custkey < 100"
    )
    with pytest.raises(UnsupportedSqlError):
        parse_query(bad_frame)
    # ...and auto mode falls back to spark.sql instead of crashing
    assert engine.sql(bad_frame, mode="auto").count() > 0

    cases = [
        # (2) INNER after LEFT: attachment over the outer-joined frame
        ("SELECT c.c_custkey AS ck, o.o_orderkey AS ok, n.n_name AS nn "
         "FROM customer AS c "
         "LEFT JOIN orders AS o ON o.o_custkey = c.c_custkey "
         "AND o.o_totalprice > 300000.0 "
         "INNER JOIN nation AS n ON n.n_nationkey = c.c_nationkey "
         "AND n.n_regionkey = 1 WHERE c.c_custkey < 500"),
        # (2) INNER after RIGHT: core is null-supplied, attachment is not
        ("SELECT n.n_name AS nn, c.c_custkey AS ck, r.r_name AS rn "
         "FROM customer AS c "
         "RIGHT JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
         "AND c.c_acctbal > 9990.0 "
         "INNER JOIN region AS r ON r.r_regionkey = n.n_regionkey"),
        # (3) decorrelated AVG scalar + RIGHT join
        ("SELECT n.n_name AS nn, c.c_custkey AS ck FROM customer AS c "
         "RIGHT JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
         "AND c.c_acctbal > 9900.0 "
         "WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer "
         "AS c2 WHERE c2.c_nationkey = c.c_nationkey)"),
        # (3) decorrelated scalar + FULL join
        ("SELECT n.n_name AS nn, c.c_custkey AS ck FROM customer AS c "
         "FULL OUTER JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
         "AND c.c_acctbal > 9900.0 "
         "WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer "
         "AS c2 WHERE c2.c_nationkey = c.c_nationkey)"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q

    # the parse shape: side='inner' attachment recorded in order
    spec = parse_query(cases[0])
    assert [oj.side for oj in spec.outer_joins] == ["left", "inner"]
    # (3) plan check: the aggregated view joins INSIDE the core — the
    # explain tree shows __sq1 under the core join tree, not a
    # post-join cross product (explain uses the same preserved-core
    # predicate as _run_outer now)
    tree = engine.explain_tree(cases[2])
    assert "__sq" in tree and "right_join" in tree


def test_qualify_native(engine):
    """QUALIFY (DuckDB/Snowflake surface; Spark SQL has no such
    clause) desugars to a derived table + outer WHERE
    (api._plan_qualify): inline window calls, select-alias references,
    base-column references, DISTINCT/ORDER/LIMIT after the filter, and
    a column *named* qualify staying usable."""
    cases = [
        # inline window call over a join
        ("SELECT n.n_name AS nn, c.c_custkey AS ck, c.c_acctbal AS bal "
         "FROM customer AS c, nation AS n "
         "WHERE c.c_nationkey = n.n_nationkey "
         "QUALIFY ROW_NUMBER() OVER (PARTITION BY n.n_name "
         "ORDER BY c.c_acctbal DESC, c.c_custkey) <= 3"),
        # select-alias reference
        ("SELECT o.o_custkey AS ck, o.o_orderkey AS ok, RANK() OVER "
         "(PARTITION BY o.o_custkey ORDER BY o.o_totalprice DESC) AS r "
         "FROM orders AS o WHERE o.o_custkey < 100 QUALIFY r <= 2"),
        # window agg + base-column conjunct, WHERE upstream
        ("SELECT o.o_custkey AS ck, o.o_orderkey AS ok FROM orders "
         "AS o WHERE o.o_custkey < 200 QUALIFY SUM(o.o_totalprice) OVER "
         "(PARTITION BY o.o_custkey) > 400000.0 AND o.o_orderkey <= 4000"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")
        via_naive = engine.sql(q, mode="naive")
        assert ours.count() == via_naive.count() > 0, q
        assert ours.exceptAll(via_naive).count() == 0, q
        assert via_naive.exceptAll(ours).count() == 0, q
    # QUALIFY runs BEFORE DISTINCT/LIMIT: top-1-per-group then distinct
    q_d = ("SELECT DISTINCT c.c_mktsegment AS seg FROM customer AS c "
           "QUALIFY ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment, "
           "c.c_nationkey ORDER BY c.c_custkey) = 1 ORDER BY seg LIMIT 3")
    assert engine.sql(q_d, mode="cqc").count() == 3
    # a column alias named 'qualify' still parses
    q_alias = "SELECT c_custkey AS qualify FROM customer WHERE c_custkey < 5"
    assert (
        engine.sql(q_alias, mode="cqc").count()
        == engine.sql(q_alias, mode="spark").count()
        > 0
    )


def test_count_arithmetic_decorrelation(engine):
    """Round-8: a correlated scalar whose single aggregate is COUNT
    wrapped in constant arithmetic/CAST decorrelates via the LEFT JOIN
    + COALESCE path, re-applying the wrapper over COALESCE(cnt, 0) —
    0-on-empty arithmetic must match the naive evaluation."""
    cases = [
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE (SELECT COUNT(*) + 1 FROM orders AS o "
         "WHERE o.o_custkey = c.c_custkey "
         "AND o.o_totalprice > 250000.0) <= 2"),
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE (SELECT 2 * COUNT(o.o_orderkey) FROM orders AS o "
         "WHERE o.o_custkey = c.c_custkey "
         "AND o.o_totalprice > 200000.0) < 3 AND c.c_custkey < 500"),
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders AS o "
         "WHERE o.o_custkey = c.c_custkey "
         "AND o.o_totalprice > 250000.0) = 0.0 AND c.c_custkey < 300"),
    ]
    for q in cases:
        ours = engine.sql(q, mode="cqc")  # raises if not native
        ref = engine.sql(q, mode="spark")
        assert ours.count() == ref.count() > 0, q
        assert ours.exceptAll(ref).count() == 0, q
        assert ref.exceptAll(ours).count() == 0, q
    # COUNT wrapped with a non-constant term stays on the fallback
    import pytest as _pytest
    with _pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT c.c_custkey FROM customer AS c WHERE "
            "(SELECT COUNT(*) + o2.o_orderkey FROM orders AS o2 "
            "WHERE o2.o_custkey = c.c_custkey) = 1",
            mode="cqc",
        )


def test_modulo_and_extract_fields(engine):
    """Round-8 expression extensions: % (C-style remainder, Spark and
    DuckDB agree) through arithmetic precedence, and EXTRACT
    MONTH/DAY/QUARTER alongside the reference's YEAR."""
    cases = [
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE c.c_custkey % 7 = 3"),
        # precedence: % binds like * (tighter than +)
        ("SELECT o.o_orderkey AS ok, o.o_orderkey % 10 + 1 AS b "
         "FROM orders AS o WHERE o.o_orderkey < 100"),
        ("SELECT EXTRACT(YEAR FROM o.o_orderdate) AS y, "
         "EXTRACT(MONTH FROM o.o_orderdate) AS m, "
         "EXTRACT(DAY FROM o.o_orderdate) AS d, "
         "EXTRACT(QUARTER FROM o.o_orderdate) AS q, COUNT(*) AS cnt "
         "FROM orders AS o "
         "GROUP BY EXTRACT(YEAR FROM o.o_orderdate), "
         "EXTRACT(MONTH FROM o.o_orderdate), "
         "EXTRACT(DAY FROM o.o_orderdate), "
         "EXTRACT(QUARTER FROM o.o_orderdate)"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q
    # unknown EXTRACT field still routes to the fallback
    with pytest.raises(UnsupportedSqlError):
        parse_query("SELECT EXTRACT(EPOCH FROM o.o_orderdate) FROM orders AS o")


def test_select_list_scalar_subqueries(engine):
    """Round-8: scalar subqueries in the SELECT list. Correlated
    single-table aggregates lift to grouped views LEFT-JOINed on the
    correlation keys (COUNT -> COALESCE(cnt,0), sum/avg/min/max ->
    bare value, NULL on empty); uncorrelated ones fold to literals;
    out-of-subset shapes raise UnsupportedSqlError (and so ride the
    fallback in auto mode) instead of crashing with ValueError."""
    cases = [
        # correlated COUNT + correlated MAX in one statement
        ("SELECT c.c_custkey AS ck, "
         "(SELECT COUNT(*) FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey "
         "   AND o.o_totalprice > 250000.0) AS n, "
         "(SELECT MAX(o2.o_totalprice) FROM orders AS o2 "
         " WHERE o2.o_custkey = c.c_custkey) AS mx "
         "FROM customer AS c WHERE c.c_custkey < 200"),
        # wrapped COUNT; uncorrelated scalar folds
        ("SELECT c.c_custkey AS ck, "
         "(SELECT COUNT(*) * 2 FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey "
         "   AND o.o_totalprice > 250000.0) AS n2, "
         "(SELECT MIN(o3.o_orderkey) FROM orders AS o3) AS mo "
         "FROM customer AS c WHERE c.c_custkey < 100"),
        # alongside a join
        ("SELECT c.c_custkey AS ck, n.n_name AS nn, "
         "(SELECT COUNT(*) FROM orders AS o "
         " WHERE o.o_custkey = c.c_custkey) AS n "
         "FROM customer AS c, nation AS n "
         "WHERE c.c_nationkey = n.n_nationkey AND c.c_custkey < 100"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="spark")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q
    # multi-table correlated select scalar: UnsupportedSqlError in cqc,
    # completes via the fallback in auto (was: raw ValueError crash)
    q_multi = ("SELECT c.c_custkey AS ck, "
               "(SELECT COUNT(*) FROM orders AS o, lineitem AS l "
               " WHERE o.o_orderkey = l.l_orderkey "
               "   AND o.o_custkey = c.c_custkey) AS n "
               "FROM customer AS c WHERE c.c_custkey < 10")
    with pytest.raises(UnsupportedSqlError):
        engine.sql(q_multi, mode="cqc")
    assert engine.sql(q_multi, mode="auto").count() > 0


def test_row_value_in_subquery(engine):
    """Round-8: (a, b) [NOT] IN (SELECT x, y ...) — the row-value form
    desugars to the multi-key Exists/SemiFilter fold. Non-full outputs
    keep the CQ dialect DISTINCT, so the spark.sql comparator is
    DISTINCT-rewritten. The negated multi-key form plans natively
    since round 9 (three-valued multi-key anti join), and
    parenthesized expressions/ORs still parse after the backtracking
    row attempt."""
    q_cross = ("SELECT o.o_orderkey AS ok FROM orders AS o "
               "WHERE (o.o_custkey, o.o_orderkey) IN "
               "(SELECT l.l_suppkey, l.l_orderkey FROM lineitem AS l "
               " WHERE l.l_quantity > 30)")
    a = engine.sql(q_cross, mode="cqc")
    b = engine.sql(q_cross, mode="spark")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    q_self = ("SELECT l.l_orderkey AS ok, l.l_linenumber AS ln "
              "FROM lineitem AS l "
              "WHERE (l.l_orderkey, l.l_linenumber) IN "
              "(SELECT l2.l_orderkey, l2.l_linenumber FROM lineitem AS l2 "
              " WHERE l2.l_quantity > 45)")
    a2 = engine.sql(q_self, mode="cqc")
    b2 = engine.sql(
        q_self.replace("SELECT l.l_orderkey", "SELECT DISTINCT l.l_orderkey"),
        mode="spark",
    )
    assert a2.count() == b2.count() > 0
    assert a2.exceptAll(b2).count() == 0 and b2.exceptAll(a2).count() == 0

    # negated multi-key plans NATIVELY since round 9 (hash anti bulk
    # + broadcast NULL-pattern anti); spark.sql is the comparator
    q_neg = ("SELECT o.o_orderkey AS ok FROM orders AS o "
             "WHERE (o.o_custkey, o.o_orderkey) NOT IN "
             "(SELECT l.l_suppkey, l.l_orderkey FROM lineitem AS l) "
             "AND o.o_orderkey < 100")
    a3 = engine.sql(q_neg, mode="cqc")
    b3 = engine.sql(
        q_neg.replace("SELECT o.o_orderkey", "SELECT DISTINCT o.o_orderkey"),
        mode="spark",
    )
    assert a3.count() == b3.count() > 0
    assert a3.exceptAll(b3).count() == 0 and b3.exceptAll(a3).count() == 0

    # backtracking regressions
    assert engine.sql(
        "SELECT c.c_custkey AS ck FROM customer AS c "
        "WHERE (c.c_custkey + 1) * 2 = 10", mode="cqc").count() == 1
    assert engine.sql(
        "SELECT c.c_custkey AS ck FROM customer AS c "
        "WHERE (c.c_custkey = 3 OR c.c_custkey = 5)", mode="cqc").count() == 2


def test_exists_outer_pred_and_group_by_all(engine):
    """Round-8: (1) a conjunct inside EXISTS touching only OUTER
    columns lifts to the enclosing WHERE (EXISTS(inner AND P_outer) ==
    P_outer AND EXISTS(inner)); negated stays on the fallback (the
    identity turns into a disjunction). (2) GROUP BY ALL expands to
    every non-aggregate select item."""
    q = ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE EXISTS (SELECT * FROM orders AS o "
         "WHERE o.o_custkey = c.c_custkey "
         "AND c.c_mktsegment = 'BUILDING' "
         "AND o.o_totalprice > 250000.0)")
    a = engine.sql(q, mode="cqc")
    b = engine.sql(q, mode="spark")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    q_neg = ("SELECT c.c_custkey AS ck FROM customer AS c "
             "WHERE NOT EXISTS (SELECT * FROM orders AS o "
             "WHERE o.o_custkey = c.c_custkey "
             "AND c.c_mktsegment = 'BUILDING')")
    with pytest.raises(UnsupportedSqlError):
        engine.sql(q_neg, mode="cqc")
    assert (
        engine.sql(q_neg, mode="auto").count()
        == engine.sql(q_neg, mode="spark").count()
    )

    q_all = ("SELECT n.n_name AS nation, c.c_mktsegment AS seg, "
             "COUNT(*) AS cnt FROM customer AS c, nation AS n "
             "WHERE c.c_nationkey = n.n_nationkey GROUP BY ALL")
    a2 = engine.sql(q_all, mode="cqc")
    b2 = engine.sql(q_all, mode="spark")  # Spark 3.4+ parses it too
    assert a2.count() == b2.count() > 0
    assert a2.exceptAll(b2).count() == 0 and b2.exceptAll(a2).count() == 0
    spec = parse_query(q_all)
    assert len(spec.group_by) == 2 and spec.group_mode == "plain"
    with pytest.raises(UnsupportedSqlError):
        parse_query("SELECT COUNT(*) FROM t GROUP BY ALL")


def test_qualify_over_group_by(engine):
    """Round-8: QUALIFY over an aggregated statement — three-level
    desugar (grouped inner -> window mid -> filter outer). Window
    internals may use select aliases or repeat a select item
    verbatim; other base-column references raise (not
    grouped/aggregated)."""
    cases = [
        ("SELECT o.o_custkey AS ck, COUNT(*) AS cnt FROM orders AS o "
         "GROUP BY o.o_custkey "
         "QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, ck) <= 5"),
        ("SELECT c.c_nationkey AS nk, c.c_mktsegment AS seg, "
         "COUNT(*) AS cnt FROM customer AS c "
         "GROUP BY c.c_nationkey, c.c_mktsegment "
         "QUALIFY RANK() OVER (PARTITION BY nk "
         "ORDER BY COUNT(*) DESC, seg) = 1"),
        ("SELECT o.o_custkey AS ck, SUM(o.o_totalprice) AS s "
         "FROM orders AS o GROUP BY o.o_custkey HAVING COUNT(*) > 3 "
         "QUALIFY ROW_NUMBER() OVER (ORDER BY s DESC, ck) <= 10 "
         "ORDER BY ck LIMIT 8"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="naive")
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q
    # a window referencing a non-grouped base column raises
    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT o.o_custkey AS ck, COUNT(*) AS cnt FROM orders AS o "
            "GROUP BY o.o_custkey "
            "QUALIFY ROW_NUMBER() OVER (ORDER BY o.o_totalprice) <= 5",
            mode="cqc",
        )


def test_jsonl_and_orc_sources(engine, spark, tmp_path):
    """Round-8 source formats: JSONL (the raw-corpus interchange
    format — declared schema drives the read, no inference scan) and
    ORC register through DDL with extension inference or an explicit
    'format' property, and queries plan identically to parquet."""
    import json as _json

    jl = tmp_path / "docs.jsonl"
    with open(jl, "w") as f:
        for i in range(20):
            f.write(_json.dumps(
                {"id": i, "txt": f"doc {i}", "score": i * 1.5,
                 "extra_ignored": True}) + "\n")
    engine.ddl(
        "CREATE TABLE jdocs (id BIGINT, txt VARCHAR, score DOUBLE, "
        f"PRIMARY KEY (id)) WITH ('path' = '{jl}')"
    )
    out = engine.sql(
        "SELECT j.id, j.score FROM jdocs AS j WHERE j.score > 10.0",
        mode="cqc",
    )
    assert out.count() == 13 and set(out.columns) == {"id", "score"}
    # missing fields read NULL
    with open(jl, "a") as f:
        f.write(_json.dumps({"id": 99}) + "\n")
    assert engine.sql(
        "SELECT j.id FROM jdocs AS j WHERE j.txt IS NULL", mode="cqc"
    ).count() == 1

    orc = str(tmp_path / "docs_orc")
    spark.createDataFrame(
        [(i, f"o{i}") for i in range(10)], "id long, txt string"
    ).write.orc(orc)
    engine.ddl(
        "CREATE TABLE odocs (id BIGINT, txt VARCHAR, PRIMARY KEY (id)) "
        f"WITH ('path' = '{orc}', 'format' = 'orc')"
    )
    assert engine.sql(
        "SELECT o.id FROM odocs AS o WHERE o.id < 4", mode="cqc"
    ).count() == 4


def test_bare_having(engine):
    """Round-8: HAVING without GROUP BY — the global-aggregate filter
    over the one-row result — plans natively; non-aggregate references
    still raise (per-group ambiguity) and ride the fallback."""
    q = ("SELECT COUNT(*) AS n, SUM(o.o_totalprice) AS s "
         "FROM orders AS o WHERE o.o_totalprice > 100000.0 "
         "HAVING COUNT(*) > 10")
    a = engine.sql(q, mode="cqc")
    b = engine.sql(q, mode="spark")
    assert a.count() == b.count() == 1
    assert a.exceptAll(b).count() == 0
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM orders AS o HAVING COUNT(*) < 0",
        mode="cqc",
    ).count() == 0
    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT COUNT(*) AS n FROM orders AS o "
            "HAVING o.o_custkey > 1",
            mode="cqc",
        )


def test_any_some_quantified(engine):
    """Round-8: CMP ANY|SOME (subquery) — `= ANY` folds to the
    IN-subquery semi join; ordering ops desugar to MIN/MAX scalar
    subqueries (sound in WHERE under three-valued logic), incl. the
    correlated form through the normal decorrelation; ALL stays out
    of the subset."""
    cases = [
        # > ANY: above the minimum of a selective set
        ("SELECT o.o_orderkey AS ok FROM orders AS o "
         "WHERE o.o_totalprice > ANY (SELECT o2.o_totalprice "
         "FROM orders AS o2 WHERE o2.o_totalprice > 400000.0)"),
        # < SOME over another table
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE c.c_acctbal < SOME (SELECT c2.c_acctbal "
         "FROM customer AS c2 WHERE c2.c_custkey < 5)"),
        # correlated: decorrelates to the aggregated-view join
        ("SELECT c.c_custkey AS ck FROM customer AS c "
         "WHERE c.c_acctbal > ANY (SELECT o.o_totalprice / 100 "
         "FROM orders AS o WHERE o.o_custkey = c.c_custkey)"),
    ]
    for q in cases:
        a = engine.sql(q, mode="cqc")
        b = engine.sql(q, mode="naive")  # spark.sql has no ANY/ALL
        assert a.count() == b.count() > 0, q
        assert a.exceptAll(b).count() == 0, q
        assert b.exceptAll(a).count() == 0, q
    # = ANY is IN: same rows as the IN spelling via spark comparator
    q_eq = ("SELECT c.c_custkey AS ck FROM customer AS c "
            "WHERE c.c_custkey = ANY (SELECT o.o_custkey FROM orders "
            "AS o WHERE o.o_totalprice > 420000.0)")
    q_in = q_eq.replace("= ANY", "IN")
    assert (
        engine.sql(q_eq, mode="cqc").exceptAll(
            engine.sql(q_in, mode="spark")).count() == 0
    )
    # ALL parses since round 9 (count-guarded extremes; = ALL is the
    # single-distinct-value mirror)
    parse_query("SELECT 1 FROM t WHERE a > ALL (SELECT b FROM s)")
    parse_query("SELECT 1 FROM t WHERE a = ALL (SELECT b FROM s)")


def test_string_concat_operator(engine):
    """Round-8: ANSI `||` concatenation at additive precedence —
    NULL-propagating (Spark concat == DuckDB ||)."""
    q = ("SELECT c.c_name || '/' || c.c_mktsegment AS tag "
         "FROM customer AS c WHERE c.c_custkey < 20")
    a = engine.sql(q, mode="cqc")
    b = engine.sql(
        "SELECT concat(c.c_name, '/', c.c_mktsegment) AS tag "
        "FROM customer AS c WHERE c.c_custkey < 20", mode="spark")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    spec = parse_query("SELECT a || b FROM t")
    from sparksqlplus_spark.expressions import Func
    assert isinstance(spec.select[0].expr, Func)
    assert spec.select[0].expr.name == "concat"


def test_limit_offset_nulls_ordering(engine, oracle):
    """Round 10: LIMIT n OFFSET m (skip-then-take after the sort) and
    ORDER BY ... NULLS FIRST|LAST plan natively; soft keywords keep
    columns named offset/nulls/first/last usable."""
    cases = [
        "SELECT n_name FROM nation AS n ORDER BY n_name LIMIT 5 OFFSET 3",
        # offset past the end -> empty
        "SELECT n_name FROM nation AS n ORDER BY n_name LIMIT 5 OFFSET 100",
        ("SELECT n_nationkey FROM nation AS n "
         "ORDER BY n_nationkey DESC LIMIT 100 OFFSET 20"),
        ("SELECT n_name FROM nation AS n ORDER BY n_regionkey DESC "
         "NULLS FIRST, n_name ASC NULLS LAST LIMIT 6"),
        # compound tail LIMIT/OFFSET
        ("SELECT n_regionkey AS k FROM nation AS n UNION "
         "SELECT r_regionkey + 10 AS k FROM region AS r "
         "ORDER BY k LIMIT 8 OFFSET 2"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert got == want, (q, mode, got, want)


def test_cross_join_sugar(engine, oracle):
    from tests.helpers import assert_matches

    """Round 10: CROSS JOIN parses as the comma cartesian the planner
    already handles (WHERE conjuncts still become join conditions)."""
    q = ("SELECT r.r_name AS rn, n.n_name AS nn FROM region AS r "
         "CROSS JOIN nation AS n "
         "WHERE n.n_regionkey = r.r_regionkey AND r.r_regionkey < 2")
    for mode in ("cqc", "naive"):
        assert_matches(engine.sql(q, mode=mode), oracle, q)
    q2 = "SELECT COUNT(*) AS c FROM region AS r CROSS JOIN nation AS n"
    for mode in ("cqc", "naive"):
        assert_matches(engine.sql(q2, mode=mode), oracle, q2)


def test_aggregate_filter_clause(engine, oracle):
    from tests.helpers import assert_matches

    """Round 10: agg(x) FILTER (WHERE c) — parse-time desugar to the
    NULL-skipping CASE form (COUNT(*) -> CASE 1 END). Exact FILTER
    semantics including DISTINCT and grouped aggregates."""
    cases = [
        ("SELECT COUNT(*) FILTER (WHERE n_regionkey = 1) AS c, "
         "SUM(n_nationkey) FILTER (WHERE n_regionkey > 2) AS s "
         "FROM nation AS n"),
        ("SELECT o_orderpriority AS p, "
         "COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS big, "
         "AVG(o_totalprice) FILTER (WHERE o_totalprice <= 100000.0) AS sm "
         "FROM orders AS o GROUP BY o_orderpriority"),
        ("SELECT COUNT(DISTINCT l_suppkey) "
         "FILTER (WHERE l_quantity > 25.0) AS c FROM lineitem AS l"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            assert_matches(engine.sql(q, mode=mode), oracle, q)


def test_window_ntile_first_last_value(engine, oracle):
    from tests.helpers import assert_matches

    """Round 10: NTILE(n), FIRST_VALUE, LAST_VALUE — incl. LAST_VALUE
    under the ANSI default frame (current row's value, same as DuckDB)
    and under an explicit unbounded frame."""
    cases = [
        ("SELECT n_name, NTILE(4) OVER (ORDER BY n_nationkey) AS q "
         "FROM nation AS n"),
        ("SELECT n_name, "
         "FIRST_VALUE(n_name) OVER (PARTITION BY n_regionkey "
         "ORDER BY n_nationkey) AS f, "
         "LAST_VALUE(n_name) OVER (PARTITION BY n_regionkey "
         "ORDER BY n_nationkey) AS l FROM nation AS n"),
        ("SELECT n_name, LAST_VALUE(n_name) OVER (PARTITION BY "
         "n_regionkey ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED "
         "PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM nation AS n"),
        # NULLS FIRST/LAST inside the window ORDER BY (round 10)
        ("SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_regionkey DESC "
         "NULLS LAST, n_name NULLS FIRST) AS rn FROM nation AS n"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            assert_matches(engine.sql(q, mode=mode), oracle, q)


def test_exists_in_select_list(engine, oracle):
    """Round 10: [NOT] EXISTS in expression position — the parser
    wraps it in a two-valued CASE and api._lift_or_exists (which maps
    SELECT items too) plans the same flag LEFT JOIN, so the boolean
    projects natively. Covers the correlated, negated, CASE-nested,
    join-body, and uncorrelated (plan-time fold) shapes."""
    from tests.helpers import assert_matches

    cases = [
        ("SELECT n_name, EXISTS (SELECT 1 FROM supplier AS s "
         "WHERE s.s_nationkey = n.n_nationkey) AS hs FROM nation AS n"),
        ("SELECT n_name, NOT EXISTS (SELECT 1 FROM supplier AS s "
         "WHERE s.s_nationkey = n.n_nationkey) AS nh FROM nation AS n"),
        ("SELECT n_name, CASE WHEN EXISTS (SELECT 1 FROM supplier AS s "
         "WHERE s.s_nationkey = n.n_nationkey) THEN 'yes' ELSE 'no' END "
         "AS tag FROM nation AS n"),
        ("SELECT n_name, EXISTS (SELECT 1 FROM supplier AS s, "
         "customer AS c WHERE s.s_nationkey = c.c_nationkey AND "
         "s.s_nationkey = n.n_nationkey AND c.c_acctbal > 9000.0) AS hs "
         "FROM nation AS n"),
        ("SELECT n_name, EXISTS (SELECT 1 FROM supplier AS s "
         "WHERE s.s_acctbal > 99999.0) AS any_rich FROM nation AS n"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            assert_matches(engine.sql(q, mode=mode), oracle, q)


def test_compound_subqueries_and_ctes(engine, oracle):
    """Round 10: UNION/INTERSECT/EXCEPT chains compose in FROM-subquery
    and CTE position — the compound plans through _run_compound and
    registers as an ephemeral view the outer query scans. Covers
    grouped scans over the view, a join against it, an inner
    ORDER BY/LIMIT/OFFSET tail, and a CTE referenced twice."""
    from tests.helpers import assert_matches

    cases = [
        ("SELECT t.k, COUNT(*) AS c FROM "
         "(SELECT n_regionkey AS k FROM nation AS n UNION ALL "
         "SELECT r_regionkey AS k FROM region AS r) AS t GROUP BY t.k"),
        ("WITH u AS (SELECT n_regionkey AS k FROM nation AS n "
         "UNION SELECT r_regionkey AS k FROM region AS r) "
         "SELECT COUNT(*) AS c FROM u AS u"),
        ("SELECT COUNT(*) AS c FROM "
         "(SELECT n_regionkey AS k FROM nation AS n EXCEPT "
         "SELECT r_regionkey AS k FROM region AS r "
         "WHERE r_regionkey < 2) AS t"),
        ("SELECT r.r_name AS rn, t.k AS k FROM region AS r, "
         "(SELECT n_regionkey AS k FROM nation AS n WHERE n_nationkey < 5 "
         "UNION SELECT r_regionkey AS k FROM region AS r2) AS t "
         "WHERE t.k = r.r_regionkey"),
        ("SELECT t.k FROM (SELECT n_regionkey AS k FROM nation AS n "
         "UNION SELECT r_regionkey + 2 AS k FROM region AS r "
         "ORDER BY k LIMIT 4 OFFSET 1) AS t"),
        ("WITH u AS (SELECT n_regionkey AS k FROM nation AS n "
         "UNION ALL SELECT r_regionkey AS k FROM region AS r) "
         "SELECT a.k, COUNT(*) AS c FROM u AS a, u AS b "
         "WHERE a.k = b.k GROUP BY a.k"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            assert_matches(engine.sql(q, mode=mode), oracle, q)


def test_count_distinct_multi_column(engine, oracle):
    """Round 10: COUNT(DISTINCT a, b) — desugars to a NULL-guarded
    struct so rows with ANY NULL position are excluded (ANSI). DuckDB
    has no multi-arg form, so the oracle is the equivalent DISTINCT
    subquery count."""
    import pandas as pd

    from tests.helpers import assert_matches

    q = ("SELECT l_returnflag AS f, "
         "COUNT(DISTINCT l_suppkey, l_linenumber) AS c "
         "FROM lineitem AS l GROUP BY l_returnflag")
    o = ("SELECT f, COUNT(*) AS c FROM (SELECT DISTINCT l_returnflag "
         "AS f, l_suppkey, l_linenumber FROM lineitem) GROUP BY f")
    for mode in ("cqc", "naive"):
        assert_matches(engine.sql(q, mode=mode), oracle, o)
    # NULL exclusion on a registered frame
    pdf = pd.DataFrame({"a": [1, 1, None, 2, 2], "b": [1, 1, 2, None, 2]})
    engine.catalog.register_df(
        "cdm2",
        engine.spark.createDataFrame(
            pdf.astype(object).where(pdf.notna(), None), "a int, b int"
        ),
        (),
    )
    try:
        got = engine.sql(
            "SELECT COUNT(DISTINCT a, b) AS c FROM cdm2 AS t"
        ).collect()[0]["c"]
        assert got == 2  # (1,1) and (2,2); NULL-bearing rows excluded
    finally:
        engine.catalog.unregister("cdm2")


def test_values_inline_table(engine, oracle):
    """Round 10: (VALUES ...) AS t(cols) plans as ONE array-of-structs
    literal inlined into the plan (a LocalRelation leaf — the rows live
    in the statement text, never on executors), joins natively against
    catalog tables, and requires the alias column list."""
    from tests.helpers import assert_matches

    cases = [
        # plain scan with NULL and mixed literal expressions
        ("SELECT t.x, t.y FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) "
         "AS t(x, y) ORDER BY t.x"),
        # join against a catalog table (the VALUES side is tiny ->
        # broadcast by AQE; the plan is a normal equi join)
        ("SELECT v.tag, n.n_name FROM (VALUES (0, 'zero'), (2, 'two')) "
         "AS v(rk, tag), nation AS n WHERE n.n_regionkey = v.rk "
         "AND n.n_nationkey < 8 ORDER BY n.n_name"),
        # literal arithmetic folds inside the rows
        ("SELECT t.a, t.b FROM (VALUES (1 + 1, 2 * 3), (10 - 1, 8 / 2)) "
         "AS t(a, b) ORDER BY t.a"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert [sorted(map(str, got))] == [sorted(map(str, want))], (
                q, mode, got, want)
    # arity mismatch and a missing column list are parse errors (auto
    # mode would fall back to spark.sql; cqc surfaces them)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT t.x FROM (VALUES (1, 2), (3)) AS t(x, y)", mode="cqc"
        )
    with pytest.raises(UnsupportedSqlError):
        engine.sql("SELECT t.x FROM (VALUES (1, 2)) AS t", mode="cqc")
    with pytest.raises(UnsupportedSqlError):
        # non-literal rows are outside the subset
        engine.sql(
            "SELECT t.x FROM (VALUES (n_nationkey)) AS t(x)", mode="cqc"
        )


def test_join_using(engine, oracle):
    """Round 10: JOIN ... USING (cols) resolves against the catalog —
    one qualified equi cond per column, and unqualified references to a
    using column resolve to the join's preserved side (ANSI merged
    column) for inner/LEFT/RIGHT joins."""
    derived_n = ("(SELECT n_regionkey AS rk, n_name AS nname "
                 "FROM nation AS xx) AS n")
    derived_r = ("(SELECT r_regionkey AS rk, r_name AS rname "
                 "FROM region AS yy) AS r")
    cases = [
        # inner USING over derived tables; qualified refs
        (f"SELECT n.nname, r.rname FROM {derived_n} JOIN {derived_r} "
         "USING (rk) WHERE n.nname LIKE 'NATION_1%' ORDER BY n.nname"),
        # unqualified using-col in SELECT and WHERE
        (f"SELECT rk, n.nname FROM {derived_n} JOIN {derived_r} "
         "USING (rk) WHERE rk < 3 ORDER BY n.nname"),
        # LEFT JOIN USING: unqualified col resolves to the LEFT side
        ("SELECT ck, c.cname, o.okey FROM (SELECT c_custkey AS ck, "
         "c_name AS cname FROM customer AS xx WHERE xx.c_custkey < 8) "
         "AS c LEFT JOIN (SELECT o_custkey AS ck, o_orderkey AS okey "
         "FROM orders AS yy) AS o USING (ck) ORDER BY ck, o.okey"),
        # VALUES + USING compose
        ("SELECT rk, v.tag FROM (VALUES (0, 'zero'), (2, 'two')) "
         f"AS v(rk, tag) JOIN {derived_n} USING (rk) "
         "ORDER BY rk, v.tag, n.nname"),
        # FULL JOIN USING: the unqualified col is the two-sided
        # COALESCE merged column (late round 10) — offset key spaces
        # so both sides have unmatched rows
        ("SELECT rk, n.nname, r.rname FROM (SELECT n_regionkey AS rk, "
         "n_name AS nname FROM nation AS xx WHERE xx.n_nationkey < 3) "
         "AS n FULL JOIN (SELECT r_regionkey + 2 AS rk, r_name AS "
         "rname FROM region AS yy) AS r USING (rk) "
         "ORDER BY rk, n.nname, r.rname"),
        # merged column in WHERE applies post-join (drops null-keyed
        # unmatched rows from neither side wrongly)
        ("SELECT rk, n.nname FROM (SELECT n_regionkey AS rk, n_name "
         "AS nname FROM nation AS xx WHERE xx.n_nationkey < 3) AS n "
         "FULL OUTER JOIN (SELECT r_regionkey + 2 AS rk FROM region "
         "AS yy) AS r USING (rk) WHERE rk >= 2 ORDER BY rk, n.nname"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert sorted(map(str, got)) == sorted(map(str, want)), (
                q, mode, got, want)
    # a column missing from one side is rejected (auto falls back)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            f"SELECT n.nname FROM {derived_n} JOIN region AS r USING (rk)",
            mode="cqc",
        )


def test_derived_column_list(engine, oracle):
    """Round 10: ANSI <derived column list> `(SELECT ...) AS t(a, b)`
    renames the view's output positionally; arity mismatches raise."""
    cases = [
        ("SELECT d.a, d.b FROM (SELECT n_nationkey, n_name FROM nation "
         "AS x WHERE x.n_nationkey < 5) AS d(a, b) ORDER BY d.a"),
        # renamed compound subquery
        ("SELECT d.k FROM (SELECT n_regionkey FROM nation AS x UNION "
         "SELECT r_regionkey FROM region AS y) AS d(k) ORDER BY d.k"),
    ]
    for q in cases:
        got = [tuple(r) for r in engine.sql(q, mode="auto").collect()]
        want = [tuple(r) for r in oracle.execute(q).fetchall()]
        assert got == want, (q, got, want)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT d.a FROM (SELECT n_nationkey, n_name FROM nation "
            "AS x) AS d(a)",
            mode="cqc",
        )


def test_natural_join(engine, oracle):
    """Round 10: NATURAL [LEFT] JOIN = USING over every common column
    name, computed schema-aware in api._expand_using."""
    derived_n = ("(SELECT n_regionkey AS rk, n_name AS nname "
                 "FROM nation AS xx) AS n")
    derived_r = ("(SELECT r_regionkey AS rk, r_name AS rname "
                 "FROM region AS yy) AS r")
    cases = [
        (f"SELECT rk, n.nname, r.rname FROM {derived_n} NATURAL JOIN "
         f"{derived_r} WHERE rk < 3 ORDER BY n.nname"),
        # NATURAL LEFT JOIN; unqualified common col = left side
        ("SELECT ck, c.cname, o.okey FROM (SELECT c_custkey AS ck, "
         "c_name AS cname FROM customer AS xx WHERE xx.c_custkey < 8) "
         "AS c NATURAL LEFT JOIN (SELECT o_custkey AS ck, o_orderkey "
         "AS okey FROM orders AS yy) AS o ORDER BY ck, o.okey"),
        # NATURAL FULL JOIN: common col is the two-sided coalesce
        (f"SELECT rk, n.nname, r.rname FROM {derived_n} NATURAL FULL "
         "JOIN (SELECT r_regionkey + 2 AS rk, r_name AS rname FROM "
         "region AS yy) AS r ORDER BY rk, n.nname, r.rname"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert sorted(map(str, got)) == sorted(map(str, want)), (
                q, mode, got, want)
    # zero common columns is rejected (DuckDB/Spark agree; the ANSI
    # cross-join degenerate would reward a typo with a cartesian)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT COUNT(*) AS cnt FROM region AS a NATURAL JOIN "
            "(SELECT n_name AS nm FROM nation AS xx) AS b",
            mode="cqc",
        )


def test_star_using_merged(engine, spark, oracle):
    """Round 12 (r11 verdict item 2): SELECT * / alias.* with
    USING/NATURAL joins expands natively to the ANSI merged-column
    list (api._expand_stars_merged) — merged column ONCE (preserved
    side, COALESCE under FULL), so QUALIFY / DISTINCT ON compositions
    no longer dead-end (Spark cannot parse those in the fallback).
    Values are checked vs DuckDB with columns name-aligned (DuckDB
    leaves a merged column in its left-side position; we match
    spark.sql's merged-first order), and column ORDER is checked vs
    spark.sql on the shapes Spark parses."""
    derived_n = ("(SELECT n_regionkey AS rk, n_name AS nname "
                 "FROM nation AS xx) AS n")
    derived_r = ("(SELECT r_regionkey AS rk, r_name AS rname "
                 "FROM region AS yy) AS r")
    derived_r_off = ("(SELECT r_regionkey + 2 AS rk, r_name AS rname "
                     "FROM region AS yy) AS r")

    def by_name(df):
        cols = list(df.columns)
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(cols), sorted(
            str(tuple(r[i] for i in idx)) for r in df.collect()
        )

    def duck_by_name(q):
        cur = oracle.execute(q)
        cols = [d[0] for d in cur.description]
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(cols), sorted(
            str(tuple(r[i] for i in idx)) for r in cur.fetchall()
        )

    cases = [
        # star + USING x {inner, LEFT, FULL, RIGHT}
        f"SELECT * FROM {derived_n} JOIN {derived_r} USING (rk)",
        f"SELECT * FROM {derived_n} LEFT JOIN {derived_r_off} USING (rk)",
        f"SELECT * FROM {derived_n} FULL JOIN {derived_r_off} USING (rk)",
        f"SELECT * FROM {derived_n} RIGHT JOIN {derived_r_off} USING (rk)",
        # NATURAL + star
        f"SELECT * FROM {derived_n} NATURAL JOIN {derived_r}",
        # alias.* keeps the side's own copy of the using column
        f"SELECT r.*, n.nname FROM {derived_n} JOIN {derived_r} USING (rk)",
        # chained USING (merged cols of each join shown once)
        ("SELECT * FROM (SELECT n_regionkey AS rk, n_nationkey AS nk "
         "FROM nation AS xx) AS n JOIN (SELECT r_regionkey AS rk, "
         "r_name AS rname FROM region AS yy) AS r USING (rk) "
         "JOIN (SELECT c_nationkey AS nk, c_name AS cname FROM "
         "customer AS zz WHERE zz.c_custkey < 20) AS c USING (nk)"),
        # star + mixed explicit items
        f"SELECT *, n.nname AS again FROM {derived_n} JOIN {derived_r} "
        "USING (rk)",
        # bare merged column under FULL keeps its output NAME through
        # the COALESCE rewrite (round-12 fix: Spark synthesized col0)
        f"SELECT rk, COUNT(*) AS c FROM {derived_n} FULL JOIN "
        f"{derived_r_off} USING (rk) GROUP BY rk HAVING COUNT(*) >= 1",
    ]
    for q in cases:
        got = by_name(engine.sql(q, mode="cqc"))
        want = duck_by_name(q)
        assert got == want, (q, got, want)
        # column ORDER parity with spark.sql (ANSI merged-first)
        assert engine.sql(q, mode="cqc").columns == \
            engine.sql(q, mode="spark").columns, q
    # the judge's r11 repro and its DISTINCT ON sibling: QUALIFY /
    # DISTINCT ON compose with the merged star NATIVELY (the fallback
    # cannot parse them) — DuckDB parses both, so it stays the oracle
    compose = [
        f"SELECT * FROM {derived_n} JOIN {derived_r} USING (rk) "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY rk ORDER BY nname) = 1",
        f"SELECT * FROM {derived_n} FULL JOIN {derived_r_off} USING (rk) "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY rk ORDER BY nname) = 1",
        f"SELECT DISTINCT ON (rk) * FROM {derived_n} LEFT JOIN "
        f"{derived_r_off} USING (rk) ORDER BY rk, nname",
    ]
    for q in compose:
        got = by_name(engine.sql(q))
        want = duck_by_name(q)
        assert got == want, (q, got, want)


def test_scalar_subquery_compound(engine, oracle):
    """Round 10: a scalar subquery whose body is a set-operator
    compound folds through the compound runner (one-value collect,
    the same metadata-scale class as the other scalar folds)."""
    cases = [
        # MAX over a UNION of two key spaces
        ("SELECT n_name FROM nation AS n WHERE n_nationkey > "
         "(SELECT MAX(k) FROM (SELECT r_regionkey AS k FROM region AS r"
         " UNION SELECT n_regionkey AS k FROM nation AS x) AS u) "
         "ORDER BY n_name"),
        # compound directly in scalar position (ORDER BY + LIMIT 1
        # squeeze the two-part union to one value)
        ("SELECT n_name FROM nation AS n WHERE n_nationkey < "
         "(SELECT MIN(r_regionkey) + 2 AS k FROM region AS r UNION "
         "SELECT MAX(n_regionkey) AS k FROM nation AS x "
         "ORDER BY k LIMIT 1) ORDER BY n_name"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert got == want, (q, mode, got, want)


def test_ordinal_group_order_by(engine, oracle):
    """Round 10: `GROUP BY 1` / `ORDER BY 2 DESC` are select-list
    ordinals (DuckDB always; Spark under the default
    groupByOrdinal/orderByOrdinal) — previously they parsed as
    constant literals, which would group everything into one bucket
    or no-op the sort SILENTLY."""
    cases = [
        ("SELECT n_regionkey, COUNT(*) AS c FROM nation AS n "
         "GROUP BY 1 ORDER BY 1"),
        # ordinal pointing at an expression item; ordinal ORDER BY on
        # the aggregate column
        ("SELECT n_regionkey + 100 AS k, COUNT(*) AS c FROM nation "
         "AS n GROUP BY 1 ORDER BY 2 DESC, 1"),
        # mixed ordinal + named
        ("SELECT n_regionkey, n_name FROM nation AS n "
         "ORDER BY 1 DESC, n_name LIMIT 7"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert got == want, (q, mode, got, want)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    # out-of-range and aggregate-target ordinals are rejected
    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT n_name FROM nation AS n ORDER BY 3", mode="cqc"
        )
    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT n_regionkey, COUNT(*) AS c FROM nation AS n "
            "GROUP BY 2",
            mode="cqc",
        )


def test_simple_case_substring_position(engine, oracle):
    """Round 10: simple CASE (`CASE x WHEN v THEN r`) desugars to the
    searched form; SUBSTRING(x FROM i [FOR n]) and POSITION(a IN b)
    parse their ANSI argument syntax (comma forms already worked)."""
    cases = [
        ("SELECT n_name, CASE n_regionkey WHEN 0 THEN 'africa' "
         "WHEN 1 THEN 'america' ELSE 'other' END AS rg "
         "FROM nation AS n ORDER BY n_name"),
        # NULL operand falls to ELSE (searched-form equality)
        ("SELECT n_name, CASE NULLIF(n_regionkey, 0) WHEN 1 THEN 'one' "
         "ELSE 'rest' END AS tag FROM nation AS n ORDER BY n_name"),
        ("SELECT SUBSTRING(n_name FROM 1 FOR 6) AS pre, "
         "SUBSTRING(n_name FROM 8) AS tail6 "
         "FROM nation AS n ORDER BY n_name"),
        ("SELECT n_name, POSITION('_' IN n_name) AS p "
         "FROM nation AS n ORDER BY n_name"),
    ]
    for q in cases:
        for mode in ("cqc", "naive"):
            got = [tuple(r) for r in engine.sql(q, mode=mode).collect()]
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            assert got == want, (q, mode, got, want)


def test_distinct_on(engine, oracle):
    """Round 10: SELECT DISTINCT ON (keys) — Postgres/DuckDB surface
    Spark SQL lacks entirely — desugars to QUALIFY ROW_NUMBER() = 1
    over the statement ORDER BY (deterministic row per key group)."""
    cases = [
        # first nation per region by name
        ("SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
         "FROM nation AS n ORDER BY n_regionkey, n_name"),
        # DESC pick + extra order column
        ("SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
         "FROM nation AS n ORDER BY n_regionkey, n_nationkey DESC"),
    ]
    for q in cases:
        got = [tuple(r) for r in engine.sql(q, mode="auto").collect()]
        want = [tuple(r) for r in oracle.execute(q).fetchall()]
        assert got == want, (q, got, want)
    import pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    with pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT DISTINCT ON (n_regionkey) n_name FROM nation AS n",
            mode="cqc",
        )


def test_semi_anti_join_desugar(engine, oracle):
    """[LEFT] SEMI/ANTI JOIN t ON cond (round 11) desugars to the same
    Exists node as [NOT] EXISTS and plans as a relation-local
    left_semi/left_anti — Spark's own semantics for these join types
    (left rows kept/dropped by match, never multiplied, no right
    columns). 'semi'/'anti' stay usable as identifiers."""
    from sparksqlplus_spark.parser.sql import parse_query

    q = parse_query(
        "SELECT n.n_name FROM nation AS n "
        "SEMI JOIN region AS r ON n.n_regionkey = r.r_regionkey"
    )
    assert len(q.where) == 1 and not q.where[0].negated
    assert q.where[0].table == "region"
    q2 = parse_query(
        "SELECT n.n_name FROM nation AS n "
        "LEFT ANTI JOIN region AS r ON n.n_regionkey = r.r_regionkey"
    )
    assert q2.where[0].negated

    from tests.helpers import assert_matches

    cases = [
        (
            """SELECT n.n_name FROM nation AS n
               SEMI JOIN region AS r
                 ON n.n_regionkey = r.r_regionkey AND r.r_regionkey > 2""",
            """SELECT DISTINCT n.n_name FROM nation n
               WHERE EXISTS (SELECT 1 FROM region r
                             WHERE n.n_regionkey = r.r_regionkey
                               AND r.r_regionkey > 2)""",
        ),
        (
            """SELECT c.c_name FROM customer AS c
               LEFT ANTI JOIN orders AS o ON c.c_custkey = o.o_custkey""",
            """SELECT DISTINCT c.c_name FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE c.c_custkey = o.o_custkey)""",
        ),
        # composes with inner joins + WHERE; unqualified ON columns
        (
            """SELECT c.c_name, n.n_name
               FROM customer AS c
               INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey
               SEMI JOIN orders AS o
                 ON c.c_custkey = o.o_custkey AND o.o_totalprice > 100000.0
               WHERE n.n_regionkey = 1""",
            """SELECT DISTINCT c.c_name, n.n_name FROM customer c
               JOIN nation n ON c.c_nationkey = n.n_nationkey
               WHERE n.n_regionkey = 1
                 AND EXISTS (SELECT 1 FROM orders o
                             WHERE c.c_custkey = o.o_custkey
                               AND o.o_totalprice > 100000.0)""",
        ),
        (
            "SELECT n_name FROM nation SEMI JOIN region "
            "ON n_regionkey = r_regionkey",
            "SELECT DISTINCT n_name FROM nation WHERE EXISTS "
            "(SELECT 1 FROM region WHERE n_regionkey = r_regionkey)",
        ),
    ]
    for sql, ora in cases:
        assert_matches(engine.sql(sql, mode="cqc"), oracle, ora)


FALLBACK_CONTRACT_QUERIES = [
    # Valid-Spark shapes OUTSIDE the native subset: mode='auto' must
    # complete through the spark.sql fallback (any in-subset ones
    # simply plan natively) — never escape a raw parser/planner error.
    # Round 11: 'SEMI JOIN' crashed the star expander with ValueError,
    # and map() escaped Func.to_spark's getattr miss mid-execution.
    "SELECT n_regionkey, n_nationkey, COUNT(*) AS n FROM nation "
    "  GROUP BY GROUPING SETS ((n_regionkey), (n_nationkey), ())",
    "SELECT n_regionkey, COUNT(*) AS n FROM nation "
    "  GROUP BY CUBE (n_regionkey)",
    "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM t "
    "  WHERE n < 5) SELECT n FROM t",
    "SELECT r.r_name, x.cnt FROM region r, LATERAL "
    "  (SELECT COUNT(*) AS cnt FROM nation n "
    "   WHERE n.n_regionkey = r.r_regionkey) x",
    "SELECT * FROM (SELECT n_regionkey, n_nationkey FROM nation) "
    "  PIVOT (COUNT(*) FOR n_regionkey IN (0, 1, 2))",
    "SELECT * FROM (SELECT n_nationkey, n_regionkey FROM nation) "
    "  UNPIVOT (val FOR col IN (n_regionkey))",
    "SELECT n_nationkey, SUM(n_regionkey) OVER w AS s FROM nation "
    "  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey)",
    "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY n_nationkey) "
    "  AS med FROM nation",
    "SELECT map('k', n_nationkey) AS m FROM nation LIMIT 1",
    "SELECT r_name, e FROM region "
    "  LATERAL VIEW explode(ARRAY(1,2)) t AS e",
    "SELECT COUNT(*) AS n FROM lineitem TABLESAMPLE (10 PERCENT)",
    "SELECT n_nationkey FROM nation DISTRIBUTE BY n_regionkey",
    "SELECT /*+ BROADCAST(r) */ n_name FROM nation n "
    "  JOIN region r ON n_regionkey = r_regionkey",
    "SELECT TRY_CAST(n_name AS INT) AS x FROM nation",
    "SELECT n_name FROM nation WHERE n_name ILIKE '%a%'",
    "SELECT OVERLAY('hello' PLACING 'XX' FROM 2) AS o FROM region "
    "  LIMIT 1",
    "SELECT n_regionkey, LISTAGG(n_name, ',') "
    "  WITHIN GROUP (ORDER BY n_name) AS names FROM nation "
    "  GROUP BY n_regionkey",
    # round-11 batch 3: window FILTER, IGNORE/RESPECT NULLS, nested
    # agg-in-window, CASE-wrapped EXISTS projection, interval
    # arithmetic, deep * nesting, UNION inside IN
    "SELECT n_regionkey, COUNT(*) FILTER (WHERE n_nationkey > 10) "
    "  AS n FROM nation GROUP BY n_regionkey",
    "SELECT n_nationkey, LAST_VALUE(n_name) IGNORE NULLS "
    "  OVER (ORDER BY n_nationkey) AS lv FROM nation",
    "SELECT n_regionkey, SUM(COUNT(*)) OVER () AS tot FROM nation "
    "  GROUP BY n_regionkey",
    "SELECT CASE WHEN EXISTS (SELECT 1 FROM region r "
    "  WHERE r.r_regionkey = n.n_regionkey) THEN 1 ELSE 0 END AS f "
    "  FROM nation n",
    "SELECT DATE '1995-01-01' + INTERVAL '3' MONTH AS d FROM region "
    "  LIMIT 1",
    "SELECT * FROM (SELECT * FROM (SELECT n_nationkey AS k "
    "  FROM nation WHERE n_nationkey > 2) a WHERE k < 20) b "
    "  WHERE k % 2 = 0",
    "SELECT COUNT(*) AS n FROM nation WHERE n_regionkey IN "
    "  (SELECT r_regionkey FROM region WHERE r_regionkey < 2 "
    "   UNION SELECT 4)",
    # round-12 batch: the shapes this round ROUTES to the fallback
    # must complete under auto (row-value NOT IN over a correlated
    # set; SEMI JOIN composed with a later FULL JOIN; EXISTS whose
    # derived-table body aggregates)
    "SELECT c_name FROM customer c WHERE (c_custkey, c_nationkey) "
    "  NOT IN (SELECT o_orderkey, 1 FROM orders o "
    "          WHERE o_custkey = c_custkey)",
    "SELECT n.n_name, r.r_name FROM nation n SEMI JOIN supplier s "
    "  ON n.n_nationkey = s.s_nationkey "
    "  FULL JOIN region r ON n.n_regionkey = r.r_regionkey",
    "SELECT n_name FROM nation n WHERE EXISTS "
    "  (SELECT 1 FROM (SELECT s_nationkey AS sk, COUNT(*) AS c "
    "   FROM supplier GROUP BY s_nationkey HAVING COUNT(*) > 1) v "
    "   WHERE v.sk = n.n_nationkey)",
]


@pytest.mark.parametrize(
    "sql", FALLBACK_CONTRACT_QUERIES,
    ids=[q.strip()[:40] for q in FALLBACK_CONTRACT_QUERIES],
)
def test_auto_fallback_contract(engine, sql):
    """Every valid-Spark query must COMPLETE under mode='auto': either
    planned natively or routed to spark.sql via UnsupportedSqlError.
    A raw ValueError/KeyError escaping the parser or planner breaks
    the contract (users see a crash on SQL Spark itself accepts)."""
    df = engine.sql(sql)
    assert df.count() >= 0


def test_ctas_and_create_view(engine, oracle):
    """CREATE [OR REPLACE] TABLE|VIEW name AS <select> (round 11):
    plans through the engine pipeline and registers a DataFrame-backed
    catalog table usable by later queries (TABLE persisted, VIEW
    lazy). Unrecognized DDL raises instead of silently registering
    nothing (the pre-fix CTAS behavior)."""
    import pytest as _pytest

    engine.ddl(
        "CREATE TABLE t_ctas AS SELECT n_nationkey, n_regionkey "
        "FROM nation WHERE n_nationkey > 10"
    )
    try:
        from tests.helpers import assert_matches

        assert_matches(
            engine.sql(
                "SELECT t.n_nationkey, r.r_name FROM t_ctas AS t, "
                "region AS r WHERE t.n_regionkey = r.r_regionkey"
            ),
            oracle,
            "SELECT n_nationkey, r_name FROM nation JOIN region "
            "ON n_regionkey = r_regionkey WHERE n_nationkey > 10",
        )
        engine.ddl(
            "CREATE OR REPLACE VIEW v_ctas AS "
            "SELECT n_nationkey FROM t_ctas WHERE n_nationkey > 20"
        )
        try:
            assert engine.sql("SELECT COUNT(*) AS n FROM v_ctas").collect()[0][0] == 4
        finally:
            engine.catalog.unregister("v_ctas")
        with _pytest.raises(ValueError, match="unrecognized DDL"):
            engine.ddl("DROP TABLE t_ctas")
    finally:
        engine.catalog.unregister("t_ctas")


def test_ddl_hardening(engine):
    """Round 12 (r11 verdict item 5): ddl() splits on top-level
    semicolons (multi-statement strings mixing CTAS and column-list
    DDL register everything; ';' inside a string literal stays in the
    CTAS body), accepts quoted/qualified CTAS names (flat catalog —
    last segment wins), and rejects the ambiguous
    CREATE TABLE t (cols) AS SELECT form explicitly."""
    import pytest as _pytest

    # multi-statement: CTAS first (the old regex swallowed the rest),
    # then a second CTAS whose body holds a ';' literal
    engine.ddl(
        "CREATE TABLE t_ddl1 AS SELECT n_nationkey FROM nation "
        "WHERE n_nationkey < 3; "
        "CREATE OR REPLACE VIEW t_ddl2 AS "
        "SELECT r_regionkey, ';' AS semi FROM region;"
    )
    try:
        assert engine.sql("SELECT COUNT(*) AS n FROM t_ddl1").collect()[0][0] == 3
        # (bare `SELECT semi` is a non-full projection => DISTINCT)
        rows = engine.sql("SELECT semi FROM t_ddl2").collect()
        assert [tuple(r) for r in rows] == [(";",)]
        assert engine.sql("SELECT COUNT(*) AS n FROM t_ddl2").collect()[0][0] == 5
    finally:
        engine.catalog.unregister("t_ddl1")
        engine.catalog.unregister("t_ddl2")
    # quoted + schema-qualified names: last segment, quotes stripped
    engine.ddl(
        'CREATE TABLE main.`t_ddl3` AS SELECT r_regionkey FROM region'
    )
    try:
        assert engine.sql("SELECT COUNT(*) AS n FROM t_ddl3").collect()[0][0] == 5
    finally:
        engine.catalog.unregister("t_ddl3")
    # the ambiguous form is rejected with a targeted message
    with _pytest.raises(ValueError, match="ambiguous"):
        engine.ddl("CREATE TABLE t_bad (a, b) AS SELECT 1, 2")
    # unrecognized statements still raise per statement
    with _pytest.raises(ValueError, match="unrecognized DDL"):
        engine.ddl(
            "CREATE TABLE t_ddl4 AS SELECT 1 AS one; DROP TABLE t_ddl4"
        )
    engine.catalog.unregister("t_ddl4")


def test_semi_join_without_explicit_alias(engine, oracle):
    """'FROM t semi JOIN u' must read SEMI JOIN (Spark's grammar), not
    an implicit alias 'semi' that degrades the join to inner — while
    'FROM t semi WHERE ...' (no JOIN after) keeps semi as an alias."""
    from tests.helpers import assert_matches

    assert_matches(
        engine.sql(
            "SELECT n_name FROM nation semi JOIN region "
            "ON n_regionkey = r_regionkey AND r_regionkey > 2"
        ),
        oracle,
        "SELECT DISTINCT n_name FROM nation WHERE EXISTS (SELECT 1 "
        "FROM region WHERE n_regionkey = r_regionkey AND r_regionkey > 2)",
    )
    assert (
        engine.sql(
            "SELECT semi.n_name FROM nation semi WHERE semi.n_regionkey = 1"
        ).count()
        == 5
    )
    assert (
        engine.sql(
            "SELECT anti.n_name FROM nation AS anti "
            "WHERE anti.n_regionkey = 1"
        ).count()
        == 5
    )


def test_exists_over_cte(engine, oracle):
    """Round 12: [NOT] EXISTS and positive IN over a CTE plan natively
    — the CTE substitutes into the Exists BODY as a derived-table FROM
    item (the same composite-view lift as SEMI/ANTI over a subquery).
    NOT IN over a CTE stays on the fallback (the body lift is
    two-valued and would drop the three-valued NULL semantics)."""
    import pytest as _pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    cases = [
        (
            "WITH big AS (SELECT s_nationkey AS sk FROM supplier AS s "
            "WHERE s.s_acctbal > 5000.0) SELECT n_name FROM nation AS n "
            "WHERE EXISTS (SELECT 1 FROM big AS b "
            "WHERE b.sk = n.n_nationkey)",
            "SELECT DISTINCT n_name FROM nation n WHERE EXISTS "
            "(SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey "
            "AND s_acctbal > 5000.0)",
        ),
        (
            "WITH big AS (SELECT s_nationkey AS sk FROM supplier AS s "
            "WHERE s.s_acctbal > 5000.0) SELECT n_name FROM nation AS n "
            "WHERE NOT EXISTS (SELECT 1 FROM big AS b "
            "WHERE b.sk = n.n_nationkey)",
            "SELECT DISTINCT n_name FROM nation n WHERE NOT EXISTS "
            "(SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey "
            "AND s_acctbal > 5000.0)",
        ),
        (
            # positive IN over a CTE (two-valued-equivalent)
            "WITH ks AS (SELECT o_custkey AS k FROM orders AS o WHERE "
            "o.o_totalprice > 150000.0) SELECT c_name FROM customer AS "
            "c WHERE c.c_custkey IN (SELECT k FROM ks AS x) AND "
            "c.c_custkey < 300",
            "SELECT DISTINCT c_name FROM customer WHERE c_custkey IN "
            "(SELECT o_custkey FROM orders WHERE o_totalprice > "
            "150000.0) AND c_custkey < 300",
        ),
        (
            # chained CTEs inside the EXISTS body
            "WITH a AS (SELECT s_nationkey AS sk, s_acctbal AS b FROM "
            "supplier AS s), big AS (SELECT sk FROM a AS aa WHERE "
            "aa.b > 5000.0) SELECT n_name FROM nation AS n WHERE "
            "EXISTS (SELECT 1 FROM big AS b WHERE b.sk = n.n_nationkey)",
            "SELECT DISTINCT n_name FROM nation n WHERE EXISTS "
            "(SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey "
            "AND s_acctbal > 5000.0)",
        ),
    ]
    for q, ora in cases:
        got = sorted(
            str(tuple(r)) for r in engine.sql(q, mode="cqc").collect()
        )
        want = sorted(str(tuple(r)) for r in oracle.execute(ora).fetchall())
        assert got == want, (q, got[:3], want[:3])
    # NOT IN over a CTE: round 13 plans it NATIVELY (Exists.cte_body
    # carried by the parser, api._lift_cte_not_in registers the body
    # as an ephemeral view and re-enters the three-valued single-table
    # path); ANSI bag semantics like every composite-view surface, so
    # mode='spark' is the exact comparator. NULL-matrix coverage lives
    # in test_not_in_over_cte_null_matrix.
    q = (
        "WITH ks AS (SELECT o_custkey AS k FROM orders AS o "
        "WHERE o.o_totalprice > 450000.0) "
        "SELECT c_name FROM customer AS c WHERE c.c_custkey NOT IN "
        "(SELECT k FROM ks AS x) AND c.c_custkey < 100"
    )
    got = sorted(
        str(tuple(r)) for r in engine.sql(q, mode="cqc").collect()
    )
    want = sorted(
        str(tuple(r)) for r in engine.sql(q, mode="spark").collect()
    )
    assert got == want and got
    # compound CTE bodies stay on the fallback (containment)
    qc = (
        "WITH ks AS (SELECT o_custkey AS k FROM orders AS o UNION "
        "SELECT 1 AS k) SELECT c_name FROM customer AS c WHERE "
        "c.c_custkey NOT IN (SELECT k FROM ks AS x)"
    )
    with _pytest.raises(UnsupportedSqlError):
        engine.sql(qc, mode="cqc")
    got = sorted(str(tuple(r)) for r in engine.sql(qc).collect())
    want = sorted(
        str(tuple(r)) for r in engine.sql(qc, mode="spark").collect()
    )
    assert got == want


def test_subquery_having_not_dropped(engine, oracle):
    """Round 12 correctness fix: a FROM-subquery's HAVING was silently
    DROPPED by the narrow C21 agg-relation shape (`FROM (... GROUP BY
    k HAVING COUNT(*) > 1) v` returned every group). The shape now
    rejects into the recursive composite-view planner, which applies
    HAVING; plain agg views (no HAVING) stay on the C21 fast path."""
    cases = [
        # the repro: HAVING filters every group out at sf0.001
        ("SELECT v.sk, v.c FROM (SELECT s_nationkey AS sk, COUNT(*) "
         "AS c FROM supplier GROUP BY s_nationkey HAVING COUNT(*) > 1"
         ") AS v"),
        # HAVING keeps all groups — counts must match too
        ("SELECT v.sk, v.c FROM (SELECT s_nationkey AS sk, COUNT(*) "
         "AS c FROM supplier GROUP BY s_nationkey HAVING COUNT(*) >= "
         "1) AS v ORDER BY v.sk"),
        # EXISTS over the grouped+HAVING body (the round-12 body lift)
        ("SELECT n_name FROM nation AS n WHERE EXISTS (SELECT 1 FROM "
         "(SELECT s_nationkey AS sk, COUNT(*) AS c FROM supplier "
         "GROUP BY s_nationkey HAVING COUNT(*) > 1) AS v "
         "WHERE v.sk = n.n_nationkey)"),
        # QUALIFY inside a derived table (same silent-drop class: the
        # narrow derived-scan shape returned every row)
        ("SELECT v.nm FROM (SELECT n_name AS nm, n_regionkey AS rk "
         "FROM nation AS x QUALIFY ROW_NUMBER() OVER "
         "(PARTITION BY n_regionkey ORDER BY n_name) = 1) AS v"),
    ]
    for q in cases:
        got = sorted(
            str(tuple(r)) for r in engine.sql(q, mode="cqc").collect()
        )
        ora = q if "EXISTS" not in q else q.replace(
            "SELECT n_name", "SELECT DISTINCT n_name"
        )
        want = sorted(str(tuple(r)) for r in oracle.execute(ora).fetchall())
        assert got == want, (q, got, want)


def test_not_in_correlated_where(engine, spark):
    """Round 12 correctness fix: `o.x NOT IN (SELECT y FROM t WHERE
    t.k = o.k)` — the correlated-WHERE equality is a GROUP key, not a
    probe column. All three planners (top-level SemiFilter, the
    OR-disjunct flag, the derived-table pre_semi) used to conflate it
    into the probe row-value and silently changed the NULL semantics
    (engine kept 1 of Spark/DuckDB's 4 rows on this exact data). The
    shape now raises into the spark.sql fallback; results must equal
    mode='spark'. Probe-independent forms stay native."""
    import pytest as _pytest

    from sparksqlplus_spark.parser.sql import UnsupportedSqlError

    o_rows = [
        (1, 10, 5, 0), (2, 10, None, 0), (3, 10, 7, 0),
        (4, 99, 5, 0), (5, None, 5, 0), (6, 10, 6, 0),
    ]
    t_rows = [(10, 5), (11, 6), (10, None)]
    engine.register(
        "o_corr", spark.createDataFrame(o_rows, "id int, x int, k int, p int")
    )
    engine.register(
        "t_corr", spark.createDataFrame(t_rows, "y int, k int")
    )
    try:
        # single-column probes (outer Col or constant) now plan
        # NATIVELY through the per-group stats flag
        # (plans/not_in.py:_keys_flag, at the top level and under OR)
        corr_cases = [
            # top-level correlated NOT IN
            """SELECT o.id FROM o_corr AS o WHERE o.x NOT IN
               (SELECT t.y FROM t_corr AS t WHERE t.k = o.k)""",
            # under OR
            """SELECT o.id FROM o_corr AS o WHERE o.p = 1 OR o.x NOT IN
               (SELECT t.y FROM t_corr AS t WHERE t.k = o.k)""",
            # const probe + correlated WHERE under OR
            """SELECT o.id FROM o_corr AS o WHERE o.p = 1 OR 10 NOT IN
               (SELECT t.y FROM t_corr AS t WHERE t.k = o.k)""",
            # const probe + correlated WHERE at top level, with an
            # extra inner-local filter
            """SELECT o.id FROM o_corr AS o WHERE 10 NOT IN
               (SELECT t.y FROM t_corr AS t WHERE t.k = o.k
                AND t.y IS NOT NULL)""",
            # TWO correlation keys (the group is a composite key)
            """SELECT o.id FROM o_corr AS o WHERE o.x NOT IN
               (SELECT t.y FROM t_corr AS t WHERE t.k = o.k
                AND t.y = o.x)""",
        ]
        for q in corr_cases:
            got = sorted(
                r[0] for r in engine.sql(q, mode="cqc").collect()
            )
            want = sorted(
                r[0] for r in engine.sql(q, mode="spark").collect()
            )
            assert got == want, (q, got, want)
        # the first case is the documented wrong-answer repro: the old
        # row-value reading kept ONLY id=4
        got = sorted(
            r[0] for r in engine.sql(corr_cases[0], mode="cqc").collect()
        )
        assert got == [2, 3, 4, 6], got
        # a row-value probe WITH correlation stays on the fallback
        # (per-group row-value NULL patterns are out of subset)
        q_rv = """SELECT o.id FROM o_corr AS o WHERE (o.x, o.p) NOT IN
                  (SELECT t.y, 0 FROM t_corr AS t WHERE t.k = o.k)"""
        with _pytest.raises(UnsupportedSqlError):
            engine.sql(q_rv, mode="cqc")
        got = sorted(r[0] for r in engine.sql(q_rv).collect())
        want = sorted(
            r[0] for r in engine.sql(q_rv, mode="spark").collect()
        )
        assert got == want, (q_rv, got, want)
        # probe-independent forms stay NATIVE and correct
        native_cases = [
            # positive IN with correlation is two-valued EXISTS — fine
            ("""SELECT o.id FROM o_corr AS o WHERE o.p = 1 OR o.x IN
                (SELECT t.y FROM t_corr AS t WHERE t.k = o.k)""", [1]),
            # uncorrelated NOT IN (inner-only filter)
            ("""SELECT o.id FROM o_corr AS o WHERE o.x NOT IN
                (SELECT t.y FROM t_corr AS t WHERE t.y > 10)""",
             [1, 2, 3, 4, 6]),
        ]
        for q, want_rows in native_cases:
            got = sorted(
                r[0] for r in engine.sql(q, mode="cqc").collect()
            )
            assert got == want_rows, (q, got)
            assert got == sorted(
                r[0] for r in engine.sql(q, mode="spark").collect()
            )
    finally:
        engine.catalog.unregister("o_corr")
        engine.catalog.unregister("t_corr")


def test_semi_anti_exists_over_subquery(engine, oracle):
    """Round 12 (r11 verdict item 6): SEMI/ANTI JOIN over a derived
    table — and EXISTS whose FROM is a derived table — plan natively
    through the same composite-view body lift as multi-table EXISTS
    (api._exists_body_rewrite + _from_item_cols), then the SemiFilter
    fold applies. Previously both raised into the fallback."""
    cases = [
        (
            """SELECT n.n_name FROM nation AS n SEMI JOIN
               (SELECT s_nationkey AS sk FROM supplier AS s
                WHERE s.s_acctbal > 5000.0) AS v
               ON n.n_nationkey = v.sk""",
            """SELECT DISTINCT n_name FROM nation WHERE EXISTS
               (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey
                AND s_acctbal > 5000.0)""",
        ),
        (
            """SELECT n.n_name FROM nation AS n ANTI JOIN
               (SELECT s_nationkey AS sk FROM supplier AS s
                WHERE s.s_acctbal > 5000.0) AS v
               ON n.n_nationkey = v.sk""",
            """SELECT DISTINCT n_name FROM nation WHERE NOT EXISTS
               (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey
                AND s_acctbal > 5000.0)""",
        ),
        (
            """SELECT c.c_name FROM customer AS c WHERE EXISTS
               (SELECT 1 FROM (SELECT o_custkey AS ck FROM orders AS o
                               WHERE o.o_totalprice > 100000.0) AS v
                WHERE v.ck = c.c_custkey) AND c.c_custkey < 200""",
            """SELECT DISTINCT c_name FROM customer WHERE EXISTS
               (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                AND o_totalprice > 100000.0) AND c_custkey < 200""",
        ),
        (
            # derived table + plain join inside the body
            """SELECT n.n_name FROM nation AS n WHERE EXISTS
               (SELECT 1 FROM (SELECT s_nationkey AS sk, s_suppkey AS sup
                               FROM supplier AS s) AS v
                INNER JOIN lineitem AS l ON v.sup = l.l_suppkey
                WHERE v.sk = n.n_nationkey AND l.l_quantity > 49)""",
            """SELECT DISTINCT n_name FROM nation WHERE EXISTS
               (SELECT 1 FROM supplier s JOIN lineitem l
                ON s.s_suppkey = l.l_suppkey
                WHERE s.s_nationkey = n_nationkey AND l.l_quantity > 49)""",
        ),
        (
            # positive IN over a JOINED body (round 12: rides the same
            # lift; two-valued-equivalent, so exact)
            """SELECT n.n_name FROM nation AS n WHERE n.n_nationkey IN
               (SELECT s.s_nationkey FROM supplier AS s
                INNER JOIN lineitem AS l ON s.s_suppkey = l.l_suppkey
                WHERE l.l_quantity > 49)""",
            """SELECT DISTINCT n_name FROM nation WHERE n_nationkey IN
               (SELECT s_nationkey FROM supplier s JOIN lineitem l
                ON s.s_suppkey = l.l_suppkey WHERE l.l_quantity > 49)""",
        ),
        (
            # positive IN over a derived body
            """SELECT c.c_name FROM customer AS c WHERE c.c_custkey IN
               (SELECT v.ck FROM (SELECT o_custkey AS ck FROM orders
                AS o WHERE o.o_totalprice > 150000.0) AS v)
               AND c.c_custkey < 300""",
            """SELECT DISTINCT c_name FROM customer WHERE c_custkey IN
               (SELECT o_custkey FROM orders WHERE o_totalprice >
                150000.0) AND c_custkey < 300""",
        ),
    ]
    for q, ora in cases:
        got = sorted(
            str(tuple(r)) for r in engine.sql(q, mode="cqc").collect()
        )
        want = sorted(str(tuple(r)) for r in oracle.execute(ora).fetchall())
        assert got == want, (q, got[:3], want[:3])


def test_semi_join_then_right_full_join(engine):
    """Round 12 (r11 ADVICE, medium) found the hazard: SEMI/ANTI JOIN
    followed by a RIGHT/FULL JOIN desugared to a WHERE-level Exists
    that _run_outer applied POST-join, silently dropping the
    null-extended preserved rows Spark keeps (it applies the semi/anti
    first). Round 13 (r12 verdict item 8) plans it NATIVELY: the
    parser routes the desugared Exists through inner_on (the pre-join
    clause RIGHT/FULL already uses) and _run_outer folds it into the
    phase-1 core — semi-filter-then-join, Spark's left-to-right order.
    Results must equal mode='spark' exactly, null-extended rows
    included; both SEMI and ANTI arms covered."""
    q = (
        "SELECT n.n_name, r.r_name FROM nation AS n "
        "{semi} JOIN supplier AS s ON n.n_nationkey = s.s_nationkey "
        "AND s.s_acctbal > 5000.0 "
        "{join} region AS r ON n.n_regionkey = r.r_regionkey"
    )
    for semi in ("SEMI", "ANTI"):
        for join in ("RIGHT JOIN", "FULL JOIN"):
            sql = q.format(semi=semi, join=join)
            got = sorted(
                str(tuple(r))
                for r in engine.sql(sql, mode="cqc").collect()
            )
            want = sorted(
                str(tuple(r))
                for r in engine.sql(sql, mode="spark").collect()
            )
            assert got == want, (semi, join, got[:5], want[:5])
            if semi == "SEMI":
                # the native plan keeps region's unmatched
                # (null-extended) rows — the r12 hazard
                assert any(s.startswith("(None") for s in got), join
    # semi + LEFT JOIN stays native (semi-first == post-join when the
    # preserved core is the left block) and agrees with Spark
    sql = q.format(semi="SEMI", join="LEFT JOIN")
    got = sorted(str(tuple(r)) for r in engine.sql(sql, mode="cqc").collect())
    want = sorted(
        str(tuple(r)) for r in engine.sql(sql, mode="spark").collect()
    )
    assert got == want and len(got) > 0
    # SEMI/ANTI AFTER the outer join (late round 13 — the reverse
    # composition): SQL's left-to-right chain applies it to the
    # COMPOSED result, which IS the WHERE-level Exists placement
    # (null-extended probes never match); conds on the preserved AND
    # the null-extended side both covered, plus an intervening LEFT
    # join, all vs mode='spark'
    post_cases = [
        "SELECT n.n_name, r.r_name FROM nation AS n "
        "{join} region AS r ON n.n_regionkey = r.r_regionkey "
        "{semi} JOIN supplier AS s ON n.n_nationkey = s.s_nationkey "
        "AND s.s_acctbal > 5000.0",
        # cond on the null-extended side (RIGHT null-extends nation)
        "SELECT n.n_name, r.r_name FROM nation AS n "
        "RIGHT JOIN region AS r ON n.n_regionkey = r.r_regionkey "
        "{semi} JOIN customer AS c ON c.c_nationkey = n.n_nationkey "
        "AND c.c_acctbal {cmp} 0.0",
        # semi between the RIGHT and a later LEFT join (commutes)
        "SELECT n.n_name, r.r_name, s2.s_name FROM nation AS n "
        "RIGHT JOIN region AS r ON n.n_regionkey = r.r_regionkey "
        "{semi} JOIN customer AS c ON c.c_nationkey = n.n_nationkey "
        "LEFT JOIN supplier AS s2 ON s2.s_nationkey = n.n_nationkey",
    ]
    for semi in ("SEMI", "ANTI"):
        for join in ("RIGHT JOIN", "FULL JOIN"):
            for tpl in post_cases:
                sql = tpl.format(semi=semi, join=join, cmp=">")
                got = sorted(
                    str(tuple(r))
                    for r in engine.sql(sql, mode="cqc").collect()
                )
                want = sorted(
                    str(tuple(r))
                    for r in engine.sql(sql, mode="spark").collect()
                )
                assert got == want, ("post", semi, join, got[:4], want[:4])
    # a semi BETWEEN outer joins with a LATER RIGHT/FULL does not
    # commute past the null-extending join — fallback contract
    import pytest as _pytest

    from sparksqlplus_spark.api import UnsupportedSqlError

    with _pytest.raises(UnsupportedSqlError):
        engine.sql(
            "SELECT n.n_name FROM nation AS n "
            "RIGHT JOIN region AS r ON n.n_regionkey = r.r_regionkey "
            "SEMI JOIN customer AS c ON c.c_nationkey = n.n_nationkey "
            "RIGHT JOIN supplier AS s ON s.s_nationkey = n.n_nationkey",
            mode="cqc",
        )


def test_select_star_native(engine, oracle):
    """SELECT * / alias.* expand natively in build_context (round 11)
    — previously a bare star escaped to Star.to_spark's raw ValueError
    mid-plan, so the single most common SQL statement crashed instead
    of planning (or falling back). Mixed items, derived tables,
    DISTINCT, ORDER BY+LIMIT, and multi-relation joins all expand;
    duplicate output names across FROM items ride the fallback."""
    from tests.helpers import assert_matches

    cases = [
        "SELECT * FROM nation",
        "SELECT * FROM nation WHERE n_regionkey = 1",
        "SELECT * FROM nation AS n, region AS r "
        "  WHERE n.n_regionkey = r.r_regionkey",
        "SELECT n.*, r.r_name FROM nation AS n, region AS r "
        "  WHERE n.n_regionkey = r.r_regionkey",
        "SELECT * FROM (SELECT n_nationkey AS k FROM nation) a "
        "  WHERE k > 2",
        "SELECT * FROM (SELECT * FROM (SELECT n_nationkey AS k "
        "  FROM nation) a) b",
        "SELECT DISTINCT * FROM region",
        "SELECT * FROM nation ORDER BY n_nationkey DESC LIMIT 3",
    ]
    for sql in cases:
        assert_matches(engine.sql(sql, mode="cqc"), oracle, sql)
    # star + QUALIFY / DISTINCT ON (NO Spark fallback exists — native
    # expansion is the only support) and star over outer joins
    assert (
        engine.sql(
            "SELECT * FROM region QUALIFY "
            "ROW_NUMBER() OVER (ORDER BY r_regionkey) <= 2"
        ).count()
        == 2
    )
    assert (
        engine.sql(
            "SELECT DISTINCT ON (n_regionkey) * FROM nation "
            "ORDER BY n_nationkey"
        ).count()
        == 5
    )
    assert_matches(
        engine.sql(
            "SELECT c.c_name, o.* FROM customer AS c LEFT JOIN orders "
            "AS o ON c.c_custkey = o.o_custkey WHERE c.c_custkey <= 20"
        ),
        oracle,
        "SELECT c.c_name, o.* FROM customer c LEFT JOIN orders o "
        "ON c.c_custkey = o.o_custkey WHERE c.c_custkey <= 20",
    )
    # duplicate names across FROM items: planner rejects, auto answers
    assert (
        engine.sql(
            "SELECT * FROM region AS a, region AS b "
            "WHERE a.r_regionkey = b.r_regionkey"
        ).count()
        == 5
    )


def test_not_in_over_cte_null_matrix(engine):
    """Round 13 (r12 verdict item 4): NOT IN over a CTE plans natively
    through the three-valued SemiFilter (the CTE body becomes an
    ephemeral view — api._lift_cte_not_in). Brute-force NULL matrix on
    synthetic data: plain, correlated (corr_keys against the view),
    threshold-filtered, probe-expression, and under-OR compositions,
    each against a Python brute force with the full three-valued
    contract. Also pins the compound-CTE fallback contract."""
    import random

    import pandas as pd
    import pytest as _pytest

    from sparksqlplus_spark.api import UnsupportedSqlError

    spark = engine.spark
    rng = random.Random(131)
    for trial in range(2):
        base = [
            (
                rng.choice([None, 1, 2, 3]),
                rng.choice([None] + list(range(1, 7))),
                rng.choice([None] + list(range(1, 5))),
            )
            for _ in range(rng.randint(3, 15))
        ]
        outer = [
            (
                i,
                rng.choice([None, 1, 2, 3]),
                rng.choice([None] + list(range(1, 8))),
                rng.choice([None] + list(range(1, 5))),
            )
            for i in range(12)
        ]
        bpdf = pd.DataFrame(base, columns=["bk", "by", "bc"])
        opdf = pd.DataFrame(outer, columns=["pk", "k", "x", "d"])
        engine.catalog.register_df(
            "cnb_base",
            spark.createDataFrame(
                bpdf.astype(object).where(bpdf.notna(), None),
                "bk int, by int, bc int",
            ),
            (),
        )
        engine.catalog.register_df(
            "cnb_outer",
            spark.createDataFrame(
                opdf.astype(object).where(opdf.notna(), None),
                "pk int, k int, x int, d int",
            ),
            ("pk",),
        )
        # the CTE body filters the base table (pushdown inside the view)
        cte = (
            "WITH v AS (SELECT b.bk AS vk, b.by AS vy, b.bc AS vc "
            "FROM cnb_base AS b WHERE b.bc IS NOT NULL) "
        )
        vrows = [(bk, by, bc) for bk, by, bc in base if bc is not None]

        def brute(probe_fn, grp_fn, pre=None):
            out = []
            for pk, k, x, d in outer:
                if pre is not None and pre(pk, k, x, d):
                    out.append(pk)
                    continue
                xv = probe_fn(x, d)
                grp = grp_fn(k, d)
                if not grp:
                    out.append(pk)
                elif xv is not None and any(
                    vy == xv for vy in grp if vy is not None
                ):
                    pass
                elif any(vy is None for vy in grp) or xv is None:
                    pass
                else:
                    out.append(pk)
            return sorted(out)

        cases = [
            # plain (uncorrelated set)
            (
                "p.x NOT IN (SELECT w.vy FROM v AS w)",
                lambda x, d: x,
                lambda k, d: [vy for vk, vy, vc in vrows],
                None,
            ),
            # correlated against the view (corr_keys)
            (
                "p.x NOT IN (SELECT w.vy FROM v AS w WHERE w.vk = p.k)",
                lambda x, d: x,
                lambda k, d: [
                    vy
                    for vk, vy, vc in vrows
                    if vk is not None and k is not None and vk == k
                ],
                None,
            ),
            # threshold-filtered view set (corr_threshold)
            (
                "p.x NOT IN (SELECT w.vy FROM v AS w "
                "WHERE w.vk = p.k AND w.vc < p.d)",
                lambda x, d: x,
                lambda k, d: [
                    vy
                    for vk, vy, vc in vrows
                    if None not in (vk, k, vc, d) and vk == k and vc < d
                ],
                None,
            ),
            # probe EXPRESSION over a CTE (expr_probe composition)
            (
                "p.x + 1 NOT IN (SELECT w.vy FROM v AS w "
                "WHERE w.vk = p.k)",
                lambda x, d: None if x is None else x + 1,
                lambda k, d: [
                    vy
                    for vk, vy, vc in vrows
                    if vk is not None and k is not None and vk == k
                ],
                None,
            ),
            # under OR (single-key three-valued flag lift)
            (
                "p.d = 1 OR p.x NOT IN (SELECT w.vy FROM v AS w)",
                lambda x, d: x,
                lambda k, d: [vy for vk, vy, vc in vrows],
                lambda pk, k, x, d: d == 1,
            ),
        ]
        try:
            for body, probe_fn, grp_fn, pre in cases:
                q = f"{cte}SELECT p.pk FROM cnb_outer AS p WHERE {body}"
                mine = sorted(
                    r["pk"] for r in engine.sql(q, mode="cqc").collect()
                )
                truth = brute(probe_fn, grp_fn, pre)
                assert mine == truth, (trial, body, mine, truth)
            # compound CTE body: fallback contract
            with _pytest.raises(UnsupportedSqlError):
                engine.sql(
                    "WITH v AS (SELECT bk FROM cnb_base AS a UNION "
                    "SELECT 9 AS bk) SELECT p.pk FROM cnb_outer AS p "
                    "WHERE p.x NOT IN (SELECT w.bk FROM v AS w)",
                    mode="cqc",
                )
        finally:
            engine.catalog.unregister("cnb_base")
            engine.catalog.unregister("cnb_outer")


def test_expr_rebuild_preserves_all_fields():
    """map_expr/rewrite_refs reconstruct nodes POSITIONALLY — round 12
    shipped a silent correctness bug when they dropped a node's flag
    field (a set-empty branch became set-NONEMPTY).
    Identity-rebuild nodes with every non-default flag set and assert
    full dataclass equality, so a future field added to a node without
    updating both rebuilds fails here instead of in production."""
    from sparksqlplus_spark.expressions import (
        Cmp,
        Col,
        Exists,
        IsNull,
        Lit,
        Neq2OrderWitness,
        NeqTripleWitness,
        SkyWitness,
        map_expr,
        rewrite_refs,
    )

    samples = [
        SkyWitness(
            Col("a", "pts"),
            ("<", ">", "<="),
            (Col("o", "x"), Col("o", "y"), Col("o", "z")),
        ),
        NeqTripleWitness(
            Col("a", "upts"),
            Col("a", "vpts"),
            Col("o", "x"),
            "<",
            Col("o", "y"),
            ">=",
            Col("o", "z"),
        ),
        Neq2OrderWitness(
            Col("a", "npts"),
            Col("o", "x"),
            Col("o", "y"),
            "<=",
            Col("o", "z"),
        ),
        Exists(
            "t",
            "t0",
            (Cmp("=", Col("t0", "a"), Col("o", "b")),),
            negated=True,
            null_aware=True,
            body=None,
            n_probe=1,
            cte_body=None,
        ),
        IsNull(Col("o", "x"), negated=True),
    ]
    for node in samples:
        assert map_expr(node, lambda n: None) == node, type(node)
        assert rewrite_refs(node, {}) == node, type(node)


def test_tail_rescue_scanner():
    """Round 16: the text-level scanner behind api._emulate_tail_rescue
    (_top_level_positions / _split_tail_rescue) — strips only the
    TRAILING top-level ORDER BY/LIMIT/OFFSET, never clauses inside
    parens, quoted strings, or window frames."""
    from sparksqlplus_spark.api import (
        _split_tail_rescue,
        _top_level_commas,
        _top_level_positions,
    )

    # subquery ORDER BY + LIMIT stay untouched; outer tail found
    q = (
        "SELECT o.x FROM t AS o WHERE o.y IN "
        "(SELECT z FROM u ORDER BY w LIMIT 1) ORDER BY o.pk DESC "
        "NULLS LAST LIMIT 4"
    )
    body, insert_at, exprs = _split_tail_rescue(q, 1)
    assert body.endswith("LIMIT 1)")
    assert q[insert_at : insert_at + 4] == "FROM"
    assert exprs == ["o.pk"]

    # string literal containing keywords is not a token
    q2 = "SELECT o.x FROM t AS o WHERE o.s = ' ORDER BY LIMIT ' LIMIT 2"
    body2, _, exprs2 = _split_tail_rescue(q2, 0)
    assert body2.endswith("' ORDER BY LIMIT '")
    assert exprs2 == []

    # two sort items with directions + OFFSET; commas inside func
    # calls do not split
    q3 = (
        "SELECT o.x FROM t AS o ORDER BY coalesce(o.a, o.b) ASC, "
        "o.c DESC LIMIT 3 OFFSET 1"
    )
    _, _, exprs3 = _split_tail_rescue(q3, 2)
    assert exprs3 == ["coalesce(o.a, o.b)", "o.c"]

    # item count mismatch -> None (caller surfaces the planning error)
    assert _split_tail_rescue(q3, 3) is None
    # no top-level tail at all -> None
    assert (
        _split_tail_rescue("SELECT x FROM (SELECT y FROM t LIMIT 5) v", 0)
        is None
    )
    # helpers: doubled-quote escape, depth tracking
    pos = _top_level_positions("SELECT 'it''s from x' FROM t LIMIT 1")
    assert len(pos["from"]) == 1 and len(pos["limit"]) == 1
    assert _top_level_commas("a, f(b, c), d") == [1, 10]

    # round 17 (VERDICT r16 #2): `.`-qualified soft keywords are
    # identifiers — a column literally named limit/order/offset must
    # not split the body mid-WHERE
    q4 = "SELECT o.x FROM t AS o WHERE o.limit > 3 LIMIT 2"
    body4, _, _ = _split_tail_rescue(q4, 0)
    assert body4.endswith("o.limit > 3")
    q5 = "SELECT o.x FROM t AS o ORDER BY o.offset LIMIT 2"
    body5, _, exprs5 = _split_tail_rescue(q5, 1)
    assert body5.endswith("AS o") and exprs5 == ["o.offset"]
    # keyword as the QUALIFIER (alias named limit, dotted use) is
    # also identifier use
    pos5 = _top_level_positions(
        "SELECT limit.x FROM t ORDER BY limit.y"
    )
    assert pos5["limit"] == [] and len(pos5["order"]) == 1

    # round 17 (ADVICE r16 #1): ordinal ORDER BY items resolve to the
    # select-list expression (the parser's ordinal() semantics) —
    # never embed the bare integer as a constant sort key
    q6 = (
        "SELECT o.a AS k, o.b + 1 AS v FROM t AS o "
        "ORDER BY o.a, 2 LIMIT 3"
    )
    _, _, exprs6 = _split_tail_rescue(q6, 2)
    assert exprs6 == ["o.a", "o.b + 1"]
    # out-of-range ordinal / star item -> decline (None), never guess
    assert (
        _split_tail_rescue(
            "SELECT o.a FROM t AS o ORDER BY 5 LIMIT 3", 1
        )
        is None
    )
    assert (
        _split_tail_rescue(
            "SELECT * FROM t AS o ORDER BY 1 LIMIT 3", 1
        )
        is None
    )
