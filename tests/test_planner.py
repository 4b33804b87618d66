"""Planner unit tests (pure Python — no Spark jobs): GYO, connex
subtree, break rewrite. Ports the reference's planner test intent
(GyoAlgorithmTest, LogicalPlanConverterTest, TpchQueriesTest §5)."""

from sparksqlplus_spark.plans.context import Relation
from sparksqlplus_spark.plans.gyo import connex_subtree, gyo_join_tree


def rel(rid, alias, vars_):
    r = Relation(rid=rid, alias=alias, kind="scan", table=alias)
    r.col_to_var = {f"c{i}": v for i, v in enumerate(vars_)}
    return r


def test_gyo_line3_acyclic():
    t = gyo_join_tree([rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "d"])])
    assert t is not None
    assert set(t.parent) | {t.root} == {0, 1, 2}


def test_gyo_triangle_cyclic():
    assert gyo_join_tree(
        [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "a"])]
    ) is None


def test_gyo_star_acyclic():
    t = gyo_join_tree(
        [
            rel(0, "hub", ["a", "b", "c"]),
            rel(1, "x", ["a", "p"]),
            rel(2, "y", ["b", "q"]),
            rel(3, "z", ["c", "r"]),
        ]
    )
    assert t is not None
    assert t.root == 0 or all(t.parent.get(i) == 0 for i in (1, 2, 3) if i != t.root)


def test_connex_subtree_minimal():
    t = gyo_join_tree([rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "d"])])
    t = t.rerooted(0)
    assert connex_subtree(t, {"a"}) == {0}
    assert connex_subtree(t, {"a", "d"}) == {0, 1, 2}


def test_rerooted_preserves_edges():
    t = gyo_join_tree(
        [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "d"]), rel(3, "u", ["d", "e"])]
    )
    edges = {frozenset((c, p)) for c, p in t.parent.items()}
    for new_root in range(4):
        t2 = t.rerooted(new_root)
        assert t2.root == new_root
        assert {frozenset((c, p)) for c, p in t2.parent.items()} == edges


def test_break_triangle():
    from sparksqlplus_spark.plans.context import Context
    from sparksqlplus_spark.plans.cyclic import try_break

    rels = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "a"])]
    var_map = {}
    for r in rels:
        for c, v in r.col_to_var.items():
            var_map[(r.alias, c)] = v
    ctx = Context(
        relations=rels, var_map=var_map, local_filters={r.rid: [] for r in rels},
        comparisons=[], residuals=[], output=[], group_by=[], aggregations=[],
        order_by=[], limit=None, distinct=False, is_full=True,
    )
    got = try_break(ctx)
    assert got is not None
    nctx, tree = got
    assert len(nctx.residuals) == 1
    assert gyo_join_tree(nctx.relations) is not None


def test_root_hint(engine, oracle):
    """C24 join-order hint: same result from any enumeration root."""
    from tests.helpers import assert_matches

    q = """SELECT l.l_orderkey, s.s_name FROM lineitem AS l, supplier AS s
           WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity < s.s_acctbal"""
    o = """SELECT DISTINCT l.l_orderkey, s.s_name FROM lineitem l, supplier s
           WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity < s.s_acctbal"""
    for hint in ("l", "s"):
        assert_matches(engine.sql(q, root_hint=hint), oracle, o)


def test_freeconnex_exact_drop(engine, oracle):
    """Non-full query whose comparison partner subtree is dropped from
    enumeration (reference reduce-only execution): the ∃-semantics must
    survive via boundary min/max semi-joins."""
    from tests.helpers import assert_matches

    q = """SELECT l.l_orderkey, l.l_linenumber FROM lineitem AS l, supplier AS s, nation AS n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
             AND l.l_quantity < s.s_acctbal"""
    o = """SELECT DISTINCT l.l_orderkey, l.l_linenumber FROM lineitem l, supplier s, nation n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
             AND l.l_quantity < s.s_acctbal"""
    assert_matches(engine.sql(q), oracle, o)
    # and with both sides dropped onto one boundary: comparison between
    # two agg views over the same join key
    q2 = """SELECT o.o_orderkey FROM orders AS o,
                (SELECT l_orderkey, MIN(l_quantity) AS mn FROM lineitem GROUP BY l_orderkey) AS a,
                (SELECT l_orderkey, MAX(l_quantity) AS mx FROM lineitem GROUP BY l_orderkey) AS b
            WHERE o.o_orderkey = a.l_orderkey AND o.o_orderkey = b.l_orderkey
              AND a.mn * 2.0 < b.mx"""
    o2 = """SELECT DISTINCT o.o_orderkey FROM orders o,
                (SELECT l_orderkey, MIN(l_quantity) AS mn FROM lineitem GROUP BY l_orderkey) a,
                (SELECT l_orderkey, MAX(l_quantity) AS mx FROM lineitem GROUP BY l_orderkey) b
            WHERE o.o_orderkey = a.l_orderkey AND o.o_orderkey = b.l_orderkey
              AND a.mn * 2.0 < b.mx"""
    assert_matches(engine.sql(q2), oracle, o2)


def test_salted_join_equivalence(engine):
    """Salting must not change join semantics."""
    from sparksqlplus_spark.functions import salted_join

    li = engine.catalog.get("lineitem").df
    su = engine.catalog.get("supplier").df.withColumnRenamed("s_suppkey", "l_suppkey")
    plain = li.join(su, ["l_suppkey"], "inner")
    salted = salted_join(li, su, ["l_suppkey"], salt=8)
    assert plain.count() == salted.count()
    assert salted.select(*plain.columns).exceptAll(plain).count() == 0


def test_enumerate_join_trees_counts():
    """Candidate enumeration (reference GyoAlgorithmTest intent)."""
    from sparksqlplus_spark.plans.gyo import enumerate_join_trees

    chain = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "d"])]
    assert len(enumerate_join_trees(chain)) == 1
    # two interchangeable relations over the same variables -> 2 trees
    twin = [rel(0, "r", ["a", "b"]), rel(1, "s1", ["b", "c"]), rel(2, "s2", ["b", "c"])]
    trees = enumerate_join_trees(twin)
    assert len(trees) >= 2
    tri = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "a"])]
    assert enumerate_join_trees(tri) == []


def test_berge_acyclicity_and_ranking():
    from sparksqlplus_spark.plans.context import Comparison
    from sparksqlplus_spark.plans.gyo import (
        best_join_tree,
        comparison_paths,
        is_berge_acyclic,
        rank_tree,
    )
    from sparksqlplus_spark.expressions import Col

    rels = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "d"])]
    comps = [
        Comparison(1, "<", Col("r", "c0"), Col("t", "c0"), 0, 2),
    ]
    t = best_join_tree(rels, comps)
    assert t is not None
    paths = comparison_paths(t, comps)
    assert len(paths[1]) == 2  # r..t spans both chain edges
    assert is_berge_acyclic(paths)
    # two comparisons sharing both edges of the chain -> still a forest?
    comps2 = comps + [Comparison(2, "<", Col("r", "c1"), Col("t", "c1"), 0, 2)]
    paths2 = comparison_paths(t, comps2)
    assert not is_berge_acyclic(paths2)  # c1-e1-c2-e2-c1 cycle
    assert rank_tree(t, comps2)[0] == 1


def test_ghd_triangle_and_dumbbell():
    """GHD with fractional-edge-cover scoring (reference
    GhdScoreAssigner.scala:45-72): the triangle is ONE bag at ρ* = 1.5
    — fractional scoring is what makes the WCOJ bag beat the
    pair-of-edges cover (ρ* = 2, the binary-join blowup); the dumbbell
    decomposes to the reference's two triangle bags + bridge."""
    from sparksqlplus_spark.plans.ghd import fractional_edge_cover, ghd_decompose

    assert fractional_edge_cover(
        [frozenset("ab"), frozenset("bc"), frozenset("ca")]
    ) == 1.5
    assert fractional_edge_cover([frozenset("ab"), frozenset("bc")]) == 2.0
    assert fractional_edge_cover([frozenset("ab")]) == 1.0

    tri = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"]), rel(2, "t", ["c", "a"])]
    d = ghd_decompose(tri)
    assert d is not None and d.width == 1.5
    assert [sorted(b.rids) for b in d.bags] == [[0, 1, 2]]

    dumb = [
        rel(0, "g1", ["a", "b"]), rel(1, "g2", ["b", "c"]), rel(2, "g3", ["c", "a"]),
        rel(3, "g4", ["d", "e"]), rel(4, "g5", ["e", "f"]), rel(5, "g6", ["f", "d"]),
        rel(6, "g7", ["a", "d"]),
    ]
    d2 = ghd_decompose(dumb)
    assert d2 is not None
    assert d2.width == 1.5  # two WCOJ triangle bags + the singleton bridge
    assert sorted(sorted(b.rids) for b in d2.bags) == [[0, 1, 2], [3, 4, 5], [6]]
    assert set().union(*[b.rids for b in d2.bags]) == set(range(7))
    # acyclic input -> no decomposition needed
    chain = [rel(0, "r", ["a", "b"]), rel(1, "s", ["b", "c"])]
    assert ghd_decompose(chain) is None


def test_join_tree_hint_validation(engine, oracle):
    """Full user join-tree hint (reference HintHandler.scala:10-83):
    valid trees execute verbatim; coverage / duplicate / connectivity /
    running-intersection violations are rejected with InvalidHintError
    (the reference misses the running-intersection check and would
    compute garbage on such hints)."""
    import pytest as _pytest

    from sparksqlplus_spark.plans.hints import InvalidHintError, join_tree_from_hint
    from tests.helpers import assert_matches

    q = """SELECT s.s_name, n.n_name, l.l_quantity
           FROM lineitem AS l, supplier AS s, nation AS n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
             AND l.l_quantity < 10"""
    ctx = engine.context(q)

    # edge-list form: chain rooted at l
    tree = join_tree_from_hint(ctx, [("l", "s"), ("s", "n")])
    assert tree.relations[tree.root].alias == "l"
    assert {tree.relations[c].alias: tree.relations[p].alias
            for c, p in tree.parent.items()} == {"s": "l", "n": "s"}

    # nested HintNode form: same tree rooted at n
    nested = {"relation": "n",
              "children": [{"relation": "s", "children": [{"relation": "l"}]}]}
    tree2 = join_tree_from_hint(ctx, nested)
    assert tree2.relations[tree2.root].alias == "n"

    # executed under the hint, result matches the oracle
    df = engine.sql(q, join_tree_hint=[("l", "s"), ("s", "n")])
    assert_matches(
        df,
        oracle,
        """SELECT DISTINCT s.s_name, n.n_name, l.l_quantity
           FROM lineitem l, supplier s, nation n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
             AND l.l_quantity < 10""",
    )

    with _pytest.raises(InvalidHintError):  # n not covered
        join_tree_from_hint(ctx, [("l", "s")])
    with _pytest.raises(InvalidHintError):  # unknown alias
        join_tree_from_hint(ctx, [("l", "s"), ("s", "zz")])
    with _pytest.raises(InvalidHintError):  # duplicate child
        join_tree_from_hint(ctx, [("l", "s"), ("l", "s"), ("s", "n")])
    with _pytest.raises(InvalidHintError):  # two roots / disconnected
        join_tree_from_hint(ctx, [("l", "s"), ("n", "l"), ("s", "n")])
    # running intersection: n beside s under l — s↔n share s_nationkey
    # but are not adjacent
    with _pytest.raises(InvalidHintError, match="running intersection"):
        join_tree_from_hint(ctx, [("l", "s"), ("l", "n")])

    # a cyclic query admits no valid join tree: any spanning tree hint
    # must violate running intersection (TPC-H Q5's c-o-l-s cycle)
    q5 = """SELECT c.c_name, s.s_name
            FROM customer AS c, orders AS o, lineitem AS l, supplier AS s
            WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
              AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey"""
    ctx5 = engine.context(q5)
    with _pytest.raises(InvalidHintError, match="running intersection"):
        join_tree_from_hint(ctx5, [("c", "o"), ("o", "l"), ("l", "s")])


def test_plan_candidates_reference_gyo_cases(spark):
    """Candidate count/shape parity with the reference's
    GyoAlgorithmTest (sqlplus-core test/scala/sqlplus/gyo): a 3-chain
    full query yields 3 candidates (one per root, same edge-set); its
    v1,v2-projection yields exactly 1 rooted at R1; the v2,v3
    projection 1 rooted at R2; the 5-chain with outputs {v2,v4,v5}
    yields 3 (roots confined to the connex subtree R2-R3-R4)."""
    from sparksqlplus_spark.api import SparkSQLPlus

    eng = SparkSQLPlus(spark)
    eng.ddl(
        """CREATE TABLE R1 (a INT, b INT);
           CREATE TABLE R2 (b2 INT, c INT);
           CREATE TABLE R3 (c2 INT, d INT);
           CREATE TABLE R4 (d2 INT, e INT);
           CREATE TABLE R5 (e2 INT, f INT);"""
    )
    chain3 = """FROM R1 AS r1, R2 AS r2, R3 AS r3
                WHERE r1.b = r2.b2 AND r2.c = r3.c2"""

    full = eng.plan_candidates(f"SELECT r1.a, r1.b, r2.c, r3.d {chain3}")
    assert full["full"] and full["acyclic"]
    assert len(full["candidates"]) == 3  # one per root, same edge-set
    assert {c["root"] for c in full["candidates"]} == {"r1", "r2", "r3"}
    for c in full["candidates"]:
        pairs = {frozenset((e["parent"], e["child"])) for e in c["edges"]}
        assert pairs == {frozenset(("r1", "r2")), frozenset(("r2", "r3"))}
        assert c["berge_acyclic"]

    nf1 = eng.plan_candidates(f"SELECT r1.a, r1.b {chain3}")
    assert not nf1["full"]
    assert [c["root"] for c in nf1["candidates"]] == ["r1"]

    nf2 = eng.plan_candidates(f"SELECT r1.b, r2.c {chain3}")
    assert [c["root"] for c in nf2["candidates"]] == ["r2"]

    chain5 = """FROM R1 AS r1, R2 AS r2, R3 AS r3, R4 AS r4, R5 AS r5
                WHERE r1.b = r2.b2 AND r2.c = r3.c2
                  AND r3.d = r4.d2 AND r4.e = r5.e2"""
    nfc = eng.plan_candidates(f"SELECT r1.b, r3.d, r4.e {chain5}")
    assert len(nfc["candidates"]) == 3
    assert {c["root"] for c in nfc["candidates"]} == {"r2", "r3", "r4"}


def test_plan_candidates_cyclic_reports_strategy(spark):
    """Cyclic queries report the router's strategy: breakable cores
    list candidates of the broken (acyclic) form; unbreakable cores
    report GHD with the bag structure."""
    from sparksqlplus_spark.api import SparkSQLPlus

    eng = SparkSQLPlus(spark)
    eng.ddl("CREATE TABLE E (src INT, dst INT);")
    tri = """SELECT g1.src AS a, g2.src AS b, g3.src AS c
             FROM E AS g1, E AS g2, E AS g3
             WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src"""
    res = eng.plan_candidates(tri)
    assert not res["acyclic"] and res["strategy"] == "break"
    assert res["candidates"]  # broken-form join trees

    from tests.test_cqc_queries import _k5_sql

    res = eng.plan_candidates(_k5_sql("E"))
    assert not res["acyclic"] and res["strategy"] == "ghd"
    assert res["bags"]


def test_plan_candidates_ranking_and_key_types(engine):
    """Rank 0 must be the silently-executed plan (Berge-acyclic,
    minimal comparison-path degree) and edge key types must reflect
    declared primary keys (parent-pk = child rows match <=1 parent)."""
    q = """SELECT l.l_orderkey, s.s_name, n.n_name
           FROM lineitem AS l, supplier AS s, nation AS n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey"""
    res = engine.plan_candidates(q)
    assert res["candidates"], "acyclic chain must enumerate candidates"
    best = res["candidates"][0]
    assert best["rank"] == 0 and best["berge_acyclic"]
    ktypes = {
        (e["parent"], e["child"]): e["key_type"] for c in res["candidates"]
        for e in c["edges"]
    }
    # joining lineitem under supplier keys on s_suppkey = supplier's PK
    assert ktypes.get(("s", "l")) == "parent-pk"


def test_fd_chase_fix_root(engine):
    """Mirror of the reference converter test (testFixRoot,
    LogicalPlanConverterTest.scala:426-575, TPC-H Q10 shape): lineitem
    owns no group-by variable, but the PK chase lineitem → orders →
    customer → nation proves it determines all of them, so the largest
    relation becomes the enumeration root."""
    from sparksqlplus_spark.plans.gyo import (
        choose_root,
        fd_chase_closure,
        fix_root_candidates,
        gyo_join_tree,
    )

    q = """SELECT c.c_custkey, c.c_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                  c.c_acctbal, n.n_name
           FROM customer AS c, orders AS o, lineitem AS l, nation AS n
           WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
             AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
           GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name"""
    ctx = engine.context(q)
    by_alias = {r.alias: r for r in ctx.relations}

    chase = fd_chase_closure(ctx.relations)
    # closure(lineitem) reaches nation's vars through three PK hops
    assert by_alias["n"].variables <= chase[by_alias["l"].rid]
    # customer's PK does NOT flow the other way (lineitem's PK is not
    # contained in customer's closure)
    assert not by_alias["l"].variables <= chase[by_alias["c"].rid]

    cands = fix_root_candidates(ctx, ctx.relations)
    assert cands == [by_alias["l"].rid]

    tree = gyo_join_tree(ctx.relations)
    root = choose_root(tree, ctx, set(tree.relations))
    assert root == by_alias["l"].rid

    # dropping lineitem's PK kills every candidate (reference
    # precondition: all relations need a primary key)
    saved = by_alias["o"].primary_key_vars
    by_alias["o"].primary_key_vars = ()
    assert fix_root_candidates(ctx, ctx.relations) == []
    by_alias["o"].primary_key_vars = saved


def test_salted_join_rejects_small_side_preserving(engine):
    """right/full outer would emit unmatched small-side rows once per
    salt replica — must be rejected (ADVICE r1)."""
    import pytest as _pytest

    from sparksqlplus_spark.functions import salted_join

    li = engine.catalog.get("lineitem").df
    su = engine.catalog.get("supplier").df.withColumnRenamed("s_suppkey", "l_suppkey")
    for how in ("right", "full", "full_outer", "cross"):
        with _pytest.raises(ValueError):
            salted_join(li, su, ["l_suppkey"], how=how)


def test_agg_view_dedup(engine, oracle):
    """Identical aggregated subqueries materialize once (reference
    SqlPlusCompiler.scala:38-53) and the shared frame is persisted."""
    from sparksqlplus_spark.compiler.cqc import agg_signature, build_relation_df
    from tests.helpers import assert_matches

    q = """SELECT c.c_custkey, a.cnt, b.cnt2
           FROM customer AS c,
                (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) AS a,
                (SELECT o_custkey, COUNT(*) AS cnt2 FROM orders GROUP BY o_custkey) AS b
           WHERE c.c_custkey = a.o_custkey AND c.c_custkey = b.o_custkey
             AND a.cnt <= b.cnt2"""
    ctx = engine.context(q)
    aggs = [r for r in ctx.relations if r.kind == "agg"]
    assert len(aggs) == 2
    # out col names differ (cnt vs cnt2) => distinct signatures; same-name views share
    cache: dict = {}
    for rel in aggs:
        build_relation_df(engine.spark, engine.catalog, rel, [], ctx.var_map, agg_cache=cache)
    assert len(cache) == 2

    q_same = q.replace("cnt2", "cnt").replace("a.cnt, b.cnt", "a.cnt AS cnt1, b.cnt AS cnt2")
    ctx2 = engine.context(q_same)
    aggs2 = [r for r in ctx2.relations if r.kind == "agg"]
    assert agg_signature(aggs2[0]) == agg_signature(aggs2[1])
    cache2: dict = {}
    built = [
        build_relation_df(engine.spark, engine.catalog, rel, [], ctx2.var_map, agg_cache=cache2)
        for rel in aggs2
    ]
    assert len(cache2) == 1
    assert len(built) == 2

    df = engine.sql(q_same)
    assert_matches(
        df,
        oracle,
        """SELECT DISTINCT c.c_custkey, a.cnt AS cnt1, b.cnt AS cnt2
           FROM customer c,
                (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) a,
                (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) b
           WHERE c.c_custkey = a.o_custkey AND c.c_custkey = b.o_custkey
             AND a.cnt <= b.cnt""",
    )
    # shared view persisted (the base table is NOT Spark-cached in this
    # fixture) and the footprint is execute-scoped: exactly one frame,
    # frames of earlier queries were released at this execute's start
    assert len(engine._executor.persisted) == 1
    engine._executor.clear_cache()

    # when the base table IS cached, re-running the cheap agg beats
    # materializing a new cache entry -> no persist (r2 bench regression)
    base = engine.catalog.get("orders").df
    base.persist()
    base.count()
    try:
        engine.sql(q_same).count()
        assert len(engine._executor.persisted) == 0
    finally:
        base.unpersist()
        engine._executor.clear_cache()


def test_bucketed_join_skips_shuffle(engine, tmp_path_factory):
    """save_bucketed co-location (SCALING.md open item): two tables
    bucketed on the join key with equal bucket counts join with NO
    shuffle exchange — the 100 TB repeated-join path."""
    import pyspark.sql.functions as F

    spark = engine.spark
    base = tmp_path_factory.mktemp("bucketed")
    li = engine.catalog.get("lineitem").df.select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = engine.catalog.get("orders").df.select("o_orderkey", "o_totalprice")
    engine.save_bucketed(
        "li_b", li, ["l_orderkey"], n_buckets=4, path=str(base / "li")
    )
    engine.save_bucketed(
        "od_b",
        od.withColumnRenamed("o_orderkey", "l_orderkey"),
        ["l_orderkey"],
        n_buckets=4,
        path=str(base / "od"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = engine.sql(
            """SELECT li_b.l_orderkey, li_b.l_quantity, od_b.o_totalprice
               FROM li_b, od_b WHERE li_b.l_orderkey = od_b.l_orderkey
                 AND od_b.o_totalprice > 1000.0"""
        )
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: equals the plain (shuffled) join
        expect = (
            li.join(
                od.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
            )
            .filter(F.col("o_totalprice") > 1000.0)
            .select("l_orderkey", "l_quantity", "o_totalprice")
            .distinct()
            .count()
        )
        assert df.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_plan_cache_memoizes_and_invalidates(engine):
    """Round 17: Engine.sql memoizes compiled plans (prepared-
    statement behavior; reference parity — its experiment timings
    exclude codegen, AbstractSparkSQLPlusCodeGenerator.scala:381-393).
    Identical (query, options, catalog state) returns the SAME lazy
    DataFrame; any option change or catalog mutation re-plans; an
    unregister that restores the previous catalog state restores the
    cached entry (the fingerprint is state-based, not a counter)."""
    spark = engine.spark
    q = (
        "SELECT l.l_orderkey, s.s_name FROM lineitem AS l, "
        "supplier AS s WHERE l.l_suppkey = s.s_suppkey "
        "AND l.l_quantity > 45"
    )
    d1 = engine.sql(q)
    assert engine.sql(q) is d1
    # options separate entries
    assert engine.sql(q, mode="cqc") is not d1
    assert engine.sql(q, count_mode="eager") is not d1
    # catalog mutation invalidates; restoring the state restores hits
    engine.catalog.register_df(
        "plan_cache_tmp", spark.range(3).toDF("x"), ()
    )
    try:
        d2 = engine.sql(q)
        assert d2 is not d1
        assert d2.count() == d1.count()
    finally:
        engine.catalog.unregister("plan_cache_tmp")
    assert engine.sql(q) is d1
    # the routed rescue (keyed multi-comparison NOT IN with an
    # explicit-DISTINCT ORDER BY non-output tail) emulates the
    # helper-sort collapse over a verbatim spark.sql body, so like
    # every verbatim fallback below it is NOT memoized — and repeats
    # return the same rows
    q2 = (
        "SELECT DISTINCT c.c_mktsegment FROM customer AS c "
        "WHERE c.c_custkey NOT IN (SELECT o.o_custkey FROM orders "
        "AS o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > "
        "c.c_acctbal AND o.o_orderkey >= c.c_nationkey) "
        "ORDER BY c.c_custkey LIMIT 3"
    )
    r2 = engine.sql(q2)
    assert engine.sql(q2) is not r2
    assert engine.sql(q2).collect() == r2.collect()
    # verbatim-fallback statements are NOT memoized: they may bind
    # session temp views the catalog fingerprint cannot see — the
    # exact staleness hazard (replacing the view must not serve a
    # plan bound to the old one)
    spark.range(5).toDF("z").createOrReplaceTempView("pc_sess_view")
    try:
        q3 = "SELECT t.z FROM pc_sess_view AS t WHERE t.z > 1"
        assert engine.sql(q3) is not engine.sql(q3)
        assert engine.sql(q3, mode="spark") is not engine.sql(
            q3, mode="spark"
        )
        assert engine.sql(q3).count() == 3
        spark.range(9).toDF("z").createOrReplaceTempView(
            "pc_sess_view"
        )
        assert engine.sql(q3).count() == 7
    finally:
        spark.catalog.dropTempView("pc_sess_view")


def test_plan_cache_keys_on_plan_confs(engine):
    """A plan built under one value of a plan-shaping SQL conf is
    never served under another: the statement planned while
    autoBroadcastJoinThreshold=-1 (every join a shuffle join) must
    not come back once the conf is restored, and planning again under
    the restored value hits the entry built under it."""
    spark = engine.spark
    q = (
        "SELECT l.l_orderkey, s.s_name FROM lineitem AS l, "
        "supplier AS s WHERE l.l_suppkey = s.s_suppkey "
        "AND l.l_quantity > 44"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    restored = engine.sql(q)
    spark.conf.set(key, "-1")
    try:
        no_bcast = engine.sql(q)
        assert no_bcast is not restored
        assert engine.sql(q) is no_bcast
    finally:
        spark.conf.set(key, old)
    again = engine.sql(q)
    assert again is not no_bcast
    assert again is restored
    assert sorted(again.collect()) == sorted(no_bcast.collect())
