"""Shuffle-count guards on headline plans (round 12).

Every groupBy/join/distinct is an exchange, and at 100 TB the shuffle
count IS the cost model — a plan edit that silently adds one is
invisible to correctness tests and (at sf0.1) nearly invisible to the
bench. This pins an UPPER BOUND on the number of shuffle exchanges
(Exchange minus BroadcastExchange — broadcasts are the cheap path we
WANT small sides to take) in the pre-execution physical plan of a
representative headline slice at sf0.001. Bounds are the measured
values at pin time; lowering a count is always fine, raising one must
be a deliberate, reviewed change.

Map-only claims become structural asserts here: text_stats and
sample_stratified must plan with ZERO shuffles (their SCALING.md
"expression-level / map-only" story), and the batch as-of join with
exactly one key exchange (its documented plan).
"""

import re

import pytest

import __spark_entry__ as em
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def fresh_engine(spark):
    """Pin the MEASUREMENT REGIME, not just the counts: the WCOJ-family
    plans are session-state-dependent — once earlier suite files have
    materialized the persisted graph cache, size estimates shift the
    adaptive semi-reduce gate and broadcast decisions, and the pentagon
    plans 9 exchanges where a fresh engine plans 6 (full-suite
    discovery, round 13). Dropping the memoized engine forces a fresh
    catalog with unmaterialized persists, so every bound below is
    measured in the same deterministic regime regardless of test
    order. The rebuilt engine is left in place for later files (same
    semantics, just cold caches)."""
    em._ENGINES.pop((id(spark), SF_DIR), None)
    yield

# name -> max shuffle exchanges (measured at pin time, round 12)
BOUNDS = {
    "chain_theta_nonfull": 1,
    "tpch_q3": 1,
    "tpch_q6": 1,
    "tpch_q17": 2,
    "dedup_exact": 1,
    # the (band, bucket) aggregate and the candidate-pair DISTINCT; the
    # input spread sits under the persisted shingle frame. Measured 2.
    "dedup_minhash_lsh": 5,
    "text_stats": 0,
    "sample_stratified": 0,
    "graph_q1_path_counts": 12,
    "pack_sequences": 3,
    "text_tfidf_topk": 5,
    "events_sessionize": 1,
    # r16 (exists_two_comparisons retired with its 2-exchange bound):
    # the keyless all-order QUINT NOT IN plans
    # three 5-D skyline collections (all / NULL-y / match facts) —
    # each a bounded-size reduction exchange, + the final dedup — and
    # the probe joins are one-row broadcast crossJoins (never counted
    # here: broadcasts are the cheap path). Measured 4 at pin time.
    "not_in_quint_keyless": 4,
    # r16: the routed ORDER-BY-non-output x LIMIT entry — the
    # helper-sort collapse emulated DataFrame-side over the verbatim
    # spark.sql body (api._emulate_tail_rescue): Catalyst's
    # decorrelated anti join + the dedup collapse in ONE live
    # exchange. Measured 1 (sf0.001).
    "not_in_routed_orderlimit": 1,
    # r13 (r12 verdict item 6): the GHD/WCOJ hypercube plan. Counting
    # caveat: the persisted graph sources sit above a cache boundary
    # (shuffle_count already skips below InMemoryRelation), so this
    # pins exactly the LIVE exchanges — the explicit n_cells*5 cell
    # repartition (never AQE-coalesced, the r11 pinning fix) plus the
    # stats-gated pre-hypercube semi-reduce sweep's key exchanges.
    # Measured 6 at pin time (sf0.001).
    "graph_c5_pentagon_ghd": 6,
    # the triangle join: two hash joins and one DISTINCT over the
    # output. At sf0.001 both joins broadcast, and the DISTINCT needs
    # no exchange: the streamed side keeps the persisted graph's
    # hash(src, dst) partitioning, which clusters every (a, b, c).
    # Measured 0; an input without that partitioning adds the
    # DISTINCT's one exchange.
    "graph_triangle_wcoj": 1,
    # KEYED multi-comparison [NOT] IN / OR'd-EXISTS entries: no
    # native plan (Catalyst-only, SCALING.md round 14), so each is
    # Catalyst's own decorrelated plan — a broadcast or a single
    # shuffled semi/anti join. Measured 0-1 (sf0.001); the bound is 1
    # so a legitimate broadcast-threshold flip still passes.
    "exists_neq_pair": 1,
    "not_in_neq_order": 1,
    "not_in_pair_or": 1,
    "not_in_neq_order2_float": 1,
    # r15: the routed-fallback DISTINCT entry runs VERBATIM spark.sql
    # + the rewrite under auto — Catalyst's decorrelated left-anti
    # aggregate + the distinct collapse into ONE live exchange.
    # Measured 1 at pin time (sf0.001).
    "not_in_pair_routed_distinct": 1,
    # r13 (late): keyless pair-filtered NOT IN — the set/NULL-y 2-D
    # skylines fold PLAN-TIME via global_skyline_points (their jobs
    # never appear in this plan), so the live exchanges are only the
    # per-y match staircase's (y, u0) pre-reduction + y-keyed
    # window/collect (keyed_skyline_view at k = 2); the one-row
    # skyline views crossJoin as broadcasts. Measured 3 at pin time
    # (sf0.001).
    "not_in_pair_keyless": 3,
    # r13 (late): keyed 3-comparison OR'd EXISTS — Catalyst-only like
    # the keyed entries above. Measured 0 (sf0.001).
    "exists_three_comparisons": 1,
    # r14: widened to a 4-column probe (k=4, the last row-value cell)
    # — the NULL-pattern decomposition: the census prunes the
    # supplier side (no NULLs) to the fully-non-NULL pattern's 14
    # DISTINCT-projection views + the full-match view; each is
    # DISTINCT (one exchange) with the flag joins broadcasting.
    # Counting caveat: every view is metadata-thin (DISTINCT over <=4
    # supplier columns), so the 15 exchanges move KB, not data — the
    # bound guards against the flag joins silently un-broadcasting.
    # Measured 15 at pin time (sf0.001).
    "not_in_rowvalue_quad_or": 15,
    # r14: keyless <>-triple NOT IN — the set/NULL-y facts fold
    # PLAN-TIME via the capped global U/V helper (their jobs never
    # appear in this plan), so the live exchanges are the per-y match
    # view's: (y, a) pre-reduction, the applyInArrow sweep's y-key
    # exchange, and the y-keyed collect; the one-row fact views
    # crossJoin as broadcasts. Measured 3 at pin time (sf0.001).
    "not_in_neq_triple_keyless": 3,
    # r14: the same keyed 3-comparison OR'd EXISTS with DOUBLE dims —
    # Catalyst-only. Measured 0 (sf0.001).
    "skyline_float_triple": 1,
    # r13: the interval join's BATCH plan (the driver entry's form;
    # stream==batch is pytest-proven). Counting caveat: at sf0.001 AQE
    # broadcasts the purchase side, so the measured live count is 0;
    # the bound is 1 so a legitimate threshold flip to a single
    # shuffled equi-join still passes — a regression (extra groupBy /
    # double exchange) lands at 2+.
    "events_interval_join": 1,
}


def shuffle_count(df) -> int:
    """Shuffle exchanges ABOVE any cache boundary, by TREE TRAVERSAL
    of the physical plan (round 17 — the previous string parser
    skipped cache-embedded subplans by indentation, but a MATERIALIZED
    InMemoryRelation prints its nested AdaptiveSparkPlan's
    '== Final/Initial Plan ==' sections and scalar-subquery dumps with
    dedented lines, so run-once-at-materialization exchanges leaked
    into the count whenever an earlier test had materialized the same
    derived table through Spark's CacheManager — an ordering-dependent
    false positive reproducible on -k subsets back to r16). Walking
    the plan objects sidesteps formatting entirely: descend children
    (+ subquery plans, which execute their exchange once), stop at
    InMemoryTableScan (the cache is read, not recomputed), unwrap
    AdaptiveSparkPlan/QueryStage wrappers, count non-broadcast
    Exchange nodes."""

    def walk(node) -> int:
        name = node.nodeName()
        if "InMemoryTableScan" in name:
            return 0
        if name == "AdaptiveSparkPlan":
            try:
                node = node.initialPlan()
                name = node.nodeName()
            except Exception:
                pass
        elif name.endswith("QueryStage"):
            try:
                node = node.plan()
                name = node.nodeName()
            except Exception:
                pass
        cnt = 1 if name == "Exchange" else 0
        it = node.children().iterator()
        while it.hasNext():
            cnt += walk(it.next())
        try:
            sit = node.subqueries().iterator()
            while sit.hasNext():
                cnt += walk(sit.next())
        except Exception:
            pass
        return cnt

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_shuffle_bound(spark, name):
    df = em.queries()[name](spark, SF_DIR)
    n = shuffle_count(df)
    assert n <= BOUNDS[name], (
        f"{name} now plans {n} shuffle exchanges (pinned max "
        f"{BOUNDS[name]}) — a shuffle regression at 100 TB; if the "
        "extra exchange is deliberate, update BOUNDS with a rationale"
    )


def test_asof_batch_single_key_shuffle(spark):
    """The batch as-of plan's documented shape: union + ONE key
    exchange + running last (operators/asof.py)."""
    df = em._asof_join_batch_q(spark, SF_DIR)
    assert shuffle_count(df) == 1


def test_runtime_bloom_filter_fires(spark, engine):
    """Round 18 (guide §3.2, r17 VERDICT item 5): when a CQC chain
    falls out of the broadcast regime (the 100 TB shape — here forced
    by disabling auto-broadcast and zeroing the application-side scan
    threshold), Spark's runtime Bloom filter must land on the big
    side's pre-shuffle filter: the selectively-filtered side builds a
    bloom_filter_agg and the probe side carries might_contain. At
    sf0.1 defaults every such join broadcasts, so this stays inert in
    the bench plans (fingerprint-pinned separately)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = engine.sql(
            """SELECT g1.src AS s, g2.dst AS d
               FROM graph AS g1, graph AS g2
               WHERE g1.dst = g2.src AND g1.src < 40"""
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan, plan
        assert df.count() >= 0  # executes under the injected filter
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        # the plan above was memoized under the forced-shuffle confs —
        # drop it so later tests re-plan under the restored session
        engine.clear_plan_cache()


# --- compile cost: JVM round trips and Spark jobs inside eng.sql -----------
# A fresh statement (new literals, plan-cache miss) on a warm engine
# compiles in about a hundred py4j round trips: Column fragments are
# memoized (expr_memo.col / col_as, expressions._lit_column), each
# relation is one select plus one AND-ed filter, and get_spark turns
# PySpark's per-call call-site capture off. Bounds are the measured
# counts at pin time (sf0.001) plus headroom; before these changes the
# same statements took 800-1400 round trips.
COMPILE_STATEMENTS = {
    # name -> (SQL template, warm-up literals, measured literals)
    "theta_chain": (
        """SELECT l.l_orderkey, l.l_suppkey, s.s_nationkey, n.n_name
           FROM lineitem AS l, supplier AS s, nation AS n
           WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
             AND l.l_extendedprice < s.s_acctbal * {f} AND n.n_regionkey = {r}""",
        {"f": 10, "r": 1},
        {"f": 20, "r": 2},
    ),
    "tpch_q3": (
        """SELECT l.l_orderkey,
                  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                  o.o_orderdate, o.o_orderstatus
           FROM customer AS c, orders AS o, lineitem AS l
           WHERE c.c_mktsegment = '{seg}' AND c.c_custkey = o.o_custkey
             AND l.l_orderkey = o.o_orderkey AND o.o_orderdate < DATE '{d}'
             AND l.l_shipdate > DATE '{d}'
           GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderstatus
           ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        {"seg": "BUILDING", "d": "1996-03-15"},
        {"seg": "MACHINERY", "d": "1997-06-01"},
    ),
    "tpch_q10": (
        """SELECT c.c_custkey, c.c_name,
                  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                  c.c_acctbal, n.n_name
           FROM customer AS c, orders AS o, lineitem AS l, nation AS n
           WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
             AND o.o_orderdate >= DATE '{d0}' AND o.o_orderdate < DATE '{d1}'
             AND l.l_returnflag = '{flag}' AND c.c_nationkey = n.n_nationkey
           GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
           ORDER BY revenue DESC, c_custkey LIMIT 20""",
        {"d0": "1994-01-01", "d1": "1994-04-01", "flag": "R"},
        {"d0": "1995-01-01", "d1": "1995-04-01", "flag": "A"},
    ),
}

# name -> max py4j round trips inside eng.sql for the measured statement
# (measured 92 / 142 / 167 at pin time)
PY4J_BOUNDS = {
    "theta_chain": 120,
    "tpch_q3": 180,
    "tpch_q10": 200,
}


def count_py4j(monkeypatch, fn):
    """(result, py4j round trips) of ``fn()``, counted by wrapping
    ``GatewayClient.send_command``. Object-release commands are left
    out: the py4j finalizer sends them whenever Python collects a
    JavaObject, at times that do not depend on the code measured."""
    from py4j.java_gateway import GatewayClient

    n = [0]
    orig = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return orig(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.setattr(GatewayClient, "send_command", orig)
    return out, n[0]


@pytest.mark.parametrize("name", sorted(PY4J_BOUNDS))
def test_compile_py4j_bound(engine, monkeypatch, name):
    sql, warm, fresh = COMPILE_STATEMENTS[name]
    engine.sql(sql.format(**warm))  # memoized fragments, as on a warm engine
    df, n = count_py4j(monkeypatch, lambda: engine.sql(sql.format(**fresh)))
    assert n <= PY4J_BOUNDS[name], (
        f"{name} now compiles in {n} py4j round trips (pinned max "
        f"{PY4J_BOUNDS[name]})"
    )
    assert df.count() >= 0


def test_fresh_literal_triangle_runs_no_spark_job(spark):
    """The cyclic router's density estimate reads degree moments kept in
    the catalog per table registration, not per filter literal: once a
    triangle over a table has been planned, the same shape with a new
    literal compiles without running a single Spark job."""
    from sparksqlplus_spark.api import SparkSQLPlus
    import sparksqlplus_spark.plans.cyclic as cyc

    eng = SparkSQLPlus(spark)
    edges = [(i, (i * 7 + 3) % 40) for i in range(40)] + [
        (i, (i * 11 + 5) % 40) for i in range(40)
    ]
    eng.register(
        "tri_graph",
        spark.createDataFrame(sorted(set(edges)), "src long, dst long"),
        primary_key=("src", "dst"),
    )
    tri = """SELECT g1.src AS a, COUNT(*) AS n
             FROM tri_graph AS g1, tri_graph AS g2, tri_graph AS g3
             WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src
               AND g1.src <= {k}
             GROUP BY g1.src"""
    eng.sql(tri.format(k=20)).collect()  # warm: measures the moments
    sc = spark.sparkContext
    group = "fresh_literal_triangle"
    sc.setJobGroup(group, group)
    try:
        df = eng.sql(tri.format(k=31))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert cyc.last_strategy == "break"
    assert list(jobs) == []
    assert df.count() >= 0


def test_session_compile_confs(spark):
    """get_spark turns off PySpark's per-Column-call Python call-site
    capture (about ten py4j round trips per functions.* call) and sizes
    the generated-code cache for an ad-hoc statement stream."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == 1000


# Spark jobs one collect() of the triangle entry runs once its graph
# cache is materialized (measured 3 at pin time, sf0.001)
TRIANGLE_JOBS = 3


def test_triangle_join_plans_no_python_kernel(spark):
    """The triangle join is a pure Catalyst plan: no grouped-map pandas
    node (FlatMapGroupsInPandas) and no more Spark jobs than pinned."""
    eng = em._engine(spark, SF_DIR)
    eng.catalog.get("graph").df.count()  # materialize the persisted graph
    df = em.queries()["graph_triangle_wcoj"](spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    sc = spark.sparkContext
    group = "triangle_join_jobs"
    sc.setJobGroup(group, group)
    try:
        df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= TRIANGLE_JOBS, (
        f"the triangle entry now runs {len(jobs)} Spark jobs (pinned max "
        f"{TRIANGLE_JOBS})"
    )


# the MinHash band-bucket generator: explode(array(struct(band, ...)))
BAND_GENERATE = re.compile(r"Generate explode\(array\(struct\(band,")


def test_minhash_band_buckets_built_once(spark):
    """``lsh_candidate_pairs`` groups the signatures by band bucket in
    one aggregate, so the plan derives the band buckets (and md5-hashes
    every shingle) once; a self-join of the bucket frame derives them
    on both of its sides."""
    df = em.queries()["dedup_minhash_lsh"](spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert len(BAND_GENERATE.findall(plan)) == 1, plan


def test_spread_partitions_follows_scan_estimate(spark, tmp_path):
    """``spread_partitions`` repartitions a single small file to
    ``defaultParallelism`` and hands the frame back unchanged when a
    small ``spark.sql.files.maxPartitionBytes`` makes the scan estimate
    reach that width by itself."""
    import os

    from sparksqlplus_spark.operators.dedup import spread_partitions

    par = spark.sparkContext.defaultParallelism
    assert par > 1
    path = str(tmp_path / "one")
    spark.range(500).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    spread = spread_partitions(one)
    assert spread is not one
    assert spread.rdd.getNumPartitions() == par
    assert sorted(spread.collect()) == sorted(one.collect())

    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        size = os.path.getsize(os.path.join(path, part))
        spark.conf.set(conf, str(max(size // par, 1)))
        assert spread_partitions(one) is one
    finally:
        spark.conf.set(conf, old)


NOT_IN_SELECT = "SELECT s.s_suppkey, s.s_nationkey FROM supplier AS s WHERE "
NOT_IN_SUB = "SELECT l.l_linenumber FROM lineitem AS l WHERE "

# Keyless threshold-filtered NOT IN families with no __spark_entry__ query (and
# so no BOUNDS row): SQL -> max live exchanges at sf0.001, planned
# natively. The set and NULL-y facts fold at plan time, so the live
# exchanges are the per-y match view's plus the non-full DISTINCT.
NOT_IN_FAMILY_BOUNDS = {
    # <> + order: the per-y argmin/runner-up triple view ((y, a)
    # pre-reduction + top-2 window + y-keyed aggregate). Measured 3.
    "neq_order_keyless": (
        NOT_IN_SELECT + "s.s_nationkey NOT IN (" + NOT_IN_SUB
        + "l.l_suppkey <> s.s_suppkey AND l.l_partkey < s.s_suppkey * 20)",
        3,
    ),
    # <> + <>: the per-y diagonal-witness view (three grouped passes
    # and their joins). Measured 8.
    "neq_pair_keyless": (
        NOT_IN_SELECT + "s.s_nationkey NOT IN (" + NOT_IN_SUB
        + "l.l_suppkey <> s.s_suppkey AND l.l_partkey <> s.s_suppkey * 20)",
        8,
    ),
    # a 2-D skyline under OR: the per-y staircase view (bag semantics,
    # no DISTINCT). Measured 2.
    "skyline_keyless_or": (
        NOT_IN_SELECT + "s.s_acctbal < 0.0 OR s.s_nationkey NOT IN ("
        + NOT_IN_SUB
        + "l.l_partkey < s.s_suppkey * 20 AND l.l_suppkey > s.s_suppkey - 5)",
        2,
    ),
}


@pytest.mark.parametrize("name", sorted(NOT_IN_FAMILY_BOUNDS))
def test_not_in_family_shuffle_bound(engine, name):
    sql, bound = NOT_IN_FAMILY_BOUNDS[name]
    n = shuffle_count(engine.sql(sql, mode="cqc"))
    assert n <= bound, f"{name} now plans {n} shuffle exchanges (max {bound})"


@pytest.mark.parametrize(
    "probe", ["s.s_nationkey", "3"], ids=["column_probe", "constant_probe"]
)
def test_uncorrelated_not_in_under_or_runs_no_spark_job(spark, probe):
    """``P OR x NOT IN (SELECT y FROM t)`` compiles without a Spark job:
    the set's emptiness and NULL facts are one broadcast stats row of
    the plan, not a plan-time collect (nor is a constant probe's match
    count)."""
    from sparksqlplus_spark.api import SparkSQLPlus

    eng = SparkSQLPlus(spark)
    eng.register_testdata(SF_DIR)
    sql = (
        NOT_IN_SELECT + f"s.s_acctbal < 0.0 OR {probe} NOT IN ("
        + NOT_IN_SUB + "l.l_quantity > 45.0)"
    )
    sc = spark.sparkContext
    group = f"uncorrelated_not_in_under_or_{probe}"
    sc.setJobGroup(group, group)
    try:
        df = eng.sql(sql, mode="cqc")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []
    assert df.count() >= 0
