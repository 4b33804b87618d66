"""Workload definitions: seeded operation streams.

A workload is a list of operations drawn from a seed. The seed picks the
draw order and the literal parameters; the engine only ever receives the
generated SQL text or operator arguments. Draws are stratified into
rounds: every round runs each template of the workload once, in a seeded
order, so two seeds exercise the same mix and differ in order and
literals only.

* ``cqc_adhoc`` — sf0.1 CQC SQL; literals come from a small skewed pool,
  and every ``REPEAT_EVERY``-th statement repeats an earlier one exactly
  (the engine's plan cache can hit).
* ``corpus_ops`` — sf0.1 corpus operators (dedup, similarity, text,
  WCOJ), called through their Python APIs; no SQL.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field, replace

# skewed weights for the adhoc literal pools (first entry most popular)
POOL_WEIGHTS = (0.5, 0.25, 0.15, 0.1)
# every REPEAT_EVERY-th cqc_adhoc operation repeats an earlier statement
# exactly; other draws avoid texts already used, so the share of exact
# repeats is the same for every seed and run length
REPEAT_EVERY = 4


@dataclass(frozen=True)
class Op:
    """One operation of a workload: a SQL statement or an operator call."""

    index: int
    round: int
    template: str
    kind: str  # "sql" or "operator"
    text: str = ""  # SQL handed to eng.sql (kind == "sql")
    params: dict = field(default_factory=dict)  # operator arguments
    oracle_sql: str = ""  # DuckDB query giving the expected result
    repeat: bool = False  # an exact repeat of an earlier statement


@dataclass(frozen=True)
class SqlTemplate:
    name: str
    sql: str
    params: list[dict]  # literal pool, drawn with POOL_WEIGHTS
    distinct: bool = False  # non-full query: engine has set semantics
    oracle: str | None = None  # DuckDB spelling when it differs


# --------------------------------------------------------------------------
# CQC shapes
# --------------------------------------------------------------------------

THETA_CHAIN = """SELECT l.l_orderkey, l.l_suppkey, s.s_nationkey, n.n_name
FROM lineitem AS l, supplier AS s, nation AS n
WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
  AND l.l_extendedprice < s.s_acctbal * {f} AND n.n_regionkey = {r}"""

MULTIHOP_THETA = """SELECT c.c_custkey, o.o_orderkey, l.l_linenumber
FROM customer AS c, orders AS o, lineitem AS l
WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
  AND l.l_extendedprice < c.c_acctbal * {f} AND c.c_mktsegment = '{seg}'"""

TWO_CMP_EDGE = """SELECT o.o_orderkey, l.l_linenumber
FROM orders AS o, lineitem AS l
WHERE o.o_orderkey = l.l_orderkey
  AND l.l_extendedprice < o.o_totalprice * {a}
  AND l.l_quantity * {b} > o.o_totalprice"""

PATH_COUNTS = """SELECT g1.src AS src, COUNT(*) AS n_paths
FROM graph AS g1, graph AS g2, graph AS g3,
     (SELECT src, COUNT(*) AS cnt FROM graph GROUP BY src) AS c1,
     (SELECT src, COUNT(*) AS cnt FROM graph GROUP BY src) AS c2
WHERE c1.src = g1.src AND g1.dst = g2.src AND g2.dst = g3.src
  AND g3.dst = c2.src AND c1.cnt < c2.cnt AND g1.src <= {k}
GROUP BY g1.src"""

# DuckDB spellings of the path shapes: a comparison left in the join
# graph lets DuckDB pick it as an inequality join condition, which blows up
FOUR_HOP_ORACLE = """WITH p AS MATERIALIZED (
  SELECT g1.src AS src, g4.dst AS d
  FROM graph AS g1, graph AS g2, graph AS g3, graph AS g4
  WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g4.src AND g1.src <= {k})
SELECT src, COUNT(*) AS n_paths FROM p WHERE src < d GROUP BY src"""

PATH_COUNTS_ORACLE = """WITH c AS MATERIALIZED (SELECT src, COUNT(*) AS cnt FROM graph GROUP BY src),
p AS MATERIALIZED (
  SELECT g1.src AS src, c1.cnt AS cnt1, c2.cnt AS cnt2
  FROM graph AS g1, graph AS g2, graph AS g3, c AS c1, c AS c2
  WHERE c1.src = g1.src AND g1.dst = g2.src AND g2.dst = g3.src
    AND g3.dst = c2.src AND g1.src <= {k})
SELECT src, COUNT(*) AS n_paths FROM p WHERE cnt1 < cnt2 GROUP BY src"""

FOUR_HOP = """SELECT g1.src AS src, COUNT(*) AS n_paths
FROM graph AS g1, graph AS g2, graph AS g3, graph AS g4
WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g4.src
  AND g1.src < g4.dst AND g1.src <= {k}
GROUP BY g1.src"""

TRIANGLE = """SELECT g1.src AS a, COUNT(*) AS n_triangles
FROM graph AS g1, graph AS g2, graph AS g3
WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src
  AND g1.src <= {k}
GROUP BY g1.src"""

TPCH_Q3 = """SELECT l.l_orderkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
       o.o_orderdate, o.o_orderstatus
FROM customer AS c, orders AS o, lineitem AS l
WHERE c.c_mktsegment = '{seg}' AND c.c_custkey = o.o_custkey
  AND l.l_orderkey = o.o_orderkey AND o.o_orderdate < DATE '{d}'
  AND l.l_shipdate > DATE '{d}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderstatus
ORDER BY revenue DESC, l_orderkey LIMIT 10"""

TPCH_Q5 = """SELECT n.n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM customer AS c, orders AS o, lineitem AS l, supplier AS s,
     nation AS n, region AS r
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = '{region}'
  AND o.o_orderdate >= DATE '{d0}' AND o.o_orderdate < DATE '{d1}'
GROUP BY n.n_name"""

TPCH_Q10 = """SELECT c.c_custkey, c.c_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
       c.c_acctbal, n.n_name
FROM customer AS c, orders AS o, lineitem AS l, nation AS n
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND o.o_orderdate >= DATE '{d0}' AND o.o_orderdate < DATE '{d1}'
  AND l.l_returnflag = '{flag}' AND c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey LIMIT 20"""

TPCH_Q18 = """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice, t.sum_qty
FROM customer AS c, orders AS o,
     (SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey) AS t
WHERE o.o_orderkey = t.l_orderkey AND c.c_custkey = o.o_custkey
  AND t.sum_qty > {q}
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20"""

TPCH_Q4 = """SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders AS o,
     (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey) AS v
WHERE o.o_orderkey = v.l_orderkey AND v.cnt >= {m}
  AND o.o_orderdate >= DATE '{d0}' AND o.o_orderdate < DATE '{d1}'
GROUP BY o.o_orderpriority"""

def _pool(*entries: dict) -> list[dict]:
    assert len(entries) == len(POOL_WEIGHTS)
    return list(entries)


# cqc_adhoc: fixed literal pools, drawn with POOL_WEIGHTS
ADHOC = [
    SqlTemplate("theta_chain", THETA_CHAIN, _pool(
        {"f": 0.5, "r": 2}, {"f": 0.45, "r": 0}, {"f": 0.55, "r": 1}, {"f": 0.6, "r": 4},
    ), distinct=True),
    SqlTemplate("multihop_theta", MULTIHOP_THETA, _pool(
        {"f": 1.0, "seg": "BUILDING"}, {"f": 1.1, "seg": "MACHINERY"},
        {"f": 0.9, "seg": "FURNITURE"}, {"f": 1.2, "seg": "HOUSEHOLD"},
    ), distinct=True),
    SqlTemplate("two_cmp_edge", TWO_CMP_EDGE, _pool(
        {"a": 1.0, "b": 1000}, {"a": 0.9, "b": 1000},
        {"a": 1.0, "b": 1100}, {"a": 1.1, "b": 900},
    ), distinct=True),
    SqlTemplate("path_counts", PATH_COUNTS, _pool(
        {"k": 2000}, {"k": 2200}, {"k": 1800}, {"k": 2400},
    ), oracle=PATH_COUNTS_ORACLE),
    SqlTemplate("four_hop", FOUR_HOP, _pool(
        {"k": 1000}, {"k": 1100}, {"k": 900}, {"k": 1200},
    ), oracle=FOUR_HOP_ORACLE),
    SqlTemplate("triangle_break", TRIANGLE, _pool(
        {"k": 2000}, {"k": 2200}, {"k": 1800}, {"k": 2400},
    )),
    SqlTemplate("tpch_q3", TPCH_Q3, _pool(
        {"seg": "BUILDING", "d": "1996-03-15"}, {"seg": "AUTOMOBILE", "d": "1997-06-01"},
        {"seg": "MACHINERY", "d": "1998-09-15"}, {"seg": "HOUSEHOLD", "d": "1999-01-10"},
    )),
    SqlTemplate("tpch_q5_cyclic", TPCH_Q5, _pool(
        {"region": "ASIA", "d0": "1996-01-01", "d1": "1997-01-01"},
        {"region": "EUROPE", "d0": "1997-01-01", "d1": "1998-01-01"},
        {"region": "AMERICA", "d0": "1995-01-01", "d1": "1996-01-01"},
        {"region": "AFRICA", "d0": "1998-01-01", "d1": "1999-01-01"},
    )),
    SqlTemplate("tpch_q10", TPCH_Q10, _pool(
        {"d0": "1995-10-01", "d1": "1996-01-01", "flag": "R"},
        {"d0": "1997-01-01", "d1": "1997-04-01", "flag": "R"},
        {"d0": "1996-04-01", "d1": "1996-07-01", "flag": "A"},
        {"d0": "1999-07-01", "d1": "1999-10-01", "flag": "N"},
    )),
    SqlTemplate("tpch_q18", TPCH_Q18, _pool(
        {"q": 300}, {"q": 250}, {"q": 320}, {"q": 200},
    ), distinct=True),
    SqlTemplate("tpch_q4", TPCH_Q4, _pool(
        {"m": 3, "d0": "1996-01-01", "d1": "1996-04-01"},
        {"m": 4, "d0": "1997-07-01", "d1": "1997-10-01"},
        {"m": 3, "d0": "1998-04-01", "d1": "1998-07-01"},
        {"m": 4, "d0": "2000-01-01", "d1": "2000-04-01"},
    )),
]


# corpus_ops: operator name -> callable(rng) -> params
CORPUS = {
    "dedup_exact": lambda g: {"sources": sorted(g.sample(range(20), 12))},
    "dedup_minhash": lambda g: {"bands": 4, "threshold": g.choice([0.5, 0.6, 0.7, 0.8])},
    "dedup_simhash": lambda g: {"sources": sorted(g.sample(range(20), 12))},
    "cosine_topk": lambda g: {
        "k": g.choice([3, 5, 10]), "queries": sorted(g.sample(range(2000), 16))},
    "lsh_ann": lambda g: {
        "k": g.choice([3, 5, 10]), "n_planes": 8,
        "queries": sorted(g.sample(range(2000), 16))},
    "text_stats": lambda g: {"sources": sorted(g.sample(range(20), 12))},
    "wcoj_triangles": lambda g: {"k": g.randrange(36000, 44000)},
}

# corpus_ops warm-up: every operator once, on small inputs (MinHash runs
# on the whole corpus: its persisted shingle frame is shared by later calls)
CORPUS_WARMUP = {
    "dedup_exact": {"sources": [0, 1]},
    "dedup_minhash": {"bands": 4, "threshold": 0.8},
    "dedup_simhash": {"sources": [0, 1]},
    "cosine_topk": {"k": 3, "queries": [0, 1]},
    "lsh_ann": {"k": 3, "n_planes": 8, "queries": [0, 1]},
    "text_stats": {"sources": [0, 1]},
    "wcoj_triangles": {"k": 5000},
}

WORKLOADS = {
    # name -> (scale factor, tables to register)
    "cqc_adhoc": (0.1, ["region", "nation", "customer", "supplier", "orders",
                        "lineitem", "graph"]),
    "corpus_ops": (0.1, ["docs_aug", "embeddings", "graph"]),
}


def _sql_op(i: int, r: int, t: SqlTemplate, params: dict) -> Op:
    sql = t.sql.format(**params)
    oracle = sql if t.oracle is None else t.oracle.format(**params)
    if t.distinct:
        oracle = re.sub(r"^SELECT\b", "SELECT DISTINCT", oracle, count=1)
    return Op(i, r, t.name, "sql", text=sql, params=params, oracle_sql=oracle)


def warmup_ops(workload: str) -> list[Op]:
    """Operations run untimed before timing starts, the same for every
    seed: each template once (a template's first run pays JIT compilation,
    code generation and Python worker start-up)."""
    if workload == "corpus_ops":
        return [Op(i, 0, name, "operator", params=p)
                for i, (name, p) in enumerate(CORPUS_WARMUP.items())]
    return [op for op in generate_ops(workload, -1, 1) if not op.repeat]


def generate_ops(workload: str, seed: int, rounds: int) -> list[Op]:
    """``rounds`` rounds of the workload's operations, drawn from ``seed``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    ops: list[Op] = []
    seen: set[str] = set()
    for r in range(rounds):
        if workload == "corpus_ops":
            names = list(CORPUS)
            rng.shuffle(names)
            for name in names:
                ops.append(Op(len(ops), r, name, "operator", params=CORPUS[name](rng)))
            continue
        templates = list(ADHOC)
        rng.shuffle(templates)
        for t in templates:
            fresh = [i for i, p in enumerate(t.params)
                     if t.sql.format(**p) not in seen] or range(len(t.params))
            pick = rng.choices(fresh, weights=[POOL_WEIGHTS[i] for i in fresh])[0]
            op = _sql_op(len(ops), r, t, t.params[pick])
            seen.add(op.text)
            ops.append(op)
            if len(ops) % REPEAT_EVERY == REPEAT_EVERY - 1:
                earlier = rng.choice([o for o in ops if not o.repeat])
                ops.append(replace(earlier, index=len(ops), round=r, repeat=True))
    return ops
