#!/usr/bin/env python
"""Runtime Bloom-filter semi-join pre-reduce probe (round 18, guide
§3.2, r17 VERDICT item 5).

At sf0.1 every CQC join side under 64 MB broadcasts, so the Bloom
injection has no target locally — this probe forces the AT-SCALE
regime (auto-broadcast off, application-side scan threshold zeroed) on
the 10x-scaled testdata and A/Bs
``spark.sql.optimizer.runtime.bloomFilter.enabled`` on a selective
3-hop CQC chain: the filtered g1 builds a bloom_filter_agg, the big
g2/g3 scans carry might_contain and shed non-matching rows BEFORE
their exchange.

Usage:
  python scripts/exp_runtime_bloom.py [sf_dir]   # default /tmp/sf1.0
  (build the 10x dir first: scripts/make_scaled_testdata.py 10 /tmp/sf1.0)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"

QUERY = """SELECT g1.src AS s, g3.dst AS d
           FROM graph AS g1, graph AS g2, graph AS g3
           WHERE g1.dst = g2.src AND g2.dst = g3.src AND g1.src < 5000"""


def _calibrate(spark) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 32).selectExpr(
            "sum(id * 2 + 1) AS s"
        ).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    from sparksqlplus_spark.session import get_spark

    import __spark_entry__ as em

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bloom_ab", master=f"local[{cpus}]")
    eng = em._engine(spark, SF_DIR)
    for meta in eng.catalog.tables():
        if meta.df is not None:
            meta.df = meta.df.cache()
            meta.df.count()

    # the at-scale regime: no broadcast, scan-size gate off (local
    # cached scans report tiny sizes); creationSideThreshold comes from
    # session.py (256 MB)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )

    results = {}
    rows = {}
    for bloom in ("true", "false", "true", "false"):
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", bloom
        )
        eng.clear_plan_cache()  # conf change must re-plan
        df = eng.sql(QUERY)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        has_bloom = "might_contain" in plan
        assert has_bloom == (bloom == "true"), (bloom, has_bloom)
        cal0 = _calibrate(spark)
        runs = []
        n = None
        for _ in range(3):
            d = eng.sql(QUERY)
            t0 = time.time()
            c = d.count()
            runs.append(round(time.time() - t0, 3))
            n = c if n is None else n
            assert c == n
        cal1 = _calibrate(spark)
        key = f"bloom={bloom}"
        results.setdefault(key, []).extend(runs)
        rows[key] = n
        print(f"{key}: min={min(runs)} runs={runs} rows={n} "
              f"cal={cal0}/{cal1}", flush=True)
    assert len(set(rows.values())) == 1, rows
    for k, v in results.items():
        print(f"FINAL {k}: min={min(v)} over {len(v)} runs")


if __name__ == "__main__":
    main()
