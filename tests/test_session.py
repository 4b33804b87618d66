"""Session-factory pins (round 17).

The driver-heap pre-touch (-Xms = spark.driver.memory plus
-XX:+AlwaysPreTouch) is a measured optimization, not a tuning whim:
without it G1 grows the heap lazily and touches freshly-committed pages
MID-QUERY, and on this guest those first-touch faults stall hard
(SCALING.md r17 "pentagon slow mode" — slow runs showed 35-50% guest sys
time and 12-18 s of summed GC in the 32-task pre-stage; with pre-touch
the same probe records 0.0-0.6 s GC and the GC-fault slow mode is gone).
Pin the conf so a refactor that drops it fails a test instead of
resurfacing as unexplained bench variance."""

import os


def test_driver_heap_pretouch_conf(spark):
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") == "0":
        import pytest

        pytest.skip("pre-touch disabled via SPARK_GRAFT_PRETOUCH=0")
    from sparksqlplus_spark.session import default_driver_mem

    opts = spark.conf.get("spark.driver.extraJavaOptions")
    assert "-XX:+AlwaysPreTouch" in opts
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    assert f"-Xms{mem}" in opts


def test_default_heap_fits_machine():
    """The default driver heap is committed and pre-touched at JVM
    start, so it must fit in physical memory: a share of MemTotal,
    never more than MemTotal and never more than 16 GiB."""
    from sparksqlplus_spark.session import default_cpus, default_driver_mem

    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem = default_driver_mem()
    assert mem.endswith("g")
    heap_kib = int(mem[:-1]) * 1024 * 1024
    assert heap_kib <= total_kib or mem == "1g"
    assert int(mem[:-1]) <= 16
    assert 1 <= default_cpus() <= (os.cpu_count() or 1)


def test_pretouch_merges_caller_java_options():
    """Round-18 fix (r17 ADVICE #3): caller-supplied
    spark.driver.extraJavaOptions used to be silently OVERWRITTEN by
    the pre-touch flags (the extra_conf loop ran after the pre-touch
    config). Pin the merge by inspecting the builder's recorded options
    without starting a second JVM."""
    import sparksqlplus_spark.session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_):
            return self

        def master(self, *_):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before JVM start")

    orig = S.SparkSession

    class FakeSession:
        builder = FakeBuilder()

    S.SparkSession = FakeSession
    try:
        try:
            S.get_spark(
                extra_conf={
                    "spark.driver.extraJavaOptions": "-XX:+UseZGC",
                    "spark.foo": "bar",
                }
            )
        except RuntimeError:
            pass
    finally:
        S.SparkSession = orig
    opts = captured["spark.driver.extraJavaOptions"]
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
        assert "-XX:+AlwaysPreTouch" in opts
    assert "-XX:+UseZGC" in opts
    assert captured["spark.foo"] == "bar"


def test_expr_memo_epoch_rebuilds_on_context_change(spark):
    """Round-18 hardening (r17 VERDICT item 4 / ADVICE #1): the
    module-level Column-fragment memos are keyed on a SparkContext
    epoch, so a restarted context gets freshly-built fragments instead
    of stale py4j handles. Simulate the restart by swapping the
    active-context pointer — the epoch must bump and the memo must
    return a NEW object, then keep returning the same new object while
    the context stays put."""
    from pyspark import SparkContext

    from sparksqlplus_spark import expr_memo
    from sparksqlplus_spark.operators.dedup import tokens_col

    c1 = tokens_col("text")
    assert tokens_col("text") is c1
    real = SparkContext._active_spark_context
    e1 = expr_memo.context_epoch()
    try:
        SparkContext._active_spark_context = object()  # fake new context
        # the cache KEY changes — which is what a real restart needs
        # (Columns cannot be BUILT under the fake pointer: F.col
        # resolves through the active context, so don't try here)
        assert expr_memo.context_epoch() == e1 + 1
    finally:
        SparkContext._active_spark_context = real
    # restoring the real context is itself a context change: new epoch,
    # fresh memo entry — never the pre-swap object
    assert expr_memo.context_epoch() == e1 + 2
    c3 = tokens_col("text")
    assert c3 is not c1
    assert tokens_col("text") is c3


def test_expr_memo_drops_dead_epoch_entries(spark):
    """A context restart must RELEASE the memoized Columns built under
    the dead context (each holds a py4j handle), not just stop serving
    them: the first call under the new epoch clears the cache, so only
    entries of the live epoch remain."""
    from pyspark import SparkContext

    from sparksqlplus_spark import expr_memo
    from sparksqlplus_spark.operators.dedup import tokens_col

    c1 = tokens_col("text")
    tokens_col("body")
    assert tokens_col.cache_info().currsize >= 2
    real = SparkContext._active_spark_context
    try:
        SparkContext._active_spark_context = object()  # fake new context
        expr_memo.context_epoch()
    finally:
        SparkContext._active_spark_context = real
    c2 = tokens_col("text")
    assert c2 is not c1
    # only the entry built under the live epoch survives
    assert tokens_col.cache_info().currsize == 1
    assert tokens_col("text") is c2


def test_expr_cache_is_bounded():
    """Every memoized builder is an LRU of at most EXPR_CACHE_MAXSIZE
    entries: the compiler memoizes per column name and literal, so a
    long-lived session compiling ever new names must not grow it."""
    from sparksqlplus_spark import expr_memo

    @expr_memo.expr_cache
    def frag(i: int) -> int:
        return i * 2

    cap = expr_memo.EXPR_CACHE_MAXSIZE
    for i in range(cap + 100):
        assert frag(i) == i * 2
        assert frag.cache_info().currsize <= cap
    assert frag.cache_info().currsize == cap
    assert frag.cache_info().maxsize == cap
    assert expr_memo.col.cache_info().maxsize == cap


def test_memos_and_engine_survive_session_restart():
    """End-to-end restart pin (r17 VERDICT item 4): in a FRESH python
    process, build a session, run a memoized operator and a plan-cached
    engine query, STOP the session, start a new one, and run both again
    — the memos must rebuild (context epoch) rather than serve handles
    minted under the stopped context."""
    import subprocess
    import sys

    code = """
import os
os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
from sparksqlplus_spark.session import get_spark
from sparksqlplus_spark.api import SparkSQLPlus
from sparksqlplus_spark.operators.text import text_stats
from sparksqlplus_spark.operators.dedup import simhash
import sparksqlplus_spark.expr_memo as em

def run():
    spark = get_spark(app_name="restart_probe", master="local[2]",
                      shuffle_partitions=2)
    eng = SparkSQLPlus(spark)
    eng.register_testdata("/root/testdata/sf0.001")
    docs = eng.catalog.get("documents").df
    out = (text_stats(docs, "text", "doc_id").count(),
           simhash(docs, "text", "doc_id", bits=32).count(),
           eng.sql("SELECT r_regionkey FROM region").count(),
           eng.sql("SELECT r_regionkey FROM region").count())  # cache hit
    spark.stop()
    return out

e0 = em.context_epoch()
a = run()
b = run()
assert a == b, (a, b)
assert em.context_epoch() > e0
print("RESTART_OK", a)
"""
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESTART_OK" in proc.stdout
