"""The measuring process: sets the engine up for one workload, runs the
workload's operations in a closed loop with one client, checks every
result against DuckDB and prints the metrics as one JSON line.

``run.py`` starts this module in a session of its own and stops whatever
it leaves behind; run that, not this.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine's sources sit next to perfbench/

import corpus  # noqa: E402
import datagen  # noqa: E402
import deploy  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402
from sparksqlplus_spark import SparkSQLPlus  # noqa: E402
from sparksqlplus_spark.parser.sql import parse_statement, tokenize  # noqa: E402

# an operation running longer than this is cancelled and counted as failed
OP_TIMEOUT_S = 60.0
# rounds of operations generated per run (more than any run completes)
MAX_ROUNDS = 60
# whole rounds every run completes, untraced and traced: a traced run
# needs two, so that each template is timed both traced and untraced
MIN_ROUNDS = (1, 2)


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:6.1f}s] {msg}", flush=True)


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.work_dir = os.path.join(ROOT, ".perfbench_work")
        self.sf, self.table_names = workloads.WORKLOADS[args.workload]
        self.tracer = None
        self.spark = None
        self.eng = None
        self.tables = {}
        self.results = []  # one dict per timed operation
        self.catalog_times = (0.0, 0.0, 0.0)  # register_s, cache_s, cached_mb
        self.last_df = {}  # SQL text -> DataFrame eng.sql returned last time

    # -- set-up ------------------------------------------------------------
    def load_catalog(self) -> tuple[float, float, float]:
        t0 = time.perf_counter()
        with self.tracer.span("catalog.register"):
            eng = SparkSQLPlus(self.spark)
            for name in self.table_names:
                eng.register_parquet(
                    name, os.path.join(self.data_dir, f"{name}.parquet"),
                    primary_key=datagen.PRIMARY_KEYS[name],
                )
        t1 = time.perf_counter()
        with self.tracer.span("catalog.cache"):
            for name in self.table_names:
                meta = eng.catalog.get(name)
                meta.df = meta.df.cache()
                meta.df.count()
        t2 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached_mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.eng = eng
        self.tables = {n: eng.catalog.get(n).df for n in self.table_names}
        return t1 - t0, t2 - t1, cached_mb

    def setup(self) -> float:
        """Session start, catalog load and warm-up; returns their time."""
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = deploy.start_session(self.work_dir)
        self.catalog_times = self.load_catalog()
        log("catalog: register %.2f s, cache %.2f s" % self.catalog_times[:2])
        for op in workloads.warmup_ops(self.args.workload):
            self.run_op(op, traced=False, check=False)
        self.eng.clear_plan_cache()
        self.last_df.clear()
        return time.perf_counter() - t0

    # -- one operation -----------------------------------------------------
    def _group(self, op, phase: str) -> str:
        group = f"op{op.index}.{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def _stage_stats(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = defaultdict(float, jobs=len(jobs))
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        return dict(out)

    def build(self, op):
        """The lazy DataFrame of one operation: ``eng.sql`` or the operator."""
        if op.kind == "sql":
            return self.eng.sql(op.text)
        return corpus.build(op.template, self.tables, op.params)

    def run_op(self, op, traced: bool, check: bool = True) -> None:
        tr = self.tracer if traced else spans.NullTracer()
        sc = self.spark.sparkContext
        rec = {"op": op.index, "round": op.round, "template": op.template,
               "repeat": op.repeat, "traced": traced,
               "ok": False, "latency": math.nan, "compile": math.nan}
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        table = None
        try:
            with tr.span("op", op.index, template=op.template) as s_op:
                t0 = time.perf_counter()
                if op.kind == "sql":
                    group = self._group(op, "compile") if traced else None
                    with tr.span("api.sql", op.index) as s_sql:
                        df = self.build(op)
                    rec["plan_cache_hit"] = df is self.last_df.get(op.text)
                    self.last_df[op.text] = df
                    if traced:
                        s_sql.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                        s_sql.attrs["hit"] = rec["plan_cache_hit"]
                else:
                    with tr.span("operators.build", op.index, operator=op.template):
                        df = self.build(op)
                t1 = time.perf_counter()
                group = self._group(op, "exec") if traced else None
                name = "exec.action" if op.kind == "sql" else "operators.action"
                with tr.span(name, op.index, operator=op.template) as s_act:
                    if op.template in corpus.NOOP_SINK:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        table = df.toArrow()
                t2 = time.perf_counter()
            timer.cancel()
            if traced:
                s_act.attrs.update(self._stage_stats(group))
                sc.setJobGroup(None, None)
            rec.update(latency=t2 - t0, compile=t1 - t0, ok=True)
            if check:
                if table is None:  # noop sink: collect once more, untimed
                    table = df.toArrow()
                rec["checksum"] = oracle.checksum(table)
                rec["oracle_sql"] = (
                    op.oracle_sql if op.kind == "sql"
                    else corpus.oracle_sql(op.template, op.params)
                )
            if traced:
                s_op.attrs["rows_out"] = table.num_rows if table is not None else 0
                if op.kind == "sql":
                    self.probe_layers(op, df, s_op)
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            log(f"op {op.index} ({op.template}) failed: {rec['error'].splitlines()[-1]}")
        finally:
            timer.cancel()
        if check:
            self.results.append(rec)

    def probe_layers(self, op, df, s_op) -> None:
        """Time the parser and planner on this op's text through their
        public entry points, and read the compiled plan's shape. Runs
        after the op, outside its timed span."""
        with self.tracer.span("parser.parse", op.index, tokens=len(tokenize(op.text))):
            parse_statement(op.text)
        try:
            with self.tracer.span("plans.context", op.index):
                self.eng.context(op.text)
        except Exception as e:  # set operations and rewrites have no single context
            self.tracer.spans[-1].attrs["error"] = type(e).__name__
        with self.tracer.span("plans.candidates", op.index) as s:
            cand = self.eng.plan_candidates(op.text)
        s.attrs["join_trees"] = len(cand.get("candidates", []))
        s.attrs["cyclic"] = not cand.get("acyclic", True)
        qe = df._jdf.queryExecution()
        final = qe.executedPlan()
        if final.nodeName() == "AdaptiveSparkPlan":
            final = final.executedPlan()
        lines = [ln.lstrip(" :+-") for ln in final.treeString().splitlines()]
        s_op.attrs["logical_nodes"] = len(qe.optimizedPlan().treeString().splitlines())
        s_op.attrs["exchanges"] = sum(ln.startswith("Exchange ") for ln in lines)
        s_op.attrs["broadcasts"] = sum(ln.startswith("BroadcastExchange ") for ln in lines)

    # -- the timed loop ----------------------------------------------------
    def loop(self, ops) -> float:
        """Closed loop, one client: each operation starts when the previous
        one has finished. Runs whole rounds — every template the same
        number of times — until --seconds have passed, and at least
        ``MIN_ROUNDS`` of them."""
        # traced runs trace each template in every other round, half of
        # the templates starting traced, so every template has traced and
        # untraced samples and both see the same mix and warm-up
        first = {}
        for op in ops:
            first.setdefault(op.template, len(first))
        rounds = defaultdict(list)
        for op in ops:
            rounds[op.round].append(op)
        min_rounds = MIN_ROUNDS[self.args.trace]
        start = time.perf_counter()
        for r in sorted(rounds):
            if r >= min_rounds and time.perf_counter() - start >= self.args.seconds:
                break
            for op in rounds[r]:
                traced = self.args.trace == 1 and (r + first[op.template]) % 2 == 0
                self.run_op(op, traced=traced)
        return time.perf_counter() - start

    def check_results(self) -> None:
        threads = int(os.environ["SPARK_GRAFT_CPUS"])
        duck = oracle.DuckOracle(self.data_dir, self.table_names, threads,
                                 os.path.join(self.work_dir, "tmp"))
        try:
            for rec in self.results:
                if not rec["ok"]:
                    continue
                want = duck.expected(rec["oracle_sql"], corpus.oracle_prelude(rec["template"]))
                if not rec["checksum"].matches(want):
                    rec["ok"] = False
                    log(f"op {rec['op']} ({rec['template']}) does not match the oracle: "
                        f"{rec['checksum']} vs {want}")
        finally:
            duck.close()

    def write_log(self, kind: str, rows: list[dict]) -> None:
        """One JSON object per line under the work directory's ``logs/``."""
        a = self.args
        path = os.path.join(self.work_dir, "logs",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.{kind}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        log(f"{kind} written to {os.path.relpath(path, ROOT)}")

    def peak_rss_mb(self) -> float:
        kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = deploy.gateway_pid(self.spark)
        if pid is not None:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        return kib / 1024.0

    def run(self) -> dict:
        settings = deploy.machine_settings(self.work_dir)
        deploy.apply_settings(settings, self.work_dir)
        log("deployment " + json.dumps(settings))
        self.data_dir = datagen.ensure_tables(self.work_dir, self.sf)
        self.tracer = spans.Tracer() if self.args.trace else spans.NullTracer()
        ops = workloads.generate_ops(self.args.workload, self.args.seed, rounds=MAX_ROUNDS)
        try:
            setup_s = self.setup()
            log(f"set up in {setup_s:.2f} s")
            loop_s = self.loop(ops)
            log(f"timed loop ran {loop_s:.2f} s")
            rss_mb = self.peak_rss_mb()
        finally:
            if self.spark is not None:
                deploy.stop_session(self.spark)
                log("session stopped")
        self.check_results()
        log("results checked")
        self.write_log("ops", [
            {k: v for k, v in r.items() if k not in ("checksum", "oracle_sql")}
            for r in self.results
        ])
        if self.args.trace:
            self.write_log("spans", [asdict(s) for s in self.tracer.spans])
        return report.summarize(self, setup_s, rss_mb)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = Bench(args).run()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
