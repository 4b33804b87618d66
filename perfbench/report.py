"""Turning a finished run into the benchmark's metrics.

End-to-end metrics come from every timed operation. Per-layer metrics
come from the traced operations' spans: times are medians per operation,
counts and sizes are means per operation unless named as totals.
"""

from __future__ import annotations

import math
from collections import defaultdict

import stats
import workloads

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
OPERATORS = list(workloads.CORPUS)
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.cache_s": "s",
    "catalog.cached_mb": "MB",
    "parser.parse_s": "s",
    "parser.tokens": "count",
    "plans.context_s": "s",
    "plans.candidates_s": "s",
    "plans.join_trees": "count",
    "plans.cyclic_ops": "count",
    "api.sql_s": "s",
    "api.sql_calls": "count",
    "api.plan_cache_hits": "count",
    "compiler.build_s": "s",
    "compiler.plan_jobs": "count",
    "compiler.logical_nodes": "count",
    "compiler.exchanges": "count",
    "compiler.broadcasts": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.rows_out": "count",
    "operators.build_s": "s",
    "operators.action_s": "s",
    "operators.calls": "count",
    **{f"operators.{o}.{m}": "s" for o in OPERATORS for m in ("build_s", "action_s")},
    "trace.overhead_frac": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _overhead(done: list[dict]) -> float:
    """Traced vs untraced latency: geometric mean over classes (templates,
    and the exact repeats) of the ratio of their median latencies, minus
    one."""
    by = defaultdict(lambda: ([], []))
    for r in done:
        by[_mix_class(r)][0 if r["traced"] else 1].append(r["latency"])
    logs = [math.log(stats.median(t) / stats.median(u)) for t, u in by.values() if t and u]
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def per_layer(bench, done: list[dict]) -> dict[str, float]:
    tr = bench.tracer
    ops = {s.op: s for s in tr.named("op")}
    by_op = defaultdict(dict)
    for s in tr.spans:
        if s.op >= 0 and s.name != "op":
            by_op[s.op][s.name] = s
    parse = {o: d["parser.parse"].duration for o, d in by_op.items() if "parser.parse" in d}
    context = {o: d["plans.context"].duration for o, d in by_op.items()
               if "plans.context" in d and "error" not in d["plans.context"].attrs}
    sql = [d["api.sql"] for d in by_op.values() if "api.sql" in d]
    # compile of a plan-cache miss = parse + plan (eng.context) + build
    build = [max(s.duration - context[s.op], 0.0)
             for s in sql if s.op in context and not s.attrs["hit"]]
    actions = [d["exec.action"] for d in by_op.values() if "exec.action" in d]
    op_actions = [d["operators.action"] for d in by_op.values() if "operators.action" in d]
    op_builds = [d["operators.build"] for d in by_op.values() if "operators.build" in d]
    cand = tr.named("plans.candidates")
    sql_ops = [ops[s.op] for s in sql]
    m = {
        "session.start_s": _med(s.duration for s in tr.named("session.start")),
        "catalog.register_s": bench.catalog_times[0],
        "catalog.cache_s": bench.catalog_times[1],
        "catalog.cached_mb": bench.catalog_times[2],
        "parser.parse_s": _med(parse.values()),
        "parser.tokens": _mean(s.attrs["tokens"] for s in tr.named("parser.parse")),
        "plans.context_s": _med(max(c - parse.get(o, 0.0), 0.0) for o, c in context.items()),
        "plans.candidates_s": _med(s.duration for s in cand),
        "plans.join_trees": _mean(s.attrs["join_trees"] for s in cand),
        "plans.cyclic_ops": sum(s.attrs["cyclic"] for s in cand),
        "api.sql_s": _med(s.duration for s in sql),
        "api.sql_calls": sum(1 for r in bench.results if "plan_cache_hit" in r),
        "api.plan_cache_hits": sum(1 for r in bench.results if r.get("plan_cache_hit")),
        "compiler.build_s": _med(build),
        "compiler.plan_jobs": _mean(s.attrs["jobs"] for s in sql),
        "compiler.logical_nodes": _mean(s.attrs.get("logical_nodes", 0) for s in sql_ops),
        "compiler.exchanges": _mean(s.attrs.get("exchanges", 0) for s in sql_ops),
        "compiler.broadcasts": _mean(s.attrs.get("broadcasts", 0) for s in sql_ops),
        "exec.action_s": _med(s.duration for s in actions + op_actions),
        "exec.rows_out": _mean(s.attrs.get("rows_out", 0) for s in ops.values()),
        "operators.build_s": _med(s.duration for s in op_builds),
        "operators.action_s": _med(s.duration for s in op_actions),
        "operators.calls": sum(1 for r in bench.results if r["template"] in OPERATORS),
        "trace.overhead_frac": _overhead(done),
    }
    stage_sets = [s.attrs for s in actions + op_actions]
    for key in ("jobs", "tasks", "shuffle_write_mb"):
        m[f"exec.{key}"] = _mean(a.get(key, 0) for a in stage_sets)
    for key in ("executor_run_s", "gc_s"):
        m[f"exec.{key}"] = _med(a.get(key, 0) for a in stage_sets)
    m["exec.failed_tasks"] = sum(a.get("failed_tasks", 0) for a in stage_sets)
    for o in OPERATORS:
        m[f"operators.{o}.build_s"] = _med(
            s.duration for s in op_builds if s.attrs["operator"] == o)
        m[f"operators.{o}.action_s"] = _med(
            s.duration for s in op_actions if s.attrs["operator"] == o)
    return m


def _mix_class(rec: dict) -> str:
    return "repeat" if rec["repeat"] else rec["template"]


def summarize(bench, setup_s: float, rss_mb: float) -> dict:
    """The result line. Latency metrics weight each operation by one over
    the count of its class in the run — its template, or "repeat" for the
    exact repeats — so every class counts the same whatever mix of them a
    seed and a run length happened to produce."""
    results = bench.results
    done = [r for r in results if r["ok"]]
    failed = len(results) - len(done)
    count = defaultdict(int)
    for r in done:
        count[_mix_class(r)] += 1
    weights = [1.0 / count[_mix_class(r)] for r in done]
    lat = [r["latency"] for r in done]
    rounds = len({r["round"] for r in results})
    hits = sum(1 for r in results if r.get("plan_cache_hit"))
    lines = [
        f"{len(results)} operations in {rounds} whole rounds, {len(count)} classes",
        f"failed_frac {failed / max(len(results), 1):.4f} ({failed} of {len(results)}); "
        f"exact repeats hit the plan cache {hits} times",
    ]
    if done:
        # reported, but not held to a bound: its spread between runs on a
        # shared 4-core host is wider than the largest bound allowed
        compile_p50 = stats.weighted_percentile([r["compile"] for r in done], weights, 50.0)
        lines.append(f"compile_p50_s {compile_p50:.4f} s")
        # reported only where the run has a percentile above the median
        # with TAIL_SAMPLES samples beyond it
        tail_p = stats.tail_percentile(len(lat))
        if tail_p is None:
            lines.append(f"query_tail_s not measured: {len(lat)} samples, "
                         f"it needs {2 * stats.TAIL_SAMPLES + 2}")
        else:
            tail = stats.weighted_percentile(lat, weights, tail_p)
            lines.append(f"query_tail_s (p{tail_p:.1f}) {tail:.4f} s")
    for line in lines:
        print(f"# {line}", flush=True)
    if bench.args.trace:
        values = per_layer(bench, done)
        units = PER_LAYER
    elif done:
        values = {
            "setup_s": setup_s,
            "query_p50_s": stats.weighted_percentile(lat, weights, 50.0),
            "ops_per_s": sum(weights) / sum(w * x for w, x in zip(weights, lat)),
            "peak_rss_mb": rss_mb,
        }
        units = END_TO_END
    else:
        values, units = {}, {}
    return {
        "correct": failed == 0 and bool(results),
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
