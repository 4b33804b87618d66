#!/usr/bin/env python
"""Normalized physical-plan fingerprints for the bench headline set.

The quiet A/B protocol that settles "noise vs plan regression" without
timing runs (SCALING.md r16): build each benched query's DataFrame in
the given TREE (no execution), take the pre-AQE physical plan string,
strip volatile ids (#123, plan_id=..., exprIds), and md5 the operator
sequence. Byte-identical fingerprints between two trees prove the
round's code changes did not alter any benched plan.

Usage:
  PYTHONPATH=<tree> python3 scripts/plan_fingerprints.py <tree> [out.json] [entry ...]

The entries default to the bench headline set (bench.HEADLINE); name
``__spark_entry__`` queries after the output file to fingerprint those
instead (say, the GHD entries the headline leaves out). A ``_noop``
headline twin is looked up under its base entry (``bench._base_name``):
it plans the same DataFrame, only its timed action differs. Run once per
tree (fresh process each — module-level engine caches), then diff the
JSON files.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize(plan: str) -> list[str]:
    # higher-order-function lambda variables are numbered from a GLOBAL
    # driver-side counter (x_0, x_1, ...), so any change in how many
    # lambda Columns the process built before this plan renames them —
    # volatile identity, not plan shape (found in r17 when memoizing
    # Column fragments shifted the numbering of every later HOF-bearing
    # plan). Renumber per plan by first occurrence (x_0, x_1, ... in
    # encounter order) instead of collapsing all to one sentinel — the
    # sentinel erased binding distinctions in nested lambdas, so two
    # structurally different plans could fingerprint equal (r17 ADVICE).
    # A lambda variable is a (name, expr id) pair: only tokens carrying
    # a seen pair's expr-id marker are renamed, so a real column that
    # shares the name (say x_0, with its own id or none) stays as is.
    seen: dict[str, str] = {}
    for m in re.finditer(r"\blambda ([a-z]+_\d+#\d+)", plan):
        var = m.group(1)
        if var not in seen:
            # fresh namespace (lv<N>) so a rename can never collide
            # with a not-yet-renamed original like x_0; the id strip
            # below turns its #0 into #x like every other id
            seen[var] = f"lv{len(seen)}#0"
    if seen:
        plan = re.sub(
            r"\b[a-z]+_\d+#\d+",
            lambda m: seen.get(m.group(0), m.group(0)),
            plan,
        )
    out = []
    for ln in plan.split("\n"):
        ln = re.sub(r"#\d+[L]?", "#x", ln)
        ln = re.sub(r"plan_id=\d+", "plan_id=x", ln)
        ln = re.sub(r"\[id=#?x?\d*\]", "", ln)
        ln = re.sub(r"@[0-9a-f]{6,}", "@x", ln)
        ln = ln.strip()
        if ln:
            out.append(ln)
    return out


def main() -> None:
    tree = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else "."
    out = sys.argv[2] if len(sys.argv) > 2 else None
    names = sys.argv[3:]
    sys.path.insert(0, tree)
    from sparksqlplus_spark.session import get_spark

    import __spark_entry__ as em
    import bench

    spark = get_spark(app_name="plan_fp", master="local[8]")
    qs = em.queries()
    res = {}
    for name in names or bench.HEADLINE:
        try:
            df = qs[bench._base_name(name)](spark, SF_DIR)
            plan = df._jdf.queryExecution().sparkPlan().toString()
            lines = normalize(plan)
            res[name] = {
                "ops": len(lines),
                "md5": hashlib.md5(
                    "\n".join(lines).encode()
                ).hexdigest()[:12],
            }
        except Exception as exc:
            res[name] = {"err": f"{type(exc).__name__}: {exc}"[:200]}
        print(name, res[name], flush=True)
    if out:
        with open(out, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
