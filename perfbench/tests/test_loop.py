from argparse import Namespace
from collections import Counter

import workloads
import worker


def _loop(workload: str, trace: int) -> list:
    bench = worker.Bench.__new__(worker.Bench)
    bench.args = Namespace(seconds=0.0, trace=trace)
    ran = []
    bench.run_op = lambda op, traced: ran.append((op, traced))
    bench.loop(workloads.generate_ops(workload, 4, worker.MAX_ROUNDS))
    return ran


def test_an_untraced_run_times_whole_rounds():
    for w in workloads.WORKLOADS:
        ran = _loop(w, trace=0)
        assert {op.round for op, _ in ran} == {0}
        names = Counter(op.template for op, _ in ran if not op.repeat)
        assert set(names.values()) == {1}
        assert not any(traced for _, traced in ran)


def test_a_traced_run_times_every_template_traced_and_untraced():
    for w in workloads.WORKLOADS:
        ran = _loop(w, trace=1)
        assert {op.round for op, _ in ran} == {0, 1}
        kinds = {}
        for op, traced in ran:
            if not op.repeat:
                kinds.setdefault(op.template, set()).add(traced)
        assert all(k == {True, False} for k in kinds.values())
