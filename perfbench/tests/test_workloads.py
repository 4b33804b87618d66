import workloads


def _stream(workload, seed, rounds=3):
    return [(op.template, op.text, op.params) for op in
            workloads.generate_ops(workload, seed, rounds)]


def test_same_seed_same_operations():
    for w in workloads.WORKLOADS:
        assert _stream(w, 7) == _stream(w, 7)


def test_other_seed_other_operations():
    for w in workloads.WORKLOADS:
        assert _stream(w, 7) != _stream(w, 8)


def test_every_round_runs_every_template_once():
    for w in workloads.WORKLOADS:
        ops = workloads.generate_ops(w, 3, 4)
        for r in range(4):
            names = [op.template for op in ops if op.round == r and not op.repeat]
            assert sorted(names) == sorted(set(names))


def test_adhoc_repeats_come_at_a_fixed_cadence():
    for seed in (1, 2, 3):
        ops = workloads.generate_ops("cqc_adhoc", seed, 4)
        texts = set()
        for op in ops:
            assert op.repeat == (op.index % workloads.REPEAT_EVERY == workloads.REPEAT_EVERY - 1)
            assert (op.text in texts) == op.repeat
            texts.add(op.text)


def test_non_full_queries_get_a_distinct_oracle():
    ops = workloads.generate_ops("cqc_adhoc", 1, 1)
    for op in ops:
        t = {t.name: t for t in workloads.ADHOC}[op.template]
        assert op.oracle_sql.startswith("SELECT DISTINCT") == t.distinct
