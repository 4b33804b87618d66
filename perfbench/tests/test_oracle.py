import random

import pyarrow as pa
import pyarrow.parquet as pq

import oracle


def _table():
    return pa.table({
        "k": pa.array([1, 2, 3, 4], type=pa.int32()),
        "name": ["a", "b", None, "d"],
        "price": [10.5, 20.25, 0.1, 7.0],
    })


def test_checksum_ignores_row_order_int_width_and_float_noise():
    t = _table()
    other = pa.table({
        "k": pa.array([4, 3, 2, 1], type=pa.int64()),
        "name": ["d", None, "b", "a"],
        "price": [7.0 + 1e-12, 0.1, 20.25, 10.5],
    })
    assert oracle.checksum(t).matches(oracle.checksum(other))


def test_checksum_catches_injected_wrong_results():
    good = oracle.checksum(_table())
    dropped = _table().slice(0, 3)
    changed_key = _table().set_column(0, "k", pa.array([1, 2, 3, 5], type=pa.int32()))
    changed_float = _table().set_column(2, "price", pa.array([10.5, 20.25, 0.1, 7.5]))
    duplicated = pa.concat_tables([_table(), _table().slice(0, 1)])
    for bad in (dropped, changed_key, changed_float, duplicated):
        assert not good.matches(oracle.checksum(bad))


def test_checksum_catches_swapped_values_between_rows():
    t = _table()
    swapped = t.set_column(1, "name", pa.array(["b", "a", None, "d"]))
    assert not oracle.checksum(t).matches(oracle.checksum(swapped))


def test_duckdb_oracle_answers_and_flags_a_wrong_engine_result(tmp_path):
    rng = random.Random(0)
    rows = [(i, rng.randrange(5), rng.random()) for i in range(200)]
    pq.write_table(pa.table({
        "id": [r[0] for r in rows], "g": [r[1] for r in rows], "v": [r[2] for r in rows],
    }), tmp_path / "t.parquet")
    duck = oracle.DuckOracle(str(tmp_path), ["t"], threads=1, temp_dir=str(tmp_path))
    try:
        sql = "SELECT g, COUNT(*) AS n, SUM(v) AS s FROM t GROUP BY g"
        expected = duck.expected(sql)
        groups = {}
        for _, g, v in rows:
            n, s = groups.get(g, (0, 0.0))
            groups[g] = (n + 1, s + v)
        right = pa.table({"g": list(groups), "n": [n for n, _ in groups.values()],
                          "s": [s for _, s in groups.values()]})
        assert expected.matches(oracle.checksum(right))
        wrong = right.set_column(1, "n", pa.array([n + (g == 0) for g, (n, _) in groups.items()]))
        assert not expected.matches(oracle.checksum(wrong))
    finally:
        duck.close()


def test_duckdb_answers_are_reused_from_the_data_directory(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "t.parquet")
    sql = "SELECT x * 2 AS y FROM t"
    first = oracle.DuckOracle(str(tmp_path), ["t"], threads=1, temp_dir=str(tmp_path))
    want = first.expected(sql)
    first.close()
    (tmp_path / "t.parquet").unlink()  # a second oracle must not need DuckDB
    second = oracle.DuckOracle(str(tmp_path), ["t"], threads=1, temp_dir=str(tmp_path))
    assert second.expected(sql) == want
    assert second._con is None
    second.close()


def test_a_changed_prelude_misses_the_cached_answer(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "t.parquet")
    sql = "SELECT x * f AS y FROM t, factor"
    first = oracle.DuckOracle(str(tmp_path), ["t"], threads=1, temp_dir=str(tmp_path))
    doubled = first.expected(sql, ["CREATE TEMP TABLE factor AS SELECT 2 AS f"])
    first.close()
    second = oracle.DuckOracle(str(tmp_path), ["t"], threads=1, temp_dir=str(tmp_path))
    tripled = second.expected(sql, ["CREATE TEMP TABLE factor AS SELECT 3 AS f"])
    second.close()
    assert not doubled.matches(tripled)
    assert tripled.matches(oracle.checksum(pa.table({"y": [3, 6, 9]})))
