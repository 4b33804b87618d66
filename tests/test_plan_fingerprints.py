"""Spark-free checks of scripts/plan_fingerprints.py:normalize, the
plan-shape gate used to show a refactor left every benched plan
unchanged."""

import importlib.util
import pathlib

_SCRIPT = (
    pathlib.Path(__file__).resolve().parents[1]
    / "scripts"
    / "plan_fingerprints.py"
)


def _normalize():
    spec = importlib.util.spec_from_file_location("plan_fingerprints", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def test_normalize_renames_lambda_vars_only():
    """Lambda variables are renumbered per plan by first occurrence,
    so the global lambda counter does not change a fingerprint; a real
    column that shares a lambda variable's name keeps its name."""
    normalize = _normalize()
    plan = (
        "Filter exists(pts#7, lambdafunction((lambda x_3#41.u0 < x_0#12),"
        " lambda x_3#41, false))\n"
        "+- Project [x_0#12, pts#7]\n"
        "   +- FileScan parquet [x_0#12,pts#7] ReadSchema: struct<x_0:int>"
    )
    shifted = plan.replace("x_3#41", "x_8#57")
    out = normalize(plan)
    assert out == normalize(shifted)
    text = "\n".join(out)
    assert "lambda lv0#x.u0 < x_0#x" in text
    assert "Project [x_0#x, pts#x]" in text
    assert "struct<x_0:int>" in text
    # a lambda variable named like the column is still renamed; the
    # column (different expr id) is not
    clash = plan.replace("x_3#41", "x_0#41")
    text = "\n".join(normalize(clash))
    assert "lambda lv0#x.u0 < x_0#x" in text
    assert "FileScan parquet [x_0#x,pts#x] ReadSchema: struct<x_0:int>" in text
