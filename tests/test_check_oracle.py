"""tools/check_oracle.py's dtype diagnosis, without Spark: an integral
Spark column that the oracle materializes as float64 is named, and a
float column holding NaN (pandas' nullable-int form) is still named as
a possible cause when the hash mismatches."""

import importlib.util
from pathlib import Path

import pandas as pd

spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
)
check_oracle = importlib.util.module_from_spec(spec)
spec.loader.exec_module(check_oracle)

TYPES = {"n": "bigint", "x": "double"}


def test_float_oracle_column_without_nan_fails():
    ok, note = check_oracle.dtype_check(TYPES, pd.DataFrame({"n": [1.0, 2.0], "x": [0.5, 1.5]}), True)
    assert not ok and note == " dtype=n: spark bigint vs oracle float64"


def test_nan_column_is_a_hint_only_on_hash_mismatch():
    ddf = pd.DataFrame({"n": [1.0, float("nan")], "x": [0.5, float("nan")]})
    assert check_oracle.dtype_check(TYPES, ddf, True) == (True, "")
    ok, note = check_oracle.dtype_check(TYPES, ddf, False)
    assert ok and note == " possible dtype divergence: n: spark bigint vs oracle float64"


def test_integral_oracle_column_passes():
    ddf = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64"), "x": [0.5, 1.5]})
    assert check_oracle.dtype_check(TYPES, ddf, False) == (True, "")
