"""The money rule, functions/rounding.cents: exact bigint cents that
equal the oracle's ``CAST(floor(x * 100 + 0.5) AS BIGINT)`` and raise
where it raises; and no engine module spells the rule a second way."""

from __future__ import annotations

import ast
import os
import re

import pytest

from tests.conftest import REPO_ROOT

#: 2-dp amounts whose ×100 is inexact in double, the largest 2-dp amount
#: the events generator can write, and two 3-dp amounts on either side of
#: a half cent (0.285·100 = 28.499999999999996, 1.115·100 = 111.5)
BOUNDARY = [0.29, 1.15, 4.35, 92233720368.54, 0.285, 1.115]


def _duckdb_cents(amount):
    import duckdb

    return (
        duckdb.connect()
        .execute("SELECT CAST(floor(? * 100 + 0.5) AS BIGINT)", [amount])
        .fetchone()[0]
    )


def test_cents_equals_duckdb_on_boundary_amounts_and_keeps_null(spark):
    from clusterforge_spark.functions.rounding import cents

    df = spark.createDataFrame([(v,) for v in BOUNDARY] + [(None,)], "x double")
    got = [r.c for r in df.select(cents("x").alias("c")).collect()]
    want = [_duckdb_cents(v) for v in BOUNDARY]
    assert want == [29, 115, 435, 9223372036854, 28, 112]
    assert got == [*want, None]
    assert dict(df.select(cents("x").alias("c")).dtypes)["c"] == "bigint"


@pytest.mark.parametrize(
    "amount", [1e17, -1e17, float("nan"), float("inf"), float("-inf")]
)
def test_cents_raises_where_the_oracle_cast_raises(spark, amount):
    """1e17·100 is past 2^63; NaN sorts above every double in Spark, so
    it fails the range test like ±inf. A bare floor would saturate (or
    give 0 for NaN) without an error."""
    import duckdb
    from pyspark.errors import SparkRuntimeException

    from clusterforge_spark.functions.rounding import cents

    df = spark.createDataFrame([(amount,)], "x double")
    with pytest.raises(SparkRuntimeException, match="no bigint cents"):
        df.select(cents("x")).collect()
    with pytest.raises(duckdb.Error):
        _duckdb_cents(amount)


#: the decimal sufficient statistics kept by design (oracle_sql's
#: determinism rules): their DECIMAL values feed further decimal arithmetic
DECIMAL_STATISTICS = {
    ("operators/relational.py", "linreg_price_vs_qty"),
    ("operators/relational.py", "grouped_linreg"),
    ("operators/relational.py", "tpch_large_volume_customer"),
    ("operators/relational.py", "cohort_ltv"),
    ("operators/validation.py", "zscore_outliers"),
    ("operators/features.py", "target_encoding"),
}

_INLINE_CENTS = re.compile(
    r"floor\(.{1,40}\*\s*(?:F\.lit\()?100(?:\.0)?\)?\s*\+\s*(?:F\.lit\()?0\.5",
    re.IGNORECASE,
)
_DECIMAL_2DP = re.compile(r"decimal\(\s*18\s*,\s*2\s*\)", re.IGNORECASE)


def _engine_modules():
    pkg = os.path.join(REPO_ROOT, "clusterforge_spark")
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), pkg)
            if name.endswith(".py") and rel not in ("oracle_sql.py", "functions/rounding.py"):
                yield rel, os.path.join(root, name)


def _decimal_2dp_sites(tree: ast.Module) -> set[str]:
    """Innermost functions (or ``<module>``) whose code, docstrings aside,
    names decimal(18,2)."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    fns = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    sites = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and _DECIMAL_2DP.search(node.value)
        ):
            inner = [f for f in fns if f.lineno <= node.lineno <= f.end_lineno]
            sites.add(max(inner, key=lambda f: f.lineno).name if inner else "<module>")
    return sites


def test_engine_spells_the_money_rule_only_in_rounding():
    """Every engine money expression goes through rounding.cents: no module
    re-copies floor(x * 100 + 0.5), and decimal(18,2) appears only in the
    decimal sufficient statistics kept by design."""
    copies, decimals = [], set()
    for rel, path in _engine_modules():
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        copies += [
            f"{rel}:{i}" for i, line in enumerate(src.splitlines(), 1)
            if _INLINE_CENTS.search(line)
        ]
        decimals |= {(rel, name) for name in _decimal_2dp_sites(ast.parse(src))}
    assert copies == []
    assert decimals <= DECIMAL_STATISTICS, decimals - DECIMAL_STATISTICS
