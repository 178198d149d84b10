"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count + sorted-by-name columns +
order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from ocr_auto_label_spark.entry_queries import REGISTRY, TABLES

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module", autouse=True)
def _pin_oracle_sf_dir():
    """sf-dependent oracle GENERATORS (extract_flagship's twin corpus, the
    ANN replay's probe/codebook literals) read ENTRY_TEST_SF_DIR with an
    sf0.01 default — pin it to the directory this module
    actually uses so both sides see the same input, and restore it after
    the module so other test modules never inherit it."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("ENTRY_TEST_SF_DIR", SF_DIR)
        yield


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, int):
        return v
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda t: tuple((v is None, str(v)) for v in t))


# the entries build_oracle_sql() covers, read off the registry: collection
# runs before the fixture pins the sf directory, and building the oracles
# here would run their generators at the sf0.01 default
ORACLE_NAMES = sorted(n for n, (_, oracle) in REGISTRY.items() if oracle is not None)

# The driver's value-hash canonicalization is rendering-sensitive: DuckDB
# HUGEINT round-trips through pandas as float64 ("425.0" vs Spark BIGINT's
# "425"), DECIMAL as decimal.Decimal, FLOAT (float32) with different repr
# precision than DOUBLE.  DuckDB silently widens — windowed/plain
# sum(BIGINT) returns HUGEINT, HUGEINT propagates through arithmetic — so
# any oracle leg touching sum() can regress the whole UNION (this killed
# `dedup_exact_hash` in round 4).  Forbid those types at the oracle output
# boundary; every oracle column must be the exact BIGINT/INTEGER/DOUBLE/
# VARCHAR/BOOLEAN/TIMESTAMP family Spark emits.
_WIDENED = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
            "UTINYINT", "DECIMAL", "FLOAT")


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_types_never_widen(duck, name):
    """Bind-only (no execution, no Spark): DuckDB resolves output column
    types at bind time, so a widened UNION leg fails here in milliseconds."""
    rel = duck.sql(entry_mod.oracle_sql()[name])
    widened = [
        (c, str(t).upper())
        for c, t in zip(rel.columns, rel.types)
        if any(w in str(t).upper() for w in _WIDENED)
    ]
    assert not widened, (
        f"{name}: oracle output widened to driver-hash-unsafe types "
        f"{widened} — CAST the offending expression (sum() returns HUGEINT "
        f"in DuckDB) back to BIGINT/DOUBLE"
    )


def _type_family(type_str: str) -> str:
    """Canonical family for a Spark simpleString or DuckDB type string."""
    t = type_str.upper()
    if t.startswith(("ARRAY", "LIST", "STRUCT", "MAP")) or "[]" in t:
        return "nested"
    if t in ("BIGINT", "INTEGER", "INT", "SMALLINT", "TINYINT", "HUGEINT",
             "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("BINARY", "BLOB"):
        return "binary"
    return t


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(entry_mod.oracle_sql()[name])
    dcols = res.columns
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"

    # cross-engine type parity (judge directive r4 #2): same family per
    # column name on both sides, so silent DuckDB widening or a Spark-side
    # decimal literal can't diverge the driver's rendering-sensitive hash.
    sfam = {f.name: _type_family(f.dataType.simpleString()) for f in sdf.schema}
    dfam = {c: _type_family(str(t)) for c, t in zip(dcols, res.types)}
    mism = {c: (sfam[c], dfam[c]) for c in sfam if sfam[c] != dfam.get(c)}
    assert not mism, f"{name}: type-family mismatch spark vs duck: {mism}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    got, want = _normalize(srows, scols), _normalize(drows, dcols)
    mismatches = [(a, b) for a, b in zip(got, want) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


ROWS_ONLY = sorted(set(REGISTRY) - set(ORACLE_NAMES))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert sdf.columns


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_per_row_python_udf_in_any_plan(spark, name):
    """north_rule: zero per-row Python UDFs anywhere in the plan — every
    registry query's physical plan must be free of BatchEvalPython (Arrow
    surfaces show as ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas,
    all of which batch via Arrow)."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: per-row Python UDF in plan"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert {"conv_id", "turn_idx", "extracted_text", "label", "rank"} <= set(df.columns)
    # extraction actually found labels in the synthetic batch
    assert df.filter(df.label.isNotNull()).count() > 0


def test_registry_fits_driver_evaluation_window():
    """The driver evaluates only the first 50 registry entries — every
    entry must stay inside that window (merge entries, don't append
    past 50; see COVERAGE.md)."""
    assert len(REGISTRY) <= 50
    assert len(entry_mod.oracle_sql()) >= 50  # oracle coverage must not regress


def test_bench_variant_breakdown_lists_are_live(spark):
    """bench.py's static per-variant lists must match the entries' actual
    variant sets — a new union leg that isn't in the list would silently
    miss its per-variant timing (the lists are static so the bench never
    pays an extra full materialization just to discover names)."""
    import bench

    for name, variants in bench.VARIANT_BREAKDOWN.items():
        df = entry_mod.queries()[name](spark, SF_DIR)
        live = {r[0] for r in df.select("variant").distinct().collect()}
        assert set(variants) == live, f"{name}: bench list stale vs {live}"


def _count_calls(monkeypatch, module, name: str) -> list:
    """Wrap ``module.name`` with a call counter everywhere the package
    holds it: its own module and every package module that imported the
    name."""
    import sys

    original = getattr(module, name)
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return original(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("ocr_auto_label_spark")
                and getattr(mod, name, None) is original):
            monkeypatch.setattr(mod, name, counted)
    return calls


@pytest.mark.parametrize("module, name, entry", [
    ("operators.dedup", "exact_dedup", "dedup_exact_hash"),
    ("lineage", "_lineage_rows", "extract_lineage_stats"),
    ("operators.textstats", "language_id", "text_language_id"),
    ("operators.util", "local_frame", "x2_grammar_validate"),
])
def test_entry_runs_the_shipped_function(spark, monkeypatch, module, name, entry):
    """The entry certifies the function the jobs call, not a restated
    copy: building and running it goes through that function."""
    import importlib

    calls = _count_calls(
        monkeypatch, importlib.import_module(f"ocr_auto_label_spark.{module}"), name
    )
    assert entry_mod.queries()[entry](spark, SF_DIR).count() > 0
    assert len(calls) >= 1, f"{entry} never called {module}.{name}"
