"""Driver-contract smoke: entry() runs, every query compiles and
returns rows at sf0.001, and a representative subset hash-matches the
DuckDB oracle exactly as tools/check_entry.py (the full gate) does."""

import atexit
import importlib.util
import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tools.check_entry import TABLES, _cross_dtype_cols, value_hash

SF_SMALL = "/root/testdata/sf0.001"

SUBSET = [
    "cdc_lww_latest_state",
    "cdc_apply_final_state",
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_analysis_battery",
    # engine-in-the-loop: every query that merges epoch slices as read
    "cdc_engine_replay_final_state",
    "cdc_incremental_changes",
    "cdc_schema_evolution",
    "cdc_mor_replay_final_state",
    "cdc_housekeeping_time_travel",
    "cdc_bootstrap_init_load",
    "cdc_changes_chaining",
]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_all_queries_run_sf0001(spark):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF_SMALL)
        assert df.count() >= 0, name


def test_oracle_names_subset_of_queries():
    qs = set(entry_mod.queries())
    assert set(entry_mod.oracle_sql()).issubset(qs)


def test_gate_rejects_uncast_integer_window_sum():
    """The round-3 driver-red class: DuckDB returns an uncast integer
    window sum() as HUGEINT -> pandas float64 (21.0) while Spark returns
    int64 (21). The driver canonicalizer hash-mismatches that; the local
    gate must too — _cross_dtype_cols flags the int-vs-float column."""
    con = duckdb.connect()
    # deliberately UNCAST integer window sum — the exact red fixture
    o = con.execute(
        "select g, sum(v) over (partition by g order by v) as s "
        "from (values (1, 1), (1, 2), (2, 3)) t(g, v)"
    ).fetchdf()
    assert o["s"].dtype.kind == "f", "fixture must reproduce HUGEINT->float64"
    import pandas as pd

    s = pd.DataFrame({"g": [1, 1, 2], "s": pd.array([1, 3, 3], dtype="int64")})
    flagged = _cross_dtype_cols(s, o)
    assert any(c.startswith("s ") for c in flagged)
    # and the CAST fixes it: both sides int64, nothing flagged
    o2 = con.execute(
        "select g, cast(sum(v) over (partition by g order by v) as bigint) as s "
        "from (values (1, 1), (1, 2), (2, 3)) t(g, v)"
    ).fetchdf()
    assert _cross_dtype_cols(s, o2) == []
    assert value_hash(s) == value_hash(o2)


@pytest.mark.parametrize("name", SUBSET)
def test_subset_matches_duckdb(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    spdf = entry_mod.queries()[name](spark, SF_SMALL).toPandas()
    opdf = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert len(spdf) == len(opdf)
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert value_hash(spdf) == value_hash(opdf)


def test_engine_queries_stage_under_one_root_removed_at_exit(spark, tmp_path, monkeypatch):
    """Every engine query stages its lakes, checkpoints and outputs under
    one scratch root per process, removed at interpreter exit and not
    before: the returned frames read those files lazily."""
    from movex_cdc_spark.plans import entry_queries

    spec = importlib.util.spec_from_file_location("fresh_entry_queries", entry_queries.__file__)
    fresh = importlib.util.module_from_spec(spec)  # no root made yet
    spec.loader.exec_module(fresh)
    at_exit = []
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: at_exit.append((fn, a, kw)))
    frames = [fresh.REGISTRY[name][0](spark, SF_SMALL)
              for name in ("cdc_mor_replay_final_state", "cdc_unkeyed_append")]
    assert len(os.listdir(tmp_path)) == 1
    assert all(df.count() > 0 for df in frames)
    assert len(at_exit) == 1
    fn, args, kwargs = at_exit[0]
    fn(*args, **kwargs)
    assert os.listdir(tmp_path) == []
