"""Config system: projection compile, key handling, import/export
round trip, diff-driven schema evolution (SURVEY S12/P1/P2/§2.10)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import (
    ColumnCfg,
    EngineConfig,
    ExpressionCfg,
    TableCfg,
    repo_files_config,
)

COLS = ["seq", "repo", "path", "commit", "lang", "content", "txid", "op"]


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


@pytest.fixture()
def cfg():
    return repo_files_config().tables["repo_files"]


def test_round_trip(tmp_path):
    c = repo_files_config()
    c.tables["repo_files"].expressions.append(
        ExpressionCfg(alias="content_len", sql="length(content)", operations=("I", "U"))
    )
    path = str(tmp_path / "cfg.json")
    c.save(path)
    c2 = EngineConfig.load(path)
    assert c2.to_json() == c.to_json()
    t = c2.tables["repo_files"]
    assert t.key_cols == ["repo", "path"]
    assert t.expressions[0].operations == ("I", "U")


def test_diff_columns():
    a = repo_files_config()
    b = EngineConfig.from_json(a.to_json())
    b.tables["repo_files"].columns.append(ColumnCfg("stars"))
    d = a.diff_columns(b)
    assert d == {"repo_files": {"added": ["stars"], "removed": []}}


def test_payload_cols_per_op(cfg):
    assert "content" in cfg.payload_cols("I")
    assert "content" not in cfg.payload_cols("D")  # log_delete=False
    cfg.payload_pkey_only = True
    assert cfg.payload_cols("U") == ["repo", "path"]


def test_projection_nulls_unlogged(spark, cfg):
    df = _df(
        spark,
        [
            (1, "r", "p", "c", "py", "body", 0, "I"),
            (2, "r", "p", "c", "py", "body2", 0, "D"),
        ],
    )
    out = {r["op"]: r for r in cfg.apply_projection(df).collect()}
    assert out["I"]["content"] == "body"
    assert out["D"]["content"] is None  # content not logged for deletes


def test_expressions_per_op(spark, cfg):
    cfg.expressions.append(
        ExpressionCfg(alias="content_len", sql="length(content)", operations=("I", "U"))
    )
    df = _df(spark, [(1, "r", "p", "c", "py", "abcd", 0, "I"), (2, "r", "p", "c", "py", None, 0, "D")])
    out = {r["op"]: r for r in cfg.apply_projection(df).collect()}
    assert out["I"]["content_len"] == 4
    assert out["D"]["content_len"] is None


@pytest.mark.parametrize(
    "mode,expected",
    [
        ("N", None),
        ("P", '{"repo":"r","path":"p"}'),
        ("F", "fixed!"),
        ("T", "7"),
        ("E", "R"),
    ],
)
def test_key_handling_modes(spark, cfg, mode, expected):
    cfg.key_handling = mode
    cfg.fixed_key = "fixed!"
    cfg.key_expression = "upper(repo)"
    df = _df(spark, [(1, "r", "p", "c", "py", "x", 7, "I")])
    got = df.selectExpr(f"{cfg.key_sql()} AS msg_key").collect()[0]["msg_key"]
    assert got == expected
