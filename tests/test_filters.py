"""Filter operators (reference P3/P4/S11 semantics)."""

import pandas as pd

from movex_cdc_spark.datagen import EXCLUDE_MARKER
from movex_cdc_spark.operators.apply import POISON_FLAG, flag_dispositions, split_flagged
from movex_cdc_spark.operators.filters import (
    condition_keep_sql,
    default_exclude_condition,
    noop_keep_sql,
    poison_predicate,
)

COLS = ["seq", "repo", "path", "content", "old_content", "op"]


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


def test_condition_filter(spark):
    df = _df(
        spark,
        [
            (1, "r", "a", "keep me", None, "I"),
            (2, "r", "b", f"drop {EXCLUDE_MARKER} me", None, "I"),
            (3, "r", "c", None, None, "D"),  # null content passes
        ],
    )
    keep = condition_keep_sql(default_exclude_condition(), event_shaped=True)
    got = df.filter(keep).select("seq").toPandas()
    assert sorted(got["seq"]) == [1, 3]


def test_noop_suppression_null_safe(spark):
    df = _df(
        spark,
        [
            (1, "r", "a", "same", "same", "U"),      # noop -> drop
            (2, "r", "b", "new", "old", "U"),        # real change -> keep
            (3, "r", "c", None, None, "U"),          # null==null noop -> drop
            (4, "r", "d", "x", None, "U"),           # null old -> keep
            (5, "r", "e", "same", "same", "I"),      # not an update -> keep
        ],
    )
    got = df.filter(noop_keep_sql()).select("seq").toPandas()
    assert sorted(got["seq"]) == [2, 4, 5]


def test_split_poison(spark):
    df = _df(
        spark,
        [
            (1, "r", "a", None, None, "I"),   # poison
            (2, "r", "b", None, None, "U"),   # poison
            (3, "r", "c", None, None, "D"),   # deletes need no content
            (4, "r", "d", "ok", None, "I"),
        ],
    )
    # the split alone (flag_dispositions' no-op check would drop seq 2,
    # an update whose NULL content equals its NULL old image)
    valid, poison = split_flagged(df.withColumn(POISON_FLAG, poison_predicate()))
    assert sorted(r["seq"] for r in valid.collect()) == [3, 4]
    assert sorted(r["seq"] for r in poison.collect()) == [1, 2]
    assert "error_msg" in poison.columns
    assert POISON_FLAG not in valid.columns + poison.columns


def test_null_op_rows_survive_noop_suppression_to_quarantine(spark):
    """Regression: a malformed wire record parses all-null; NULL op made
    is_noop NULL (NULL AND TRUE) and filter(~NULL) silently dropped the
    row BEFORE the poison flag ever saw it. Only a definite no-op may be
    suppressed — undecidable rows must continue to the poison split."""
    df = _df(
        spark,
        [
            (1, "r", "a", "new", "old", "U"),
            (2, None, None, None, None, None),  # malformed: all-null
        ],
    )
    kept = df.filter(noop_keep_sql())
    assert sorted(r["seq"] for r in kept.select("seq").collect()) == [1, 2]
    valid, poison = split_flagged(flag_dispositions(df))
    assert [r["seq"] for r in valid.collect()] == [1]
    p = poison.collect()
    assert len(p) == 1 and p[0]["error_msg"] == "unknown operation"


def test_flagged_fast_path_diagnoses_unknown_op(spark):
    """Regression: split_flagged stamped EVERY poison row 'null content
    on insert/update'; unknown-op rows must carry their own diagnosis.
    Batch and streaming paths share this split."""
    df = _df(
        spark,
        [
            (1, "r", "a", "x", None, "I"),
            (2, "r", "b", None, None, "I"),      # null content on insert
            (3, "r", "c", "y", None, "Z"),       # unknown op
            (4, None, None, None, None, None),   # malformed all-null
        ],
    )
    valid, poison = split_flagged(flag_dispositions(df))
    assert [r["seq"] for r in valid.collect()] == [1]
    msgs = {r["seq"]: r["error_msg"] for r in poison.collect()}
    assert msgs == {
        2: "null content on insert/update",
        3: "unknown operation",
        4: "unknown operation",
    }


def test_custom_condition_passes_malformed_rows_to_quarantine(spark):
    """Regression: with a CUSTOM capture condition (not the null-safe
    default), a malformed row makes the predicate NULL and three-valued
    logic dropped it before the poison split. Poison-shaped rows must
    bypass the condition on both the single- and per-op paths."""
    from movex_cdc_spark.operators.filters import per_op_condition_filter

    df = _df(
        spark,
        [
            (1, "r", "a", "keep me", None, "I"),
            (2, "r", "b", "drop me", None, "I"),   # fails condition: silent drop is CORRECT
            (3, None, None, None, None, None),     # malformed: condition NULL
            (4, "r", "d", None, None, "I"),        # poison: condition NULL
        ],
    )
    valid, poison = split_flagged(
        flag_dispositions(df, condition_sql="contains(content, 'keep')")
    )
    assert [r["seq"] for r in valid.collect()] == [1]
    msgs = {r["seq"]: r["error_msg"] for r in poison.collect()}
    assert msgs == {
        3: "unknown operation",
        4: "null content on insert/update",
    }

    # per-op path: same exemption
    kept = per_op_condition_filter(df, {"I": "contains(content, 'keep')"})
    assert sorted(r["seq"] for r in kept.collect()) == [1, 3, 4]
