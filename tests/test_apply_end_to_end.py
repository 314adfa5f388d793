"""Replay-to-final-state: the engine's lake table must match the
pandas replay oracle row-by-row on sha256(content) — the north rule's
verification invariant (analog of the reference's end-to-end transfer
test, test/models/transfer_thread_test.rb:18-137)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import (
    GenParams,
    generate_base_snapshot,
    generate_events,
    replay_oracle,
)
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch,
)


def _bootstrap(spark, tmp_lake, p):
    base = generate_base_snapshot(p)
    t = LakeTable.create(spark, tmp_lake, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8)
    bs = spark.createDataFrame(base.drop(columns=["last_seq", "deleted"])).withColumn(
        "content_sha", F.sha2("content", 256)
    )
    t.overwrite(bs)
    return t, base


def _assert_matches_oracle(t, base, ev):
    final = t.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(base, ev)[["repo", "path", "content_sha"]]
    merged = final.merge(oracle, on=["repo", "path"], how="outer", indicator=True,
                         suffixes=("_e", "_o"))
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"]
    assert (merged["content_sha_e"] == merged["content_sha_o"]).all()


@pytest.mark.parametrize("n_batches,hot_keys", [(1, False), (4, False), (3, True)])
def test_replay_matches_oracle(spark, tmp_lake, tmp_path, n_batches, hot_keys):
    p = GenParams(n_events=4000, hot_repo_share=0.5 if hot_keys else 0.0)
    ev = generate_events(p)
    t, base = _bootstrap(spark, tmp_lake, p)
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    n = len(ev)
    bs = n // n_batches
    for i in range(n_batches):
        chunk = ev.iloc[i * bs : (i + 1) * bs if i < n_batches - 1 else n]
        apply_batch(
            t,
            spark.createDataFrame(chunk.drop(columns=["is_noop"])),
            epoch_id=i,
            dead_letter=dl,
        )
    _assert_matches_oracle(t, base, ev)
    assert dl.read().count() == (ev["content"].isna() & ev["op"].isin(["I", "U"])).sum()


def test_epoch_retry_is_noop(spark, tmp_lake):
    p = GenParams(n_events=2000)
    ev = generate_events(p)
    t, base = _bootstrap(spark, tmp_lake, p)
    sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    lin1 = apply_batch(t, sdf, epoch_id=7)
    v = t.current_version()
    lin2 = apply_batch(t, sdf, epoch_id=7)
    assert lin2.get("skipped") is True
    assert t.current_version() == v
    # an OLDER epoch must also be fenced
    lin3 = apply_batch(t, sdf, epoch_id=3)
    assert lin3.get("skipped") is True
    _assert_matches_oracle(t, base, ev)


def test_cross_batch_out_of_order_seq(spark, tmp_lake):
    """A later batch carrying older seqs must not clobber newer state
    (SURVEY §7.3 hard part 2: s.seq > t.last_seq guard)."""
    p = GenParams(n_events=3000)
    ev = generate_events(p)
    t, base = _bootstrap(spark, tmp_lake, p)
    hi = ev[ev["seq"] > 1500]
    lo = ev[ev["seq"] <= 1500]
    apply_batch(t, spark.createDataFrame(hi.drop(columns=["is_noop"])), epoch_id=0)
    apply_batch(t, spark.createDataFrame(lo.drop(columns=["is_noop"])), epoch_id=1)
    _assert_matches_oracle(t, base, ev)


def test_delete_then_late_lower_seq_stays_deleted(spark, tmp_lake):
    """Tombstone semantics (SURVEY §7.3 hard part 5): after D at seq 10,
    a late U at seq 5 must NOT resurrect; an I at seq 20 must."""
    t = LakeTable.create(spark, tmp_lake, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    cols = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]

    def batch(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    apply_batch(t, batch([(10, "r", "p", "c1", "py", None, None, "D")]), epoch_id=0)
    assert t.read().count() == 0
    apply_batch(t, batch([(5, "r", "p", "c2", "py", "old text", None, "U")]), epoch_id=1)
    assert t.read().count() == 0, "late lower-seq update resurrected a deleted row"
    apply_batch(t, batch([(20, "r", "p", "c3", "py", "new text", None, "I")]), epoch_id=2)
    got = t.read().collect()
    assert len(got) == 1 and got[0]["content"] == "new text"
