"""Property-based invariants of the CDC core (hypothesis).

The reference's test strategy synthesizes randomized event fixtures and
asserts replay equivalence (test_helper.rb's seeded generators +
kafka_mock assertions); the Spark analog: for ARBITRARY I/U/D
interleavings the engine's replay-to-final-state must equal the plain
fold of the stream, regardless of how the stream is cut into epochs,
and replays must be no-ops. Streams are tiny (the property is about
interleavings, not volume — volume is bench.py's job)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA, apply_batch

COLS = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]

# an event: (key index, op, payload index) — seq is the stream position
event_strategy = st.tuples(
    st.integers(min_value=0, max_value=4),
    st.sampled_from(["I", "U", "D"]),
    st.integers(min_value=0, max_value=9),
)
events_strategy = st.lists(event_strategy, min_size=1, max_size=60)


def _to_rows(events):
    return [
        (seq, "r", f"p{k}", f"c{seq}", "py",
         None if op == "D" else f"v{payload}", None, op)
        for seq, (k, op, payload) in enumerate(events)
    ]


def _fold_oracle(rows):
    """The plain LWW fold: last op per key wins; deleted keys absent."""
    state = {}
    for seq, repo, path, commit, lang, content, _old, op in rows:
        if op == "D":
            state.pop((repo, path), None)
        else:
            state[(repo, path)] = (seq, content)
    return state


@pytest.fixture(scope="module")
def _tables(spark, tmp_path_factory):
    """One lake-table dir per example, counter-named (hypothesis reuses
    the fixture across examples)."""
    root = tmp_path_factory.mktemp("prop_lake")
    counter = {"i": 0}

    def make(n_buckets=2):
        counter["i"] += 1
        return LakeTable.create(
            spark, str(root / f"t{counter['i']}"), REPO_FILES_SCHEMA, KEY_COLS,
            n_buckets=n_buckets,
        )

    return make


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy, n_epochs=st.integers(min_value=1, max_value=4))
def test_replay_equals_fold_for_any_interleaving(spark, _tables, events, n_epochs):
    rows = _to_rows(events)
    table = _tables()
    step = (len(rows) + n_epochs - 1) // n_epochs
    for e in range(n_epochs):
        chunk = rows[e * step:(e + 1) * step]
        if not chunk:
            continue
        batch = spark.createDataFrame(pd.DataFrame(chunk, columns=COLS))
        apply_batch(table, batch, epoch_id=e, condition_sql="1=1")

    got = {
        (r["repo"], r["path"]): (r["last_seq"], r["content"])
        for r in table.read().select("repo", "path", "last_seq", "content").collect()
    }
    assert got == _fold_oracle(rows)

    # fencing property: replaying EVERY epoch again changes nothing
    for e in range(n_epochs):
        chunk = rows[e * step:(e + 1) * step]
        if not chunk:
            continue
        batch = spark.createDataFrame(pd.DataFrame(chunk, columns=COLS))
        lin = apply_batch(table, batch, epoch_id=e, condition_sql="1=1")
        assert lin.get("skipped")
    got2 = {
        (r["repo"], r["path"]): (r["last_seq"], r["content"])
        for r in table.read().select("repo", "path", "last_seq", "content").collect()
    }
    assert got2 == got


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy)
def test_epoch_cut_is_irrelevant(spark, _tables, events):
    """Cutting the same stream into 1 epoch vs 3 epochs yields the
    identical final state — associativity of the seq-fenced merge."""
    rows = _to_rows(events)

    def run(n_epochs):
        table = _tables()
        step = (len(rows) + n_epochs - 1) // n_epochs
        for e in range(n_epochs):
            chunk = rows[e * step:(e + 1) * step]
            if chunk:
                apply_batch(
                    table,
                    spark.createDataFrame(pd.DataFrame(chunk, columns=COLS)),
                    epoch_id=e,
                    condition_sql="1=1",
                )
        return {
            (r["repo"], r["path"]): (r["last_seq"], r["content"], r["content_sha"])
            for r in table.read().select(
                "repo", "path", "last_seq", "content", "content_sha"
            ).collect()
        }

    assert run(1) == run(3)


class _FakeState:
    """Minimal GroupState double for driving _sessionize_group_impl
    directly (the hook is a pure function of chunks + state)."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


# per-user event stream: (gap-to-previous seconds, id-shuffle salt);
# gaps hug the 3600 s session boundary on purpose
session_stream = st.lists(
    st.tuples(st.sampled_from([0, 1, 3599, 3600, 3601, 7200]),
              st.integers(min_value=0, max_value=2)),
    min_size=1,
    max_size=40,
)


@settings(max_examples=50, deadline=None, derandomize=True)
@given(stream=session_stream, n_batches=st.integers(min_value=1, max_value=4))
def test_sessionizer_hook_matches_fold(stream, n_batches):
    from movex_cdc_spark.streaming.windows import (
        SESSION_GAP_US,
        _sessionize_group_impl,
    )

    base_us = 1_700_000_000_000_000
    ts_us, t = [], base_us
    for gap_s, _salt in stream:
        t += gap_s * 1_000_000
        ts_us.append(t)
    # event ids scrambled vs time so (ts, event_id) tie-breaks matter
    ids = [(i * 7) % len(ts_us) for i in range(len(ts_us))]

    def chunk_df(idx):
        return pd.DataFrame({
            "ts": pd.to_datetime([ts_us[i] * 1000 for i in idx]),
            "event_id": [ids[i] for i in idx],
            "user_id": 1,
        })

    # mirror: sort by (ts, id), close a session on gap > 3600 s
    order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], ids[i]))
    sessions, cur = [], [order[0]]
    for prev, i in zip(order, order[1:]):
        if ts_us[i] - ts_us[prev] > SESSION_GAP_US:
            sessions.append(cur)
            cur = [i]
        else:
            cur.append(i)
    sessions.append(cur)
    expected_closed = [
        (1, sid, len(s), ids[s[0]], ids[s[-1]])
        for sid, s in enumerate(sessions[:-1])
    ]

    # drive the hook batch by batch, TIME-ordered batches (the asserted
    # cross-batch contract), shuffled inside each batch
    state = _FakeState()
    emitted = []
    step = (len(order) + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch_idx = order[b * step:(b + 1) * step]
        if not batch_idx:
            continue
        shuffled = list(reversed(batch_idx))  # within-batch order is free
        for out in _sessionize_group_impl((1,), iter([chunk_df(shuffled)]), state, None):
            emitted.extend(map(tuple, out.itertuples(index=False)))
    assert emitted == expected_closed
    # the open session is exactly the mirror's last one, held in state
    sid, last_ts, n, first_seq, last_seq = state.get
    last = sessions[-1]
    assert (sid, n, first_seq, last_seq) == (
        len(sessions) - 1, len(last), ids[last[0]], ids[last[-1]]
    )
    assert last_ts == ts_us[last[-1]]


# one bucket, >= MAX_DELTA_DEPTH + 1 non-empty epochs: a compacting
# commit is guaranteed, whatever the drawn examples cover
_COMPACTING_STREAM = [(i % 5, "IUD"[i % 3], i % 10) for i in range(24)]


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=events_strategy,
    n_epochs=st.integers(min_value=2, max_value=8),
    n_buckets=st.sampled_from([1, 2]),
    crash_at=st.integers(min_value=0, max_value=7),
)
@example(events=_COMPACTING_STREAM, n_epochs=6, n_buckets=1, crash_at=1)
@example(events=_COMPACTING_STREAM, n_epochs=8, n_buckets=1, crash_at=7)
def test_crash_at_any_epoch_replays_to_same_state(
    spark, _tables, events, n_epochs, n_buckets, crash_at
):
    """Exactly-once under a crash at an ARBITRARY epoch boundary: kill
    the writer between the snapshot write and the metadata commit,
    then resume from that epoch — the final state must equal the
    crash-free fold, and no epoch may double-apply. The crash lands on
    the first delta commit at or after a hypothesis-chosen epoch AND
    on the first compacting (copy-on-write) commit, if the stream has
    one; a one-bucket table with more than MAX_DELTA_DEPTH non-empty
    epochs always does. Generalizes the deterministic
    kill-between-write-and-commit tests to every cut point hypothesis
    can find (uuid snapshot staging is what makes the replay
    collision-free)."""
    rows = _to_rows(events)
    table = _tables(n_buckets=n_buckets)
    step = (len(rows) + n_epochs - 1) // n_epochs
    # clamp the crash to an epoch that actually HAS rows — an empty
    # chunk is never applied, which would silently degrade the example
    # to the plain replay property
    nonempty = [e for e in range(n_epochs) if rows[e * step:(e + 1) * step]]
    crash_from = nonempty[crash_at % len(nonempty)]
    real = LakeTable._write_version
    crashed: set[str] = set()

    def crashing(self, meta):
        arm = meta["lineage"][-1]["write_mode"]
        if arm not in crashed and (arm == "cow" or epoch >= crash_from):
            crashed.add(arm)
            raise RuntimeError("simulated crash")
        real(self, meta)

    LakeTable._write_version = crashing
    try:
        for epoch in nonempty:
            chunk = rows[epoch * step:(epoch + 1) * step]
            batch = spark.createDataFrame(pd.DataFrame(chunk, columns=COLS))
            try:
                apply_batch(table, batch, epoch_id=epoch, condition_sql="1=1")
            except RuntimeError as e:
                assert "simulated crash" in str(e)
                # resume: the epoch re-runs (foreachBatch replay)
                apply_batch(table, batch, epoch_id=epoch, condition_sql="1=1")
    finally:
        LakeTable._write_version = real
    assert crashed
    if n_buckets == 1 and len(nonempty) > MAX_DELTA_DEPTH:
        assert "cow" in crashed

    got = {
        (r["repo"], r["path"]): (r["last_seq"], r["content"])
        for r in table.read().select("repo", "path", "last_seq", "content").collect()
    }
    assert got == _fold_oracle(rows)


def test_crash_between_delta_write_and_commit_replays_to_oracle(spark, tmp_path):
    """Deterministic crash points on both write arms: a delta file (and
    later a compacting snapshot) is written but its commit never runs.
    The replayed epochs converge to replay_oracle, and expire_snapshots
    reaps both orphans without touching the state."""
    import os

    from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle

    ev = generate_events(GenParams(n_events=1500, seed=61))
    table = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS,
                             n_buckets=4)
    df = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    n = MAX_DELTA_DEPTH + 2
    real = LakeTable._write_version

    def crashing(self, meta):
        raise RuntimeError("simulated crash")

    modes = []
    for e in range(n):
        batch = df.filter(F.pmod(F.col("seq"), F.lit(n)) == e)
        if e in (1, MAX_DELTA_DEPTH):  # a delta commit, then a compacting one
            LakeTable._write_version = crashing
            try:
                with pytest.raises(RuntimeError, match="simulated crash"):
                    apply_batch(table, batch, epoch_id=e)
            finally:
                LakeTable._write_version = real
        modes.append(apply_batch(table, batch, epoch_id=e)["write_mode"])
    assert modes == ["delta"] * MAX_DELTA_DEPTH + ["cow", "delta"]

    def state():
        return table.read().select("repo", "path", "content_sha").toPandas()

    oracle = replay_oracle(ev.iloc[0:0][["repo", "path", "commit", "lang", "content"]], ev)
    got = state()
    m = got.merge(oracle[["repo", "path", "content_sha"]], on=["repo", "path"],
                  how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()

    data = os.path.join(table.path, "data")

    def dirs_at(v):
        return [d for d in os.listdir(data) if d.startswith(f"snap-{v}-")]

    assert len(dirs_at(2)) == 2 and len(dirs_at(MAX_DELTA_DEPTH + 1)) == 2
    assert table.expire_snapshots(keep_last=1) > 0
    assert len(dirs_at(2)) == 0  # orphan reaped; its replay was compacted
    assert len(dirs_at(MAX_DELTA_DEPTH + 1)) == 1  # the live base survives
    assert state().sort_values(["repo", "path"]).reset_index(drop=True).equals(
        got.sort_values(["repo", "path"]).reset_index(drop=True))
