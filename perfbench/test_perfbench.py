"""The benchmark's own tests: pure arithmetic, the correctness gate and
the tracer's patching. No SparkSession is started.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import random
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import calc  # noqa: E402
from calc import Span  # noqa: E402
from gate import state_mismatches  # noqa: E402


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    value, pct, n_beyond = calc.tail(xs)
    assert n_beyond >= calc.TAIL_BEYOND
    assert sum(x > value for x in xs) >= calc.TAIL_BEYOND
    # and it is the highest such percentile: one step up leaves too few
    assert sum(x > value for x in xs) == calc.TAIL_BEYOND
    assert pct == pytest.approx(100 * (n - calc.TAIL_BEYOND) / n)


def test_tail_needs_more_than_ten_samples():
    assert calc.tail([1.0] * calc.TAIL_BEYOND) is None
    assert calc.tail([]) is None


def test_union_and_coverage():
    assert calc.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert calc.union_length([]) == 0
    assert calc.covered((0, 10), [(-5, 1), (2, 3), (2.5, 4), (9, 20)]) == 4


def _span(i, name, start, end, parent=None, thread=1, epoch=None):
    return Span(id=i, name=name, start=start, end=end, parent=parent, thread=thread,
                epoch_id=epoch)


def test_self_time_with_overlapping_children_on_other_threads():
    spans = [
        _span(1, "batch", 0, 10, epoch=7),
        # two children on different threads overlapping each other
        _span(2, "apply", 1, 4, parent=1, thread=2),
        _span(3, "apply", 3, 6, parent=1, thread=3),
        # a child that outlives its parent counts only inside it
        _span(4, "deadletter", 8, 12, parent=1, thread=4),
        _span(5, "merge", 2, 3, parent=2, thread=2),
        _span(6, "fs", 2.5, 3.5, parent=5, thread=2),  # ends after its parent
    ]
    st = calc.self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 2)  # [1,6] and [8,10] covered
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(4)
    assert st[5] == pytest.approx(1 - 0.5)
    assert st[6] == pytest.approx(1)
    assert set(calc.epoch_of(spans).values()) == {7}


def _state(n=5):
    return pd.DataFrame({
        "repo": [f"r{i}" for i in range(n)],
        "path": ["p"] * n,
        "content_sha": [f"sha{i}" for i in range(n)],
    })


def test_gate_accepts_the_oracle_state():
    assert state_mismatches(_state().sample(frac=1, random_state=1), _state()) == 0


def test_gate_fails_a_dropped_row():
    assert state_mismatches(_state().iloc[1:], _state()) == 1


def test_gate_fails_an_altered_content_sha():
    got = _state()
    got.loc[3, "content_sha"] = "sha3-corrupt"
    assert state_mismatches(got, _state()) == 1


def test_gate_fails_an_extra_or_duplicated_row():
    extra = pd.concat([_state(), pd.DataFrame({"repo": ["rx"], "path": ["p"],
                                               "content_sha": ["s"]})])
    assert state_mismatches(extra, _state()) == 1
    assert state_mismatches(pd.concat([_state(), _state().iloc[:1]]), _state()) == 1


def _patched_targets():
    from movex_cdc_spark.lake import append_log, fs, table
    from movex_cdc_spark.operators import apply
    from movex_cdc_spark.streaming import lineage, pipeline

    return {
        "pipeline.apply_batch_flagged": pipeline.apply_batch_flagged,
        "pipeline.apply_batch": pipeline.apply_batch,
        "LakeTable.merge": table.LakeTable.merge,
        "LakeTable.evolve_schema": table.LakeTable.evolve_schema,
        "DeadLetterTable.append": apply.DeadLetterTable.append,
        "UnkeyedEventLog.append": append_log.UnkeyedEventLog.append,
        "MetricsTable.append": lineage.MetricsTable.append,
        "MetricsTable.flush": lineage.MetricsTable.flush,
        "LocalFS.read_text": fs.LocalFS.read_text,
        "LocalFS.replace_text": fs.LocalFS.replace_text,
    }


def test_tracer_leaves_untraced_runs_unpatched(tmp_path):
    pytest.importorskip("pyspark")
    from movex_cdc_spark.lake.fs import LocalFS
    from movex_cdc_spark.operators import apply
    from movex_cdc_spark.streaming import pipeline
    from tracer import Tracer

    before = _patched_targets()
    # the pipeline calls the very functions the apply module defines
    assert pipeline.apply_batch_flagged is apply.apply_batch_flagged

    t = Tracer()  # constructing a tracer patches nothing
    assert _patched_targets() == before

    t.install()
    during = _patched_targets()
    assert all(during[k] is not before[k] for k in before)
    p = tmp_path / "x"
    LocalFS().replace_text(str(p), "1")
    assert LocalFS().read_text(str(p)) == "1"
    assert [s.name for s in t.spans] == ["fs.write", "fs.read"]

    t.uninstall()
    assert _patched_targets() == before
    LocalFS().read_text(str(p))
    assert len(t.spans) == 2  # no span once uninstalled
