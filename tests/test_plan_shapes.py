"""Physical-plan regression guards: the structural properties that
decide 100-TB behavior must not silently degrade (pushdown reaching the
scan, broadcast joins on dimensions, map-side partial LWW combine, no
unplanned cartesian joins, no self-join double-evaluation in dedup)."""

import contextlib
import io

import pytest

from movex_cdc_spark.plans.entry_queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_pushed_to_scan(spark):
    p = _plan(spark, "q6_selective_filter_agg")
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300]
    # projection pruned: the scan must not read all 16 lineitem columns
    sch = p.split("ReadSchema: struct<")[1].split(">")[0]
    assert sch.count(":") <= 4


def test_q5_broadcasts_dimensions(spark):
    p = _plan(spark, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # all dims are broadcast-sized


def test_lww_partial_combine_before_shuffle(spark):
    # the window formulation must plan a PARTIAL WindowGroupLimit before
    # the exchange (Spark 4 pushes the rn=1 top-k map-side)...
    p = _plan(spark, "cdc_apply_final_state")
    assert "WindowGroupLimit" in p and "Partial" in p

    # ...and the engine's hot-path maxby must plan as a two-phase
    # aggregate: partial max_by in the scan stage, final after the shuffle
    from pyspark.sql import functions as F

    from movex_cdc_spark.operators.lww import lww_dedup_maxby

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").alias("repo"), F.lit("s").alias("path"),
        F.col("event_id").alias("seq"), F.col("event_type").alias("content"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lww_dedup_maxby(ev, ["repo", "path"]).explain("formatted")
    p2 = buf.getvalue()
    assert "partial_max_by" in p2


def test_dedup_pair_generation_has_no_self_join(spark):
    for name in ("dedup_minhash_lsh", "dedup_simhash64_banded"):
        p = _plan(spark, name)
        assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_no_unplanned_cartesian_anywhere(spark):
    allowed = {"ann_cosine_topk", "ann_lsh_bucketed", "ann_random_projection_lsh",
               "cdc_retry_backoff_eligible"}
    # scan-only / expression queries are cheap to verify wholesale; the
    # engine-in-the-loop queries execute merges eagerly, so check the
    # pure-plan subset
    fast = [
        "cdc_lww_latest_state", "cdc_noop_suppression", "cdc_keyed_slice",
        "q1_pricing_summary", "q3_top_revenue_orders", "window_topk_per_group",
        "dedup_exact_sha", "dedup_ngram_jaccard", "text_analysis_battery",
        "cdc_sessionization", "distinct_count_per_group",
    ]
    for name in fast:
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        if name not in allowed:
            assert "BroadcastNestedLoopJoin" not in p, name


def test_ivf_probe_shape_and_recall_floor(spark):
    """IVF ANN: assignment stays in codegen (no extra shuffle), the
    probe join is broadcast (queries) — and within the probed cells the
    ranking is EXACT: any (query, neighbor) pair that brute force also
    ranks must carry the identical rounded cosine. Recall floor: every
    query's true top-1 neighbor is found whenever it lives in a probed
    cell; structurally we assert each query returns k candidates and
    rk is dense 1..k."""
    from movex_cdc_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_probe_topk,
    )
    from movex_cdc_spark.plans.entry_queries import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    ivf = ivf_probe_topk(e, n_centroids=8, n_probe=2, k=3, max_query_id=10).toPandas()
    brute = cosine_topk_bruteforce(e, k=3, max_query_id=10).toPandas()

    assert set(ivf["q_id"]) == set(range(10))
    per_q = ivf.groupby("q_id")["rk"].apply(lambda s: sorted(s.tolist()))
    assert all(v == [1, 2, 3] for v in per_q), per_q
    # exactness inside probed cells: shared pairs carry identical scores
    m = ivf.merge(brute, on=["q_id", "neighbor_id"], suffixes=("_i", "_b"))
    assert len(m) > 0
    assert (m["cosine_i"] == m["cosine_b"]).all()
    # the plan broadcasts the query side and never goes cartesian
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_probe_topk(e, n_centroids=8, n_probe=2, k=3, max_query_id=10).explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def _executed_plans(spark, action):
    """Final physical plans (AQE-resolved) of the SQL executions that
    ``action`` runs, read from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = {e.executionId() for e in executions()}
    action()
    return [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen
    ]


def _merge_fixture(spark, tmp_path):
    import pandas as pd

    from movex_cdc_spark.lake.table import LakeTable
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA

    cols = ["repo", "path", "commit", "lang", "content"]
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8)
    t.overwrite(spark.createDataFrame(
        pd.DataFrame([(f"r{i}", f"p{i}", "c", "py", "v") for i in range(64)], columns=cols)
    ))
    batch = spark.createDataFrame(pd.DataFrame(
        [(i, f"r{i}", f"p{i}", "c2", "py", "w", "U") for i in range(0, 64, 5)]
        + [(100, "r1", "p1", "c3", "py", "w2", "U")],  # two rows for one key
        columns=["seq"] + cols + ["op"],
    ))
    return t, batch


def _write_plan(spark, merge):
    plans = _executed_plans(spark, merge)
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    return writes[0].split("== Initial Plan ==")[0].split("\n\n")[0]


def test_merge_write_is_one_exchange(spark, tmp_path):
    """The COW merge write runs as batch ∪ stored rows → ONE exchange
    on the bucket → per-key max_by aggregate → partitioned write: no
    join, and each stored file set is scanned once — the base files in
    one scan, each delta file in its own."""
    from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH

    t, batch = _merge_fixture(spark, tmp_path)
    for e in range(MAX_DELTA_DEPTH):
        assert t.merge(batch, epoch_id=e)["write_mode"] == "delta"
    lin = {}
    final = _write_plan(spark, lambda: lin.update(t.merge(batch, epoch_id=MAX_DELTA_DEPTH)))
    assert lin["write_mode"] == "cow"
    assert final.count("Exchange (") == 1, final
    assert final.count("Scan parquet") == 1 + MAX_DELTA_DEPTH, final
    assert "Join" not in final, final
    assert {r["path"]: r["content"] for r in t.read().collect()}["p1"] == "w2"


def test_delta_write_has_no_exchange_or_aggregate(spark, tmp_path):
    """The delta arm writes the batch rows as one file: no exchange, no
    aggregate and no stored-side scan in its write plan."""
    t, batch = _merge_fixture(spark, tmp_path)
    lin = {}
    final = _write_plan(spark, lambda: lin.update(t.merge(batch, epoch_id=0)))
    assert lin["write_mode"] == "delta" and lin["files_written"] == 1
    assert "Exchange" not in final, final
    assert "Aggregate" not in final, final
    assert "Scan parquet" not in final, final
    assert {r["path"]: r["content"] for r in t.read().collect()}["p1"] == "w2"
