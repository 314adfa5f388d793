"""Turn a finished run into metrics: the end-to-end set (untraced runs)
and the per-layer set (traced runs). Every workload reports every
metric; a layer a workload bypasses reads 0 there."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import calc

RECORD_KEYS = ("rounds", "warm_epochs", "state_mismatches", "dead_letters",
               "dead_letters_want", "input_sizes", "error")

E2E_UNITS = {"setup_s": "s", "events_per_s": "events/s", "op_p50_s": "s", "peak_rss_mb": "MB"}

_PM = ("p50", "max")
PER_LAYER_UNITS: dict[str, str] = {}


def _add(name: str, unit: str, stats: tuple[str, ...] = ()) -> None:
    for s in stats or ("",):
        PER_LAYER_UNITS[f"{name}.{s}" if s else name] = unit


_add("source.rows_per_epoch", "count", _PM)
for _n in ("trigger_s", "add_batch_s", "plan_s", "offset_log_s", "driver_gap_s"):
    _add(f"stream.{_n}", "s", _PM)
_add("stream.trigger_s.tail", "s")
_add("stream.trigger_s.tail_pct", "%")
_add("stream.trigger_s.tail_n", "count")
_add("trace.coverage_min", "ratio")
_add("dispatch.table_apply_s", "s", _PM)
_add("dispatch.straggler_ratio", "ratio", _PM)
_add("apply.call_s", "s", _PM)
_add("apply.pre_merge_s", "s", _PM)
_add("apply.calls", "count")
for _n in ("call_s", "self_s", "listing_s", "commit_s"):
    _add(f"merge.{_n}", "s", _PM)
_add("merge.buckets_touched", "count", ("p50",))
_add("merge.files_written", "count", ("p50",))
_add("merge.bytes_written", "bytes", ("p50",))
_add("merge.rows_rewritten", "count", ("p50",))
_add("merge.write_amplification", "ratio", ("p50",))
_add("deadletter.append_s", "s", _PM)
_add("deadletter.appends", "count")
_add("deadletter.empty_appends", "count")
_add("deadletter.overlap_share", "ratio")
_add("fs.read_calls", "count", ("p50",))
_add("fs.write_calls", "count", ("p50",))
_add("fs.s", "s", _PM)
_add("lineage.append_s", "s", _PM)
_add("lineage.flush_s", "s", _PM)
_add("read.snapshot_s", "s", ("p50",))
_add("spark.jobs", "count", _PM)
_add("spark.tasks", "count", _PM)
_add("spark.failed_tasks", "count")
for _n, _u in E2E_UNITS.items():
    _add(f"traced.{_n}", _u)


def end_to_end(run) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "events_per_s": calc.median(run.round_rates),
        "op_p50_s": calc.median(run.op_walls),
        "peak_rss_mb": run.peak_rss_mb,
    }


def _put_pm(out: dict, name: str, xs: list[float]) -> None:
    out[f"{name}.p50"], out[f"{name}.max"] = calc.p50_max(xs)


def _footer_stats(sp) -> tuple[int, int, int]:
    """(files, bytes, rows) the merge wrote, from its committed snapshot."""
    path, version = sp.info["path"], sp.info["version"]
    with open(os.path.join(path, "_meta", f"v{version}.json")) as f:
        meta = json.load(f)
    files = bytes_ = rows = 0
    for b in sp.info["buckets_touched"]:
        for rel in meta["buckets"].get(str(b), []):
            full = os.path.join(path, rel)
            files += 1
            bytes_ += os.path.getsize(full)
            rows += pq.ParquetFile(full).metadata.num_rows
    return files, bytes_, rows


def _stream_layers(out: dict, progress: list[dict], spans_by_epoch: dict) -> None:
    """Per-trigger layers from query progress, net of the apply spans:
    the driver gap is addBatch time outside every apply call, and the
    coverage is how much of the trigger those parts account for."""
    trig, add, plan, offlog, gap, cover, rows = [], [], [], [], [], [], []
    for p in progress:
        d = {k: v / 1000 for k, v in p["durationMs"].items()}
        applies = [s for s in spans_by_epoch.get(p["batchId"], []) if s.name == "apply.call"]
        applied = calc.union_length([(s.start, s.end) for s in applies])
        t = d.get("triggerExecution", 0.0)
        a = d.get("addBatch", 0.0)
        pl = d.get("latestOffset", 0.0) + d.get("getBatch", 0.0) + d.get("queryPlanning", 0.0)
        ol = d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0)
        g = max(a - applied, 0.0)
        trig.append(t)
        add.append(a)
        plan.append(pl)
        offlog.append(ol)
        gap.append(g)
        rows.append(p["numInputRows"])
        if t > 0:
            cover.append((pl + ol + g + applied) / t)
    _put_pm(out, "source.rows_per_epoch", rows)
    _put_pm(out, "stream.trigger_s", trig)
    _put_pm(out, "stream.add_batch_s", add)
    _put_pm(out, "stream.plan_s", plan)
    _put_pm(out, "stream.offset_log_s", offlog)
    _put_pm(out, "stream.driver_gap_s", gap)
    tl = calc.tail(trig)
    if tl is not None:
        out["stream.trigger_s.tail"], out["stream.trigger_s.tail_pct"], \
            out["stream.trigger_s.tail_n"] = tl
    out["trace.coverage_min"] = min(cover) if cover else 0.0


def _cdc_layers(out: dict, run, spans: list) -> None:
    progress = sorted(run.progress, key=lambda p: p["batchId"])
    measured = {p["batchId"] for p in progress}
    ep = calc.epoch_of(spans)
    selfs = calc.self_times(spans)
    by_epoch: dict[int, list] = {}
    for s in spans:
        e = ep[s.id]
        if e in measured:
            by_epoch.setdefault(e, []).append(s)
    _stream_layers(out, progress, by_epoch)

    files = run.extra["files"]
    mux = len(run.extra["table_paths"]) > 1
    apply_s, pre, table_apply, straggle = [], [], [], []
    m_call, m_self, m_list, m_commit = [], [], [], []
    m_buckets, m_files, m_bytes, m_rows, amp = [], [], [], [], []
    dl_s, dl_covered = [], 0.0
    dl_n = dl_empty = 0
    fs_r, fs_w, fs_s, lin_a = [], [], [], []
    jobs, tasks = [], []
    failed_tasks = 0
    n_apply = 0
    for i, p in enumerate(progress):
        sp = by_epoch.get(p["batchId"], [])
        applies = [s for s in sp if s.name == "apply.call"]
        n_apply += len(applies)
        durs = [s.dur for s in applies]
        apply_s += durs
        if mux:
            table_apply += durs
        if durs:
            straggle.append(max(durs) / calc.median(durs))
        for a in applies:
            starts = [s.start for s in sp if s.parent == a.id and s.name == "merge.call"]
            if starts:
                pre.append(min(starts) - a.start)
        merges = [s for s in sp if s.name == "merge.call" and not s.info.get("skipped")]
        ef = eb = er = ebk = 0
        for m in merges:
            m_call.append(m.dur)
            m_self.append(selfs[m.id])
            m_list.append(m.info["timings"].get("listing_s", 0.0))
            m_commit.append(m.info["timings"].get("commit_s", 0.0))
            f, b, r = _footer_stats(m)
            ef, eb, er, ebk = ef + f, eb + b, er + r, ebk + len(m.info["buckets_touched"])
        m_buckets.append(ebk)
        m_files.append(ef)
        m_bytes.append(eb)
        m_rows.append(er)
        amp.append(er / max(files[i % run.extra["n_files"]]["keys"], 1))
        for d in (s for s in sp if s.name == "deadletter.append"):
            dl_n += 1
            dl_empty += d.info.get("rows", 0) == 0
            dl_s.append(d.dur)
            dl_covered += calc.covered(
                (d.start, d.end), [(m.start, m.end) for m in merges if m.thread != d.thread])
        fs_r.append(sum(1 for s in sp if s.name == "fs.read"))
        fs_w.append(sum(1 for s in sp if s.name == "fs.write"))
        fs_s.append(sum(s.dur for s in sp if s.name.startswith("fs.")))
        lin_a += [s.dur for s in sp if s.name == "lineage.append"]
        for b in (s for s in sp if s.name == "stream.batch"):
            jobs.append(b.info.get("jobs", 0))
            tasks.append(b.info.get("tasks", 0))
            failed_tasks += b.info.get("failed_tasks", 0)

    _put_pm(out, "apply.call_s", apply_s)
    _put_pm(out, "apply.pre_merge_s", pre)
    out["apply.calls"] = n_apply
    _put_pm(out, "dispatch.table_apply_s", table_apply)
    _put_pm(out, "dispatch.straggler_ratio", straggle)
    for name, xs in (("call_s", m_call), ("self_s", m_self), ("listing_s", m_list),
                     ("commit_s", m_commit)):
        _put_pm(out, f"merge.{name}", xs)
    out["merge.buckets_touched.p50"] = calc.median(m_buckets)
    out["merge.files_written.p50"] = calc.median(m_files)
    out["merge.bytes_written.p50"] = calc.median(m_bytes)
    out["merge.rows_rewritten.p50"] = calc.median(m_rows)
    out["merge.write_amplification.p50"] = calc.median(amp)
    _put_pm(out, "deadletter.append_s", dl_s)
    out["deadletter.appends"] = dl_n
    out["deadletter.empty_appends"] = dl_empty
    out["deadletter.overlap_share"] = dl_covered / sum(dl_s) if dl_s else 0.0
    out["fs.read_calls.p50"] = calc.median(fs_r)
    out["fs.write_calls.p50"] = calc.median(fs_w)
    _put_pm(out, "fs.s", fs_s)
    _put_pm(out, "lineage.append_s", lin_a)
    _put_pm(out, "lineage.flush_s", [s.dur for s in spans if s.name == "lineage.flush"])
    out["read.snapshot_s.p50"] = calc.median(run.extra["read_s"])
    _put_pm(out, "spark.jobs", jobs)
    _put_pm(out, "spark.tasks", tasks)
    out["spark.failed_tasks"] = failed_tasks


def per_layer(run, spans: list, e2e: dict[str, float]) -> dict[str, dict]:
    out: dict[str, float] = {name: 0.0 for name in PER_LAYER_UNITS}
    _cdc_layers(out, run, spans)
    for k, v in e2e.items():
        out[f"traced.{k}"] = v
    return {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in out.items()}
