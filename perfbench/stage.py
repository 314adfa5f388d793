"""Seeded input staging, cached per (workload, seed) in the work dir.

A CDC workload stages one *segment*: a base snapshot and a few event
files in the engine's payload (Event_Logs) shape, plus the oracle's
final state for base + segment. The timed part drains *rounds*: round r
is a copy of the segment with every ``seq`` raised by r times the
segment's span, moved into the pipeline's source directory. Each round
therefore carries real changes that win last-writer-wins over the
previous round, and the final state after any number of whole rounds
equals the staged oracle, so the oracle is computed once per seed.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY = ["repo", "path"]


@dataclass(frozen=True)
class CdcShape:
    n_events: int  # events per round
    n_files: int  # files per round; one file per trigger
    p_poison: float
    n_tables: int = 1  # > 1: multiplexed queue, keys split across tables, poison in t0
    base: bool = True  # bootstrap the table(s) from a base snapshot


#: warm-up events: a prefix of the first file
N_WARM = 5_000


def gen_params(shape: CdcShape, seed: int):
    from movex_cdc_spark.datagen import GenParams

    return GenParams(
        n_events=shape.n_events,
        n_repos=200,
        paths_per_repo=100,
        hot_repo_share=0.1,
        p_poison=0.0 if shape.n_tables > 1 else shape.p_poison,
        seed=seed,
    )


def table_of(repo: pd.Series, path: pd.Series, n_tables: int) -> np.ndarray:
    """Stable key -> table routing for the multiplexed workload."""
    keys = (repo + "/" + path).tolist()
    return np.array([zlib.crc32(k.encode()) % n_tables for k in keys], dtype=np.int64)


def is_poison(ev: pd.DataFrame) -> pd.Series:
    return ev["content"].isna() & ev["op"].isin(["I", "U"])


def _write_files(pdf: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Split in arrival order into n_files parquet files, f00000.parquet..."""
    os.makedirs(out_dir)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(out_dir, f"f{i:05d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def payload_rows(ev: pd.DataFrame) -> pd.DataFrame:
    """Event_Logs-shaped rows as ``sources.events.to_payload_events``
    writes them (JSON key and payload, null fields left out), built
    without Spark so staging stays cheap."""
    enc = json.JSONEncoder(separators=(",", ":")).encode

    def obj(cols: list[str]) -> list[str]:
        return [enc({k: v for k, v in zip(cols, row) if v is not None})
                for row in ev[cols].itertuples(index=False, name=None)]

    out = pd.DataFrame({
        "seq": ev["seq"].to_numpy(),
        "op": ev["op"].to_numpy(),
        "msg_key": obj(KEY),
        "payload": obj(KEY + ["commit", "lang", "content", "old_content"]),
        "ts": ev["ts"].to_numpy(),
        "txid": ev["txid"].to_numpy(),
    })
    if "table_name" in ev.columns:
        out["table_name"] = ev["table_name"].to_numpy()
    out["ts"] = pd.to_datetime(out["ts"], utc=True)
    return out


def stage_cdc(root: str, name: str, shape: CdcShape, seed: int) -> str:
    """Stage (once per seed) and return the stage dir."""
    from movex_cdc_spark.datagen import generate_base_snapshot, generate_events, replay_oracle

    tag = f"{name}-{shape.n_events}x{shape.n_files}x{shape.n_tables}-{seed}"
    stage = os.path.join(root, "stage", tag)
    if os.path.isfile(os.path.join(stage, "meta.json")):
        return stage
    tmp = stage + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = gen_params(shape, seed)
    ev = generate_events(p)
    if shape.n_tables > 1:
        ev["table_name"] = [f"t{i}" for i in table_of(ev["repo"], ev["path"], shape.n_tables)]
        rng = np.random.default_rng(seed + 99)
        cand = (ev["table_name"] == "t0") & ev["op"].isin(["I", "U"]) & ev["content"].notna()
        plant = cand & (rng.random(len(ev)) < shape.p_poison)
        ev.loc[plant, "content"] = None
    base = generate_base_snapshot(p) if shape.base else pd.DataFrame(
        columns=["repo", "path", "commit", "lang", "content", "last_seq", "deleted"])
    if shape.base:
        base.to_parquet(os.path.join(tmp, "base.parquet"), index=False)

    pdf = payload_rows(ev)
    _write_files(pdf, os.path.join(tmp, "segment"), shape.n_files)
    step = -(-len(ev) // shape.n_files)
    # the warm-up prefix feeds one table only: every table runs the same
    # plans, and one cold table compiles them far faster than all at once
    warm_rows = (ev["table_name"] == "t0").to_numpy() if shape.n_tables > 1 \
        else np.ones(len(ev), dtype=bool)
    warm_rows &= np.arange(len(ev)) < step
    warm_rows &= np.cumsum(warm_rows) <= N_WARM
    _write_files(pdf[warm_rows], os.path.join(tmp, "warm"), 1)

    def describe(chunk: pd.DataFrame) -> dict:
        return {
            "events": int(len(chunk)),
            "keys": int(len(chunk[KEY].drop_duplicates())),
            "poison": int(is_poison(chunk).sum()),
        }

    files = [describe(ev.iloc[i * step:(i + 1) * step]) for i in range(shape.n_files)]
    oracles = []
    groups = (ev.groupby("table_name") if shape.n_tables > 1 else [("t0", ev)])
    for tname, sub in groups:
        want = replay_oracle(base, sub)[KEY + ["content_sha"]]
        want.insert(0, "table_name", tname)
        oracles.append(want)
    pd.concat(oracles).to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
    meta = {"seq_span": int(ev["seq"].max()), "files": files,
            "warm": describe(ev[warm_rows]), "base_rows": int(len(base)),
            "tables": [f"t{i}" for i in range(shape.n_tables)]}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, stage)
    return stage


def load_meta(stage: str) -> dict:
    with open(os.path.join(stage, "meta.json")) as f:
        return json.load(f)


def emit_round(stage: str, events_dir: str, r: int) -> int:
    """Move round ``r`` (seq raised by r x seq_span) into the source dir;
    files are renamed in with increasing mtimes so the file source
    consumes them in staged order. Round 0 is the warm-up prefix, which
    every later round overwrites. Returns events emitted."""
    meta = load_meta(stage)
    seg = os.path.join(stage, "warm" if r == 0 else "segment")
    names = sorted(os.listdir(seg))
    os.makedirs(events_dir, exist_ok=True)
    shift = r * meta["seq_span"]
    n = 0
    for i, fname in enumerate(names):
        t = pq.read_table(os.path.join(seg, fname))
        seq = pc.add(t.column("seq"), pa.scalar(shift, pa.int64()))
        t = t.set_column(t.schema.get_field_index("seq"), "seq", seq)
        hidden = os.path.join(events_dir, f".r{r:04d}-{fname}")
        pq.write_table(t, hidden)
        mtime = 1_700_000_000 + r * 1000 + i
        os.utime(hidden, (mtime, mtime))
        os.rename(hidden, os.path.join(events_dir, f"r{r:04d}-{fname}"))
        n += t.num_rows
    return n
