"""Correctness gate: engine output against the oracle."""

from __future__ import annotations

import pandas as pd

KEY = ["repo", "path"]


def state_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Keys whose (repo, path, content_sha) row is missing, extra,
    duplicated or carries another content_sha."""
    g = got[KEY + ["content_sha"]]
    w = want[KEY + ["content_sha"]]
    dups = int(g.duplicated(KEY).sum())
    m = g.drop_duplicates(KEY).merge(w, on=KEY, how="outer", suffixes=("_got", "_want"),
                                     indicator=True)
    wrong = (m["_merge"] != "both") | (m["content_sha_got"] != m["content_sha_want"])
    return dups + int(wrong.sum())
