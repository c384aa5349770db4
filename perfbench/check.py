"""Output checks, run once per query per run, outside the timed region.

Batch queries are compared with their DuckDB oracle SQL over the same
generated parquet, after the normalisation of
``scripts/check_correctness.py`` (column order, row order, timestamp
precision, float rounding). Streamed results are compared with the batch
operators.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

# the repository's own correctness script: its table list and
# normalisation, so the two checks cannot drift apart
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "scripts"),
)
from check_correctness import TABLES, normalize  # noqa: E402


def diff_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal after normalisation, else a one-line reason."""
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    if not a.equals(b):
        bad = (~(a == b) & ~(a.isna() & b.isna())).any(axis=1)
        return f"{int(bad.sum())}/{len(a)} rows differ"
    return None


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def check(self, got: pd.DataFrame, sql: str) -> str | None:
        return diff_frames(got, self.con.execute(sql).fetchdf())


def corrupt(df: pd.DataFrame) -> pd.DataFrame:
    """A deliberately wrong output (the self-test's negative control):
    the last numeric column of the first row off by one, or, without
    one, the first row dropped; an empty frame gets a row."""
    if not len(df):
        return pd.concat([df, df.reindex([0])])
    numeric = [c for c in df.columns if pd.api.types.is_numeric_dtype(df[c])]
    if not numeric:
        return df.iloc[1:].copy()
    df = df.copy()
    df.loc[df.index[0], numeric[-1]] += 1
    return df


def _micros(*frames: pd.DataFrame) -> None:
    for df in frames:
        for col in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[col]):
                df[col] = df[col].astype("datetime64[us]")


def check_intervals(streamed: pd.DataFrame, batch: pd.DataFrame,
                    events: pd.DataFrame) -> str | None:
    """Every emitted row carries the batch interval id; the only rows
    missing are each user's unresolved tail: the user's last rows, from a
    start marker on, with no end marker among them."""
    _micros(streamed, batch, events)
    key = ["user_id", "ts"]
    if streamed.duplicated(key).any():
        return "stream emitted a row twice"
    got = streamed.set_index(key)["iids"]
    want = batch.set_index(key)["iids"]
    missing_keys = got.index.difference(want.index)
    if len(missing_keys):
        return f"{len(missing_keys)} streamed rows not in the input"
    wrong = int((want.loc[got.index] != got).sum())
    if wrong:
        return f"{wrong}/{len(got)} streamed ids differ from batch"
    pending = want.index.difference(got.index)
    ev = events.sort_values(key).reset_index(drop=True)
    ev["from_end"] = ev.groupby("user_id").cumcount(ascending=False)
    ev["pending"] = pd.MultiIndex.from_frame(ev[key]).isin(pending)
    n_pending = ev.groupby("user_id")["pending"].transform("sum")
    tail = ev[ev["pending"]]
    first = tail[tail["from_end"] == n_pending[tail.index] - 1]
    if (
        (ev["pending"] != (ev["from_end"] < n_pending)).any()
        or (tail["event_type"] == "purchase").any()
        or (first["event_type"] != "signup").any()
    ):
        return "rows missing from the stream beyond the unresolved tail"
    return None
