"""Independent correctness references.

Each reference recomputes a workload's result from the generator's own rows
with pandas or DuckDB, never from the engine's output, and compares it with
what the engine committed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.gen import FLUSH_LANG

US_PER_MIN = 60_000_000


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.astype("datetime64[us]").to_numpy().astype("int64")


def windowed_counts(ts_us: np.ndarray, lang, host, duration_min: int, slide_min: int,
                    text_len: np.ndarray | None = None) -> pd.DataFrame:
    """(window_start_us, lang, host) -> cnt [, sum_chars] for epoch-aligned
    windows of duration_min sliding by slide_min (tumbling when equal)."""
    dur, slide = duration_min * US_PER_MIN, slide_min * US_PER_MIN
    last = ts_us - ts_us % slide
    frames = []
    for k in range(duration_min // slide_min):
        start = last - k * slide
        keep = (start <= ts_us) & (ts_us < start + dur)
        f = pd.DataFrame({"window_start": start[keep], "lang": np.asarray(lang)[keep],
                          "host": np.asarray(host)[keep]})
        if text_len is not None:
            f["sum_chars"] = text_len[keep]
        frames.append(f)
    df = pd.concat(frames, ignore_index=True)
    g = df.groupby(["window_start", "lang", "host"], sort=True)
    out = g.size().rename("cnt").to_frame()
    if text_len is not None:
        out["sum_chars"] = g["sum_chars"].sum()
    return out.reset_index()


def read_parquet_files(files: list[str]) -> pd.DataFrame:
    """The rows of the sink's committed files, read with pyarrow (not with
    the engine under test)."""
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def read_sink_windows(files: list[str]) -> pd.DataFrame:
    """The committed window rows (flush sentinel removed), keyed like
    windowed_counts."""
    if not files:
        return pd.DataFrame(columns=["window_start", "lang", "host", "cnt"])
    df = read_parquet_files(files)
    df = df[df["lang"] != FLUSH_LANG]
    df = df.assign(window_start=_ts_us(df["window_start"]))
    return df.drop(columns=["window_end"])


def compare_frames(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]) -> str | None:
    """None when equal as multisets on the expected columns, else a reason."""
    if len(got) != len(exp):
        return f"rows {len(got)} != expected {len(exp)}"
    cols = list(exp.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"missing columns {missing}"
    g = got[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    e = exp[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(gv.dtype, np.number) and np.issubdtype(ev.dtype, np.number):
            same = np.array_equal(gv.astype("float64"), ev.astype("float64"), equal_nan=True)
        else:
            same = (pd.Series(gv).fillna("\0N").astype(str)
                    == pd.Series(ev).fillna("\0N").astype(str)).all()
        if not same:
            return f"column {c} differs"
    return None


def asof_join(pages: pd.DataFrame, enrich: pd.DataFrame) -> pd.DataFrame:
    """Latest enrichment at or before each page's warc_ts, by host
    (pandas.merge_asof); pages without one keep null enrichment."""
    left = pages.assign(_t=_ts_us(pages["warc_ts"])).sort_values("_t", kind="mergesort")
    right = enrich.assign(_t=_ts_us(enrich["ts"]), enrich_ts=_ts_us(enrich["ts"]))
    right = right.sort_values("_t", kind="mergesort")[["_t", "host", "enrich_ts", "category", "score"]]
    out = pd.merge_asof(left, right, on="_t", by="host", direction="backward")
    out["warc_ts"] = out["_t"]
    return out[["host", "url", "warc_ts", "lang", "enrich_ts", "category", "score"]]


def normalize_join_output(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["warc_ts"] = _ts_us(df["warc_ts"])
    df["enrich_ts"] = df["enrich_ts"].astype("datetime64[us]").to_numpy().astype("int64")
    df.loc[pd.isna(df["category"]), "enrich_ts"] = -1
    return df


def normalize_query_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, value-sorted frame with engine-neutral encodings (the
    repo's own correctness gate applies the same normalization)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None else (
                tuple(x) if isinstance(x, (list, np.ndarray)) else x))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_query(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    if len(got) != len(exp):
        return f"rows {len(got)} != oracle {len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(exp.columns)}"
    g, e = normalize_query_frame(got), normalize_query_frame(exp)
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            ok = np.allclose(gv.astype(float), ev.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            ok = (pd.Series(gv).fillna("\0N").astype(str)
                  == pd.Series(ev).fillna("\0N").astype(str)).all()
        if not ok:
            return f"column {c} differs"
    return None
