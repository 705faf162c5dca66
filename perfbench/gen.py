"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical rows. The engine only ever sees the files these
functions write; the correctness references read the generator's own rows
(and the text lengths it knows by construction), never the engine's output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_736_899_200_000_000  # 2025-01-15T00:00:00Z
FLUSH_LANG = "xx"
LANGS = ("en", "de", "fr", "es", "hi", "zh")

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
ENRICH_ARROW = pa.schema(
    [
        pa.field("host", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us"), nullable=False),
        pa.field("category", pa.string()),
        pa.field("score", pa.float64()),
    ]
)
CATEGORIES = ("news", "shop", "blog", "docs", "social")

# ASCII-only vocabulary: Spark's length() counts characters, the reference
# counts the same characters, and bytes == characters.
_SYLL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "gu", "fe")


def vocabulary(n: int) -> list[str]:
    """n distinct lowercase words, deterministic in n."""
    words = []
    k = 0
    while len(words) < n:
        a, b, c = k % 12, (k // 12) % 12, (k // 144) % 12
        words.append(_SYLL[a] + _SYLL[b] + (_SYLL[c] if k >= 144 else "") + str(k // 1728 or ""))
        k += 1
    return words


def host_name(k: int) -> str:
    return f"h{k}.site-{k % 37}.example"


def ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def write_parquet(table: pa.Table, path: str, mtime: float | None = None,
                  row_group_size: int | None = None) -> None:
    """Write to a dot-file then rename, so a file-stream listing never sees a
    partial file; optionally stamp a fixed mtime (the file source orders by
    mtime)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="zstd", row_group_size=row_group_size)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def flush_table(ts_us: int) -> pa.Table:
    """One far-future row (lang 'xx'): advances the watermark past every real
    window so an append-mode drain emits them. Filtered from results."""
    return pa.table(
        {
            "url": ["https://flush.internal/p/-1"],
            "warc_ts": ts_array(np.array([ts_us])),
            "html": pa.nulls(1, pa.binary()),
            "text": pa.nulls(1, pa.string()),
            "lang": [FLUSH_LANG],
        },
        schema=PAGES_ARROW,
    )


# --------------------------------------------------------------------------
# html-only pages (extraction workload)
# --------------------------------------------------------------------------
_NOISE = (
    "<script>var cfg={{id:{i},tags:['a','b'],on:function(x){{return x*{i};}}}};"
    "window.dataLayer=window.dataLayer||[];</script>",
    "<style>.c{i}{{margin:0 auto;padding:{i}px;font:12px/1.4 sans-serif}}"
    " div.nav>ul li{{display:inline}}</style>",
    "<div class=\"nav\"><ul><li>home</li><li>about</li><li>item {i}</li></ul></div>",
)


@dataclass
class Pages:
    table: pa.Table  # PAGES_ARROW rows (text null when html-only)
    text_len: np.ndarray  # exact len(extract_text_py(html)) per row
    host: np.ndarray  # object array of host(url)


def html_pages(seed: int, n: int, n_hosts: int = 100, span_s: int = 6 * 3600) -> Pages:
    """html-only pages: text is null, html is ~1..20 KB with script/style
    noise around a title and a log-uniform number of paragraphs drawn from
    a seeded sentence pool."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(2000)
    pool_w = rng.integers(0, len(vocab), (4096, 40))
    pool_n = rng.integers(12, 40, 4096)
    pool = [" ".join(vocab[x] for x in pool_w[j, : pool_n[j]]) for j in range(4096)]
    pool_len = np.array([len(x) for x in pool], dtype="int64")
    host_ids = rng.integers(0, n_hosts, n)
    ts = BASE_TS_US + np.sort(rng.integers(0, span_s, n)) * 1_000_000
    n_paras = np.exp(rng.uniform(np.log(4), np.log(120), n)).astype(int)
    para_ids = rng.integers(0, 4096, int(n_paras.sum()))
    noise = ["".join(_NOISE[(i + j) % 3].format(i=i) for j in range(1 + i % 4)) for i in range(64)]
    urls, htmls, lens, langs = [], [], np.zeros(n, dtype="int64"), []
    at = 0
    for i in range(n):
        ids = para_ids[at: at + n_paras[i]]
        at += n_paras[i]
        title = f"page {seed}-{i}"
        body = "".join(f"<p>{pool[j]}</p>" for j in ids)
        htmls.append(
            f"<html><head><title>{title}</title>{noise[i % 64]}</head><body>{body}"
            f"{noise[(i * 7) % 64]}</body></html>".encode()
        )
        lens[i] = len(title) + int(pool_len[ids].sum()) + len(ids)
        urls.append(f"https://{host_name(int(host_ids[i]))}/p/{seed}/{i}")
        langs.append(LANGS[int(host_ids[i]) % len(LANGS)])
    table = pa.table(
        {
            "url": urls,
            "warc_ts": ts_array(ts),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.nulls(n, pa.string()),
            "lang": langs,
        },
        schema=PAGES_ARROW,
    )
    hosts = np.array([host_name(int(k)) for k in host_ids], dtype=object)
    return Pages(table, lens, hosts)


# --------------------------------------------------------------------------
# WET-style live pages (open-loop workload)
# --------------------------------------------------------------------------
@dataclass
class LiveChunk:
    table: pa.Table
    on_time: np.ndarray  # bool per row: False for planted late rows


def live_chunk(seed: int, c: int, rows: int, n_hosts: int, hot_frac: float,
               chunk_span_s: int, disorder_s: int, late_frac: float,
               late_before_us: int | None) -> LiveChunk:
    """Chunk c of the live stream. Event time advances chunk by chunk
    (chunk c covers [c, c+1) * chunk_span_s) with up to disorder_s of
    jitter; one hot host takes hot_frac of the rows. When late_before_us is
    given, late_frac of the rows are planted strictly older than it (the
    watermark already reached), so the engine drops them whatever the batch
    grouping."""
    rng = np.random.default_rng([seed, c])
    hot = rng.random(rows) < hot_frac
    hosts = np.where(hot, 0, rng.integers(1, n_hosts, rows))
    base = BASE_TS_US + c * chunk_span_s * 1_000_000
    ts = base + rng.integers(0, chunk_span_s * 1_000_000, rows) \
        - rng.integers(0, disorder_s * 1_000_000 + 1, rows)
    on_time = np.ones(rows, dtype=bool)
    if late_before_us is not None:
        late = rng.random(rows) < late_frac
        ts = np.where(late, late_before_us - rng.integers(60, 3600, rows) * 1_000_000, ts)
        on_time = ~late
    words = rng.integers(3, 400, rows)
    texts = [f"doc {c}-{i} " + "w" * int(k) for i, k in enumerate(words)]
    table = pa.table(
        {
            "url": [f"https://{host_name(int(h))}/c{c}/{i}" for i, h in enumerate(hosts)],
            "warc_ts": ts_array(ts),
            "html": pa.nulls(rows, pa.binary()),
            "text": texts,
            "lang": [LANGS[int(h) % len(LANGS)] for h in hosts],
        },
        schema=PAGES_ARROW,
    )
    return LiveChunk(table, on_time)


# --------------------------------------------------------------------------
# enrichment stream (join workload)
# --------------------------------------------------------------------------
def enrichment(seed: int, n_hosts: int, updates_per_host: int, span_s: int) -> pa.Table:
    """Several timestamped category/score updates per host, in ts order.
    Timestamps are distinct, so "latest at or before" never has to break a
    tie (the engine and pandas.merge_asof break ties differently)."""
    rng = np.random.default_rng([seed, 7])
    k = np.repeat(np.arange(n_hosts), updates_per_host)
    ts = BASE_TS_US + rng.choice(span_s, len(k), replace=False) * 1_000_000
    order = np.lexsort((k, ts))
    k, ts = k[order], ts[order]
    return pa.table(
        {
            "host": [host_name(int(h)) for h in k],
            "ts": ts_array(ts),
            "category": [CATEGORIES[int(x)] for x in rng.integers(0, 5, len(k))],
            "score": np.round(rng.random(len(k)), 3),
        },
        schema=ENRICH_ARROW,
    )


# --------------------------------------------------------------------------
# documents corpus (batch workload)
# --------------------------------------------------------------------------
DOCS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)


def documents(seed: int, n: int, vocab_size: int = 3000) -> pa.Table:
    """Zipf-vocabulary documents with log-normal lengths and planted exact
    duplicates (~5%), near-duplicates (~5%, a few tokens swapped) and a
    shared boilerplate span in ~15% of documents."""
    rng = np.random.default_rng([seed, 11])
    vocab = vocabulary(vocab_size)
    ranks = np.arange(1, vocab_size + 1)
    p = 1.0 / ranks**1.07
    p /= p.sum()
    boiler = " ".join(vocab[j] for j in rng.integers(0, vocab_size, 12))
    lens = np.clip(rng.lognormal(3.6, 0.6, n).astype(int), 5, 400)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.10:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, vocab_size))]
            texts.append(" ".join(toks))
            continue
        body = " ".join(vocab[j] for j in rng.choice(vocab_size, int(lens[i]), p=p))
        if r > 0.85:
            body = body + " " + boiler
        texts.append(body)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": [LANGS[int(x)] for x in rng.integers(0, 3, n)],
            "source": [f"src{int(x)}" for x in rng.integers(0, 5, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        },
        schema=DOCS_ARROW,
    )
