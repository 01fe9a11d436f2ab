"""Synthetic Common-Crawl-style pages table (FIXTURES.md F1) and the
html ↔ text inversion invariant (BASELINE.json input_hint:
"byte-identical extracted text per url").

Schema: url:string, warc_ts:timestamp, html:binary, text:string,
lang:string.

Generation is *counter-based deterministic*: every random draw derives
from splitmix64(rowid ⊕ stream-constant), so output is identical for any
partitioning / parallelism level — required so the local[8] and
local[32] bench runs read the same logical table, and so checkpoint
resume reproduces partitions bit-for-bit. Hosts are Zipf(s=1.2)
distributed (intentionally skewed, like real crawl hosts); a dup_rate
fraction of rows repeat an earlier row's url.
"""

from __future__ import annotations

import html as _html
import re

import numpy as np
import pandas as pd

VOCAB = np.array(
    [f"w{i:03d}" for i in range(892)]
    + [
        "spark", "filter", "cuckoo", "bucket", "hash", "merge", "shuffle",
        "partition", "sketch", "bloom", "table", "query", "scan", "join",
        "batch", "vector", "arrow", "page", "crawl", "web", "url", "text",
        "data", "key", "tag", "index", "slot", "kick", "victim", "load",
        "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
        "this", "that", "from", "by", "at", "as", "it", "or", "be", "are",
        "was", "were", "has", "have", "had", "not", "but", "what", "all",
        "can", "her", "would", "there", "their", "will", "each", "about",
        "how", "up", "out", "them", "then", "she", "many", "some", "so",
        "these", "other", "into", "more", "two", "like", "him", "see",
        "time", "could", "no", "make", "than", "first", "been", "its",
        "who", "now", "people", "my", "made", "over", "did", "down",
        "only", "way", "find", "use", "may", "water", "long", "little",
    ],
    dtype=object,
)
assert len(VOCAB) == 1000

LANGS = np.array(["en", "zh", "de", "fr", "es"], dtype=object)
LANG_CDF = np.cumsum([0.6, 0.15, 0.1, 0.1, 0.05])
TLDS = np.array(["com", "org", "net"], dtype=object)

_U64 = np.uint64
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based deterministic u64 stream (public splitmix64 mix)."""
    z = x.astype(np.uint64) + _U64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _uniform(rowid: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic U(0,1) per row/stream."""
    h = splitmix64(rowid.astype(np.uint64) ^ _U64(stream * 0xA5A5A5A5DEADBEEF & 0xFFFFFFFFFFFFFFFF))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def zipf_cdf(n_hosts: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_hosts + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


_B36_DIGITS = np.array(list("0123456789abcdefghijklmnopqrstuvwxyz"), dtype="U1")


def _b36_vec(arr: np.ndarray) -> np.ndarray:
    """Vectorized base36 of non-negative ints (== np.base_repr(n, 36)
    lowercased) — the pages and urls-only generators MUST emit the SAME
    url for the same (rowid, seed) or cross-fixture probes silently
    mismatch, and the urls-only path cannot afford a per-row Python
    base_repr loop at scaling-bench row counts."""
    a = np.asarray(arr).astype(np.uint64)
    if a.size == 0:
        return np.empty(0, dtype="U13")
    m = int(a.max())
    nd = 1
    while 36 ** nd <= m:
        nd += 1
    out = np.full(a.shape, "", dtype=f"U{nd}")
    x = a.copy()
    for _ in range(nd):  # least-significant first
        out = np.char.add(_B36_DIGITS[(x % np.uint64(36)).astype(np.int64)], out)
        x //= np.uint64(36)
    out = np.char.lstrip(out, "0")
    return np.where(out == "", "0", out)


def _gen_batch(rowids: np.ndarray, n_hosts: int, dup_rate: float, seed: int) -> pd.DataFrame:
    rid = rowids.astype(np.uint64) ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)

    # duplicate urls: dup rows point at an earlier rowid's url
    is_dup = (_uniform(rid, 1) < dup_rate) & (rowids > 0)
    src_row = (np.floor(_uniform(rid, 2) * np.maximum(rowids, 1))).astype(np.int64)
    url_row = np.where(is_dup, src_row, rowids)
    url_rid = url_row.astype(np.uint64) ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)

    cdf = zipf_cdf(n_hosts)
    host_rank = np.searchsorted(cdf, _uniform(url_rid, 3), side="right")
    tld = TLDS[(splitmix64(url_rid ^ _U64(5)) % _U64(3)).astype(np.int64)]
    base36 = _b36_vec(url_row)
    urls = [
        f"https://host{int(h)}.example.{t}/p/{b}"
        for h, t, b in zip(host_rank, tld, base36)
    ]

    # text: seeded word salad, lognormal(5.5, 1.0) char length, ~2% empty
    u_len = _uniform(rid, 7)
    u_len2 = _uniform(rid, 8)
    # Box-Muller normal from two uniforms
    normal = np.sqrt(-2.0 * np.log(np.clip(u_len, 1e-12, 1))) * np.cos(2 * np.pi * u_len2)
    n_chars = np.exp(5.5 + 1.0 * normal).astype(np.int64)
    n_chars = np.clip(n_chars, 0, 20000)
    empty = _uniform(rid, 9) < 0.02
    n_chars[empty] = 0

    avg_word = 5  # ~"w123 " ≈ 5 chars
    n_words = np.maximum(n_chars // avg_word, 0)
    texts = []
    for k, (r, nw, nc) in enumerate(zip(rid, n_words, n_chars)):
        if nc == 0:
            texts.append("")
            continue
        widx = splitmix64(np.uint64(r) + np.arange(int(nw) + 1, dtype=np.uint64) * _U64(0x2545F4914F6CDD1D)) % _U64(1000)
        words = VOCAB[widx.astype(np.int64)]
        t = " ".join(words)[: int(nc)]
        t = t.rstrip()
        # occasional paragraph breaks (deterministic): every ~120 chars
        if len(t) > 240:
            parts = [t[i : i + 200] for i in range(0, len(t), 200)]
            t = "\n".join(parts)
        texts.append(t)

    lang = LANGS[np.searchsorted(LANG_CDF, _uniform(rid, 11), side="right").clip(0, 4)]
    ts = pd.Timestamp("2025-01-01T00:00:00") + pd.to_timedelta(rowids, unit="s")
    htmls = [wrap_html(u.split("/")[2], t).encode("utf-8") for u, t in zip(urls, texts)]

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": lang,
        }
    )


def wrap_html(host: str, text: str) -> str:
    """Deterministic, exactly-invertible HTML wrapper (FIXTURES.md F1)."""
    paras = text.split("\n")
    body = "".join(f"<p>{_html.escape(p, quote=False)}</p>" for p in paras)
    return f"<html><head><title>{host}</title></head><body>{body}</body></html>"


_P_RE = re.compile(r"<p>(.*?)</p>", re.S)


def extract_text_series(html_bytes: pd.Series) -> pd.Series:
    """Vectorized-ish inversion: html binary → original text, byte-identical."""
    def one(b: bytes) -> str:
        s = b.decode("utf-8") if isinstance(b, (bytes, bytearray)) else str(b)
        paras = _P_RE.findall(s)
        return "\n".join(_html.unescape(p) for p in paras)

    return html_bytes.map(one)


def extract_text(html_str: bytes | str) -> str:
    return extract_text_series(pd.Series([html_str])).iloc[0]


def _gen_urls(rowids: np.ndarray, n_hosts: int, dup_rate: float, seed: int) -> pd.DataFrame:
    """urls-only generation, fully vectorized (no per-row Python) — used
    by the large scaling benches where text/html aren't needed."""
    rid = rowids.astype(np.uint64) ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)
    is_dup = (_uniform(rid, 1) < dup_rate) & (rowids > 0)
    src_row = (np.floor(_uniform(rid, 2) * np.maximum(rowids, 1))).astype(np.int64)
    url_row = np.where(is_dup, src_row, rowids)
    url_rid = url_row.astype(np.uint64) ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)
    cdf = zipf_cdf(n_hosts)
    host_rank = np.searchsorted(cdf, _uniform(url_rid, 3), side="right")
    tld = TLDS[(splitmix64(url_rid ^ _U64(5)) % _U64(3)).astype(np.int64)]
    urls = np.char.add(
        np.char.add(
            np.char.add(
                np.char.add("https://host", host_rank.astype("U8")), ".example."
            ),
            tld.astype("U3"),
        ),
        # base36, SAME as _gen_batch: the two generators must spell the
        # same url for the same (rowid, seed) — this path used decimal
        # until r5, silently diverging from the pages table
        np.char.add("/p/", _b36_vec(url_row)),
    )
    return pd.DataFrame({"url": urls})


def synth_urls(
    spark,
    n_rows: int,
    n_hosts: int = 10000,
    dup_rate: float = 0.10,
    seed: int = 42,
    num_partitions: int | None = None,
):
    """Distributed urls-only table (vectorized generation)."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_rows, 1, num_partitions)

    def gen(batches):
        for pdf in batches:
            yield _gen_urls(pdf["id"].to_numpy(), n_hosts, dup_rate, seed)

    return base.mapInPandas(gen, "url string")


def synth_pages(
    spark,
    n_rows: int,
    n_hosts: int = 1000,
    dup_rate: float = 0.10,
    seed: int = 42,
    num_partitions: int | None = None,
):
    """Distributed deterministic pages table as a Spark DataFrame."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_rows, 1, num_partitions)

    def gen(batches):
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), n_hosts, dup_rate, seed)

    return base.mapInPandas(
        gen, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
