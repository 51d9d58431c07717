"""Seeded pages generator owned by the benchmark.

Same schema and shape as FIXTURES.md section 1: ``(url, warc_ts, html, text,
lang)`` pages whose words follow a Zipf-like law over a 50k vocabulary, where
a share of the base pages get 1-4 near-duplicate variants (one token dropped,
swapped or appended, or one character edit in a late title token).  The
generator, not the engine, knows the true cluster of every page, so the
benchmark can score the linkage itself.

It is deliberately independent of ``py_stringsimjoin_spark.sources.pages``:
an edit there must not change the benchmark's inputs.  Everything here is
plain Python + pandas and runs before any timed section.
"""

from __future__ import annotations

import random

import pandas as pd

VOCAB_SIZE = 50_000
COMMON = (
    "the a of and to in is that for with data web page crawl index token "
    "rank merge shard fetch parse render link host path query cache store"
).split()
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh"]
DUP_FRACTION = 0.35  # base pages that get near-duplicate variants
DELTA_FRACTION = 0.02  # delta size as a share of the base pages
PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def _word(rng: random.Random) -> str:
    # log-uniform index: P(idx <= x) = log x / log V, a density of 1/x
    idx = int(VOCAB_SIZE ** rng.random())
    if idx <= len(COMMON):
        return COMMON[idx - 1]
    return f"w{idx:05d}"


def _perturb(rng: random.Random, title: str, body: str) -> tuple[str, str]:
    """One small edit; never touches the first title token (the blocking
    key of the labelled pairs)."""
    t = title.split()
    b = body.split()
    op = rng.randrange(4)
    if op == 0:
        b.pop(rng.randrange(1, len(b)))
    elif op == 1:
        i = rng.randrange(1, len(b) - 1)
        b[i], b[i + 1] = b[i + 1], b[i]
    elif op == 2:
        i = rng.randrange(1, len(t))
        w = t[i]
        j = rng.randrange(len(w))
        t[i] = w[:j] + rng.choice("xyz") + w[j + 1:]
    else:
        b.append(_word(rng))
    return " ".join(t), " ".join(b)


def _row(url: str, ts: int, title: str, body: str, lang: str, cid: int) -> tuple:
    html = (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body}</p></body></html>"
    ).encode("utf-8")
    return (url, ts, html, f"{title}\n{body}", lang, cid)


def _frame(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=PAGE_COLUMNS + ["cluster_id"])
    # microsecond UTC instants: what Spark reads back as TimestampType
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], unit="s", utc=True).astype("datetime64[us, UTC]")
    return df


class Corpus:
    """Base pages plus the delta batches that later fold into them.

    ``pages`` and every frame in ``deltas`` carry the ground-truth
    ``cluster_id`` column next to the page schema.  Each delta page is a
    fresh near-duplicate of a base page, so it merges into a cluster that
    already exists.
    """

    def __init__(self, seed: int, n_base: int, n_deltas: int = 0):
        rng = random.Random(f"linkbench:{seed}")
        rows = []
        bases = []
        for bid in range(n_base):
            title = " ".join(_word(rng) for _ in range(rng.randint(4, 8)))
            body = " ".join(_word(rng) for _ in range(rng.randint(30, 60)))
            host = f"site{rng.randrange(100)}.example.com"
            path = f"/{rng.choice(['a', 'b', 'c', 'docs', 'blog'])}/{bid}"
            lang = rng.choice(LANGS)
            bases.append((title, body, host, path, lang))
            ts = 1_600_000_000 + bid * 97
            rows.append(_row(f"https://{host}{path}", ts, title, body, lang, bid))
            if rng.random() < DUP_FRACTION:
                for v in range(1, rng.randint(1, 4) + 1):
                    t, b = _perturb(rng, title, body)
                    p = f"{path}-v{v}" if rng.random() < 0.5 else f"{path}?ref={v}"
                    rows.append(_row(f"https://{host}{p}", ts + v * 3600, t, b, lang, bid))
        self.pages = _frame(rows)
        per_delta = max(1, round(len(self.pages) * DELTA_FRACTION))
        self.deltas = []
        for d in range(n_deltas):
            drows = []
            for j in range(per_delta):
                bid = rng.randrange(n_base)
                title, body, host, path, lang = bases[bid]
                t, b = _perturb(rng, title, body)
                ts = 1_700_000_000 + d * 86_400 + j
                drows.append(_row(f"https://{host}{path}?d={d}-{j}", ts, t, b, lang, bid))
            self.deltas.append(_frame(drows))

    def title_slice(self, rng: random.Random, size: int) -> pd.DataFrame:
        """A seeded random slice of ``size`` pages as ``(url, title)``."""
        idx = rng.sample(range(len(self.pages)), size)
        sl = self.pages.iloc[sorted(idx)]
        return pd.DataFrame({
            "url": sl["url"].to_numpy(),
            "title": sl["text"].str.split("\n", n=1).str[0].to_numpy(),
        })


def labelled_pairs(pages: pd.DataFrame, seed: int) -> pd.DataFrame:
    """``(l_url, r_url, is_match)`` over pairs that share a blocking key,
    the first title token.

    Positives are every same-cluster pair.  Negatives are one seeded
    same-block, other-cluster partner per page where the block has one.
    """
    rng = random.Random(f"linkbench-pairs:{seed}")
    key = pages["text"].str.split(n=1).str[0]
    out = []
    for _, blk in pages.assign(_k=key).groupby("_k", sort=True):
        urls = blk["url"].tolist()
        cids = blk["cluster_id"].tolist()
        by_cid: dict[int, list[str]] = {}
        for u, c in zip(urls, cids):
            by_cid.setdefault(c, []).append(u)
        for members in by_cid.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    out.append((members[i], members[j], 1))
        if len(by_cid) < 2:
            continue
        for u, c in zip(urls, cids):
            for _ in range(4):
                k = rng.randrange(len(urls))
                if cids[k] != c:
                    out.append((u, urls[k], 0))
                    break
    df = pd.DataFrame(out, columns=["l_url", "r_url", "is_match"])
    lo = df[["l_url", "r_url"]].min(axis=1)
    hi = df[["l_url", "r_url"]].max(axis=1)
    df = pd.DataFrame({"l_url": lo, "r_url": hi, "is_match": df["is_match"]})
    return df.drop_duplicates(["l_url", "r_url"]).reset_index(drop=True)
