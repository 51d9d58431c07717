"""Reference answers computed without the engine: DuckDB brute force for
the join requests, and a plain-Python full re-link for the linkage.

The set-similarity oracle scores every pair that shares at least one
whitespace token (a pair sharing none scores 0 and can meet no positive
threshold); the edit-distance oracle runs Levenshtein over every pair whose
lengths differ by at most the threshold.  Both conditions are necessary for
a match, so each answer equals scoring every pair.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

SCORES = {
    "jaccard": "ov::DOUBLE / (ls + rs - ov)",
    "cosine": "ov::DOUBLE / sqrt((ls * rs)::DOUBLE)",
    "dice": "(2 * ov)::DOUBLE / (ls + rs)",
}

_TOKENS = (
    "list_distinct(list_filter(string_split_regex(trim(title), '\\s+'), "
    "t -> t <> ''))"
)


def join_rows(temp_dir: str, kind: str, threshold: float, left: pd.DataFrame,
              right: pd.DataFrame) -> list[tuple]:
    """``(l_url, r_url, score)`` rows of one request.  Runs after the
    session has ended, so DuckDB may use every core."""
    if kind == "edit_distance":
        sql = f"""
SELECT l.url, r.url, levenshtein(l.title, r.title)::DOUBLE
FROM lq l JOIN rq r
  ON abs(length(l.title) - length(r.title)) <= {int(threshold)}
WHERE levenshtein(l.title, r.title) <= {int(threshold)}"""
    else:
        sql = f"""
WITH lt AS (SELECT url, {_TOKENS} AS toks FROM lq WHERE title IS NOT NULL),
     rt AS (SELECT url, {_TOKENS} AS toks FROM rq WHERE title IS NOT NULL),
     lu AS (SELECT url, len(toks) AS sz, unnest(toks) AS tok FROM lt),
     ru AS (SELECT url, len(toks) AS sz, unnest(toks) AS tok FROM rt),
     pairs AS (
       SELECT a.url AS l_url, b.url AS r_url, count(*) AS ov,
              any_value(a.sz) AS ls, any_value(b.sz) AS rs
       FROM lu a JOIN ru b ON a.tok = b.tok
       GROUP BY 1, 2)
SELECT l_url, r_url, {SCORES[kind]} FROM pairs
WHERE {SCORES[kind]} >= {threshold}"""
    os.makedirs(temp_dir, exist_ok=True)
    with duckdb.connect() as con:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        con.register("lq", left)
        con.register("rq", right)
        return con.execute(sql).fetchall()


def relink(pages: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Full re-link of ``pages``: connected components over every pair whose
    whitespace-token sets have Jaccard >= ``threshold``, as
    ``(url, cluster_id)``.

    Candidates come from the prefix filter (a pair with J >= t shares a token
    among the first |x| - ceil(t|x|) + 1 tokens of each set, in any fixed
    global order); every candidate is then scored exactly.  The filter is
    lossless, so the result equals scoring all pairs.
    """
    toks = [sorted(set(t.split())) for t in pages["text"]]
    df: dict[str, int] = {}
    for ts in toks:
        for t in ts:
            df[t] = df.get(t, 0) + 1
    sets = [set(ts) for ts in toks]
    index: dict[str, list[int]] = {}
    parent = list(range(len(toks)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, ts in enumerate(toks):
        ts = sorted(ts, key=lambda t: (df[t], t))
        n = len(ts)
        # the 1e-9 keeps 0.6 * 35 from rounding up to 22: a longer prefix
        # is always safe, a shorter one could miss a pair
        prefix = n - math.ceil(threshold * n - 1e-9) + 1
        seen = set()
        for t in ts[:prefix]:
            for j in index.get(t, ()):
                if j in seen:
                    continue
                seen.add(j)
                ov = len(sets[i] & sets[j])
                if ov / (n + len(sets[j]) - ov) >= threshold:
                    parent[find(i)] = find(j)
            index.setdefault(t, []).append(i)
    urls = pages["url"].tolist()
    return pd.DataFrame({"url": urls,
                         "cluster_id": [urls[find(i)] for i in range(len(urls))]})
