"""Round-3 feature tests: dense-_id parity conf, shuffle-partitions knob,
scoped cache registry, tokenize-once matcher cache, converter type guard,
bucketed parquet writes, checkpointed connected components."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer
from py_stringsimjoin_spark.operators.set_sim_join import (
    jaccard_join,
    set_sim_join_pairs,
)
from py_stringsimjoin_spark.plans.cache import (
    _ENGINE_CACHES,
    engine_cache_scope,
    persist_tracked,
)


def test_dense_id_conf_gives_reference_layout(spark, person_tables):
    """With spark.py_stringsimjoin.parity.denseId=true every join emits the
    reference's exact column layout
    [_id, l_key, r_key, l_out..., r_out..., _sim_score]
    (reference utils/generic_helper.py:43-60 builds it; jaccard_join_py.py
    :210-211 inserts _id unconditionally)."""
    A, B = person_tables
    spark.conf.set("spark.py_stringsimjoin.parity.denseId", "true")
    try:
        out = jaccard_join(
            A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.3,
            l_out_attrs=["name"], r_out_attrs=["name"],
        )
        assert out.columns == ["_id", "l_ID", "r_ID", "l_name", "r_name", "_sim_score"]
        ids = sorted(r["_id"] for r in out.select("_id").collect())
        assert ids == list(range(len(ids)))  # dense 0..n-1
    finally:
        spark.conf.set("spark.py_stringsimjoin.parity.denseId", "false")
    # explicit per-call False overrides the conf
    spark.conf.set("spark.py_stringsimjoin.parity.denseId", "true")
    try:
        out2 = jaccard_join(
            A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.3,
            add_dense_id=False,
        )
        assert "_id" not in out2.columns
    finally:
        spark.conf.set("spark.py_stringsimjoin.parity.denseId", "false")


def test_shuffle_partitions_knob_pins_exchange(spark, person_tables):
    """set_sim_join_pairs(shuffle_partitions=N) must size the token join's
    exchange from N instead of the session spark.sql.shuffle.partitions.
    With hot tokens present, salted_token_join widens the pin to
    max(N, min(2*n_buckets, 8*N)) so heavy (token, salt) buckets bin-pack —
    the contract is therefore an exchange count in [N, 8N] that is not the
    session default (4 in this fixture)."""
    import re

    A, _ = person_tables
    pairs = set_sim_join_pairs(
        "jaccard", A, A, "ID", "ID", "name", "name", WhitespaceTokenizer(),
        0.1, value_dedup=False, strategy="prefix", shuffle_partitions=13,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan
    counts = {int(n) for n in re.findall(r"hashpartitioning\([^()]*, (\d+)\)", plan)}
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert any(13 <= c <= 8 * 13 and c != sess for c in counts), (counts, plan)
    # and the result is still correct (same rows as the default plan)
    base = set_sim_join_pairs(
        "jaccard", A, A, "ID", "ID", "name", "name", WhitespaceTokenizer(),
        0.1, value_dedup=False, strategy="prefix",
    )
    got = {tuple(r) for r in pairs.collect()}
    want = {tuple(r) for r in base.collect()}
    assert got == want and len(got) > 0


def test_engine_cache_scope_releases_only_scoped(spark):
    df_outer = persist_tracked(spark.range(10))
    n_before = len(_ENGINE_CACHES)
    with engine_cache_scope() as scoped_count:
        df_inner = persist_tracked(spark.range(20))
        df_inner.count()
        assert scoped_count() == 1
        assert df_inner.storageLevel.useMemory
    # inner cache released, outer untouched, registry restored
    assert not df_inner.storageLevel.useMemory
    assert len(_ENGINE_CACHES) == n_before
    df_outer.count()
    assert df_outer.storageLevel.useMemory
    df_outer.unpersist()
    _ENGINE_CACHES.remove(df_outer)


def test_apply_matcher_tokenizes_each_value_once(spark, person_tables):
    """Dup-heavy candsets must tokenize each distinct value once per batch
    (the reference's cache heuristic, apply_matcher.py:181-194). The batch
    kernel is a module-level factory, so the cache behavior is unit-tested
    directly; the distributed path is covered by the oracle parity suite."""
    from py_stringsimjoin_spark.operators.matcher import (
        _make_score_batch,
        apply_matcher,
    )

    calls = []

    class CountingTokenizer(WhitespaceTokenizer):
        def tokenize(self, s):
            calls.append(s)
            return super().tokenize(s)

    tok = CountingTokenizer()

    def sim(l_toks, r_toks):
        ls, rs = set(l_toks), set(r_toks)
        return len(ls & rs) / len(ls | rs) if (ls or rs) else 1.0

    # one batch, 50 duplicate pairs: exactly 2 tokenize calls (one/value)
    score = _make_score_batch(tok, sim)
    out = score(["Kevin Smith"] * 50, ["Kevin Smth"] * 50)
    assert len(out) == 50
    assert len(calls) == 2
    # the measure-name path uses the same cache
    calls.clear()
    score2 = _make_score_batch(tok, "jaccard")
    out2 = score2(["a b c"] * 30, ["a b d"] * 30)
    assert len(out2) == 30 and abs(out2[0] - 0.5) < 1e-12
    assert len(calls) == 2

    # end-to-end distributed path still works with a dup-heavy candset
    A, B = person_tables
    cand = spark.createDataFrame(
        [(i, "a1", "b2") for i in range(50)], "pair_id long, l_id string, r_id string"
    ).coalesce(1)
    rows = apply_matcher(
        cand, "l_id", "r_id", A, B, "ID", "ID", "name", "name",
        WhitespaceTokenizer(), sim, 0.1,
    ).collect()
    assert len(rows) == 50


def test_series_to_str_rejects_bool_and_datetime():
    from py_stringsimjoin_spark.functions.converters import series_to_str

    with pytest.raises(TypeError):
        series_to_str(pd.Series([True, False]), inplace=False)
    with pytest.raises(TypeError):
        series_to_str(pd.Series(pd.to_datetime(["2026-01-01"])), inplace=False)


def test_bucketed_parquet_write_creates_bucket_dirs(spark, tmp_path):
    from py_stringsimjoin_spark.sources.io import read_pages_table, write_pages_table

    df = spark.range(100).select(
        F.concat(F.lit("http://x/"), F.col("id")).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
    )
    target = str(tmp_path / "pages_bucketed")
    write_pages_table(df, target, bucket_cols=["url"], n_buckets=4)
    dirs = sorted(d for d in os.listdir(target) if d.startswith("_bucket="))
    assert len(dirs) > 0  # directory partitioning actually applied
    back = read_pages_table(spark, target)
    assert back.count() == 100
    assert set(back.columns) >= {"url", "text", "lang", "_bucket"}


@pytest.mark.parametrize("path", ["local", "star"])
def test_connected_components_with_reliable_checkpoint(
    spark, tmp_path, monkeypatch, path
):
    from py_stringsimjoin_spark.operators import connected_components as cc

    if path == "star":
        monkeypatch.setattr(cc, "LOCAL_EDGES", -1)
    ckdir = str(tmp_path / "ck")
    old = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (30, 31)], "src long, dst long"
        )
        out = {(r["node"], r["component"]) for r in cc.connected_components(edges).collect()}
        assert out == {
            (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (30, 30), (31, 30),
        }
        assert os.path.exists(ckdir) and len(os.listdir(ckdir)) > 0
    finally:
        if old:
            spark.sparkContext.setCheckpointDir(old)


def test_long_token_sets_use_rejoin_verify_and_match_bruteforce(spark):
    """Token sets averaging >64 tokens take the candidates-distinct →
    rejoin-arrays verify plan (carrying 80-token arrays through the prefix
    explode would replicate them prefix-length times); short sets verify
    inline. Both must produce identical, brute-force-correct output."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    # 10 clusters of 6 near-duplicates: each cluster shares a 70-token core,
    # each row adds ~10 private tokens → within-cluster jaccard ≈ 0.55
    for c in range(10):
        core = rng.sample(vocab, 70)
        for j in range(6):
            noise = rng.sample(vocab, 10)
            rows.append((c * 10 + j, " ".join(core + noise)))
    df = spark.createDataFrame(rows, "id long, txt string")
    out = set_sim_join_pairs(
        "jaccard", df, df, "id", "id", "txt", "txt",
        WhitespaceTokenizer(), 0.3, allow_empty=False, self_join_dedup=True,
        value_dedup=False, strategy="prefix",
    )
    got = {(r["_l_key"], r["_r_key"], round(r["_sim_score"], 12)) for r in out.collect()}
    sets = {i: set(t.split()) for i, t in rows}
    exp = set()
    for li, lt in sets.items():
        for ri, rt in sets.items():
            if li < ri:
                j = len(lt & rt) / len(lt | rt)
                if j >= 0.3:
                    exp.add((li, ri, round(j, 12)))
    assert got == exp and len(got) > 0
