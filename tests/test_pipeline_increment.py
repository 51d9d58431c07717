"""Incremental pipeline: increment(delta) ≡ full run over (base ∪ delta)."""

import os

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline
from py_stringsimjoin_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_pages(spark, n_base=100, dup_fraction=0.5, seed=7).persist()
    df.count()
    return df


def _clusters_dict(df):
    return {r.url: r.cluster_id for r in df.collect()}


def test_increment_equals_full_run(spark, corpus, tmp_path_factory):
    pages = corpus.drop("cluster_id")
    # split on a deterministic url hash: ~70% base crawl, ~30% increment
    is_base = F.abs(F.xxhash64("url")) % 10 < 7
    base, delta = pages.where(is_base), pages.where(~is_base)

    wd_inc = str(tmp_path_factory.mktemp("pipe_inc"))
    pipe = LinkagePipeline(spark, wd_inc, threshold=0.6)
    pipe.run(base)
    got = _clusters_dict(pipe.increment(delta))

    wd_full = str(tmp_path_factory.mktemp("pipe_full"))
    want = _clusters_dict(
        LinkagePipeline(spark, wd_full, threshold=0.6).run(pages)
    )
    assert got == want
    # and the manifest records the increment epoch
    m = pipe.metrics()
    assert m["04_clusters"]["increment"] == 1
    # the rewritten manifests name the renamed stage dirs, not the
    # deleted ``__next`` ones
    for name in ("01_extract", "04_clusters"):
        assert m[name]["path"] == os.path.join(wd_inc, name)
        assert os.path.isdir(m[name]["path"])


def test_second_increment_and_recrawl_dedup(spark, corpus, tmp_path_factory):
    pages = corpus.drop("cluster_id")
    h = F.abs(F.xxhash64("url")) % 10
    p1, p2, p3 = pages.where(h < 5), pages.where(h.between(5, 7)), pages.where(h > 7)

    wd = str(tmp_path_factory.mktemp("pipe_inc2"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.run(p1)
    pipe.increment(p2)
    # recrawl overlap: second increment re-delivers some of p2 — the
    # append-only corpus must keep one row per url
    got = _clusters_dict(pipe.increment(p3.unionByName(p2.limit(20))))

    wd_full = str(tmp_path_factory.mktemp("pipe_full2"))
    want = _clusters_dict(
        LinkagePipeline(spark, wd_full, threshold=0.6).run(pages)
    )
    assert got == want
    assert pipe.metrics()["04_clusters"]["increment"] == 2


def test_pipeline_title_blocking(spark, corpus, tmp_path_factory):
    """join_attr='title' runs end to end: blocking/scoring/clustering on
    the extracted <title> (the north star blocks on titles/urls/text)."""
    from py_stringsimjoin_spark.sources.pages import extract_title

    pages = corpus.drop("cluster_id")
    wd = str(tmp_path_factory.mktemp("pipe_title"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6, join_attr="title")
    clusters = pipe.run(pages)
    assert clusters.count() == pages.count()
    # extract stage emits the title column, byte-equal to the pure fn
    ext = spark.read.parquet(f"{wd}/01_extract")
    assert "title" in ext.columns
    row = ext.orderBy("url").first()
    html = pages.where(F.col("url") == row.url).first().html
    assert extract_title(bytes(html)) == row.title
    # title-blocked clustering still groups the seeded near-dups
    n_nontrivial = (
        clusters.groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    assert n_nontrivial > 0
