import json
import os

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline, Stage, pairwise_f1
from py_stringsimjoin_spark.sources.pages import (
    extract_text,
    generate_pages,
    labeled_pairs,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, n_base=120, dup_fraction=0.4, seed=42).persist()
    df.count()
    return df


def test_pages_deterministic_and_invariant(spark, pages):
    # deterministic across partitioning
    again = generate_pages(spark, n_base=120, dup_fraction=0.4, seed=42, num_partitions=7)
    a = {r["url"]: r["text"] for r in pages.collect()}
    b = {r["url"]: r["text"] for r in again.collect()}
    assert a == b
    # per-row invariant: extract_text(html) == text, byte-identical
    for r in pages.limit(50).collect():
        assert extract_text(bytes(r["html"])) == r["text"]


def test_pipeline_end_to_end_f1(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    clusters = pipe.run(pages.drop("cluster_id"))
    labels = labeled_pairs(pages).persist()
    f1 = pairwise_f1(clusters, labels)
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99"
    m = pipe.metrics()
    assert m["03_scoring"]["candidate_pairs_per_sec"] > 0
    # the candidate count comes from the blocking manifest, not a recount
    n_cand = spark.read.parquet(os.path.join(wd, "02_blocking")).count()
    assert m["03_scoring"]["candidates_scored"] == n_cand
    assert m["02_blocking"]["n_rows"] >= m["03_scoring"]["n_rows"]


def test_pipeline_resume_skips_done_stages(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline_resume"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pages_in = pages.drop("cluster_id")
    pipe.run(pages_in)
    m1 = pipe.metrics()
    # second run must reuse manifests (same fingerprints, no rewrite)
    mtimes = {
        n: os.path.getmtime(os.path.join(wd, f"{n}.manifest.json"))
        for n in ("01_extract", "02_blocking", "03_scoring", "04_clusters")
    }
    pipe2 = LinkagePipeline(spark, wd, threshold=0.6)
    pipe2.run(pages_in)
    for n, t in mtimes.items():
        assert os.path.getmtime(os.path.join(wd, f"{n}.manifest.json")) == t, n
    # changing a param invalidates downstream stages
    pipe3 = LinkagePipeline(spark, wd, threshold=0.7)
    pipe3.run(pages_in)
    assert pipe3.metrics()["02_blocking"]["fingerprint"] != m1["02_blocking"]["fingerprint"]


def test_manifest_lineage_fields(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline_m"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.extract(pages.drop("cluster_id"))
    with open(os.path.join(wd, "01_extract.manifest.json")) as f:
        m = json.load(f)
    assert m["n_rows"] > 0
    assert m["n_partitions"] >= 1
    # partition lineage is capped: top-N heaviest partitions verbatim plus
    # quantile stats — bounded driver traffic at any partition count
    assert len(m["partition_rows"]) <= Stage.TOP_PARTITIONS
    assert sum(m["partition_rows"].values()) <= m["n_rows"]
    stats = m["partition_row_stats"]
    assert stats["max"] == max(m["partition_rows"].values())
    assert stats["min"] >= 0 and stats["p50"] <= stats["max"]
    if m["n_partitions"] <= Stage.TOP_PARTITIONS:
        assert sum(m["partition_rows"].values()) == m["n_rows"]


def test_pages_table_io_roundtrip(spark, tmp_path):
    from py_stringsimjoin_spark.sources.io import read_pages_table, write_pages_table
    from py_stringsimjoin_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 50, seed=7)
    out = str(tmp_path / "pages_pq")
    write_pages_table(pages, out, bucket_cols=["url"], n_buckets=4)
    back = read_pages_table(spark, out)
    assert back.count() == pages.count()
    assert set(c for c in ["url", "warc_ts", "html", "text", "lang"]) <= set(back.columns)
