"""Unit tests for the benchmark's own helpers; no Spark session needed.

    python3 -m pytest linkbench -q
"""

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("n,expect", [
    (1, None), (19, None), (20, (50.0, 10)), (99, (50.0, 50)),
    (100, (90.0, 90)), (999, (90.0, 900)), (1000, (99.0, 990)),
    (10000, (99.9, 9990)),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expect):
    assert measure.tail_percentile(range(1, n + 1)) == expect


def test_timing_summary_states_sample_count():
    s = measure.timing_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": None}


def _span(i, name, a, b, parent=None):
    return spans.Span(i, name, a, b, parent, "r")


def test_self_time_subtracts_union_of_children():
    parent = _span(0, "op", 0.0, 10.0)
    kids = [_span(1, "a", 1.0, 3.0, 0), _span(2, "b", 2.0, 5.0, 0),
            _span(3, "c", 7.0, 8.0, 0), _span(4, "d", 9.5, 12.0, 0)]
    # covered: [1,5] + [7,8] + [9.5,10] = 5.5
    assert spans.self_time(parent, kids) == pytest.approx(4.5)
    assert spans.self_time(parent, []) == pytest.approx(10.0)


def _event_log(path):
    def task(stage, run_ms, **kw):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": run_ms, "JVM GC Time": kw.get("gc", 0),
                    "Disk Bytes Spilled": kw.get("spill", 0),
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": kw.get("sw", 0),
                                              "Shuffle Records Written": kw.get("sr", 0)},
                    "Output Metrics": {"Bytes Written": kw.get("out", 0)}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000, "Stage IDs": [0]},
        task(0, 2000, sw=100, sr=10),
        task(0, 1000, gc=500),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 102_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 104_000, "Stage IDs": [1, 2]},
        task(1, 4000, spill=7),
        task(2, 4000, out=42),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 108_000},
        # submitted outside every span: dropped
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 111_000, "Stage IDs": [3]},
        task(3, 9000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 112_000},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_jobs_are_attributed_to_the_innermost_span_by_submission_time(tmp_path):
    log = tmp_path / "app"
    _event_log(log)
    jobs, tasks = spans.read_event_log(str(log))
    assert sorted(jobs) == [0, 1, 2] and len(tasks) == 5
    tr = spans.Tracer("r")
    tr.spans = [_span(0, "op", 100.0, 110.0), _span(1, "join.plan", 100.0, 103.0, 0),
                _span(2, "join.exec", 103.0, 110.0, 0)]
    assert spans.attribute_jobs(tr.spans, jobs) == {0: [], 1: [0], 2: [1]}

    m = spans.spark_metrics(tr, jobs, tasks, cores=4)
    assert m[1]["jobs"] == 1 and m[1]["tasks"] == 2
    assert m[1]["task_s"] == pytest.approx(3.0)
    assert m[1]["gc_s"] == pytest.approx(0.5)
    assert m[1]["shuffle_records"] == 10 and m[1]["shuffle_write_bytes"] == 100
    # job 0 ran 101..102 inside a 3 s span
    assert m[1]["driver_gap_s"] == pytest.approx(2.0)
    assert m[1]["busy_ratio"] == pytest.approx(3.0 / (3.0 * 4))
    assert m[2]["jobs"] == 1 and m[2]["spill_bytes"] == 7 and m[2]["output_bytes"] == 42
    assert m[2]["driver_gap_s"] == pytest.approx(3.0)
    # a parent counts its children's jobs
    assert m[0]["jobs"] == 2 and m[0]["task_s"] == pytest.approx(11.0)
    assert m[0]["driver_gap_s"] == pytest.approx(5.0)


def test_pairwise_f1_on_a_hand_made_clustering():
    clusters = pd.DataFrame({"url": list("abcd"), "cluster_id": [1, 1, 1, 2]})
    labelled = pd.DataFrame({
        "l_url": ["a", "a", "c", "b", "a"],
        "r_url": ["b", "d", "d", "c", "x"],
        "is_match": [1, 0, 1, 0, 1],
    })
    # tp: a-b; fp: b-c; fn: c-d and a-x (x is unclustered); tn: a-d
    p, r = 1 / 2, 1 / 3
    assert measure.pairwise_f1(clusters, labelled) == pytest.approx(2 * p * r / (p + r))
    assert measure.pairwise_f1(clusters, labelled.iloc[:1]) == 1.0


def test_partition_ignores_cluster_ids():
    a = pd.DataFrame({"url": list("abcd"), "cluster_id": [1, 1, 2, 3]})
    b = pd.DataFrame({"url": list("abcd"), "cluster_id": ["x", "x", "y", "z"]})
    c = pd.DataFrame({"url": list("abcd"), "cluster_id": [1, 2, 2, 3]})
    assert measure.as_partition(a) == measure.as_partition(b)
    assert measure.as_partition(a) != measure.as_partition(c)


def test_rows_hash_is_order_free_and_value_sensitive():
    rows = [("a", "b", 0.5), ("c", "d", 1.0)]
    assert measure.rows_hash(rows) == measure.rows_hash(rows[::-1])
    assert measure.rows_hash(rows) != measure.rows_hash([("a", "b", 0.6), ("c", "d", 1.0)])
    assert measure.pair_f1({("a", "b")}, {("a", "b")}) == 1.0
    assert measure.pair_f1(set(), set()) == 1.0


def test_generator_is_seeded_and_labels_share_a_blocking_key():
    a = gen.Corpus(5, 200, n_deltas=2)
    b = gen.Corpus(5, 200, n_deltas=2)
    pd.testing.assert_frame_equal(a.pages, b.pages)
    pd.testing.assert_frame_equal(a.deltas[1], b.deltas[1])
    assert a.pages["url"].is_unique
    union = pd.concat([a.pages, *a.deltas], ignore_index=True)
    assert union["url"].is_unique
    # every delta page joins a cluster the base already has
    assert set(a.deltas[0]["cluster_id"]) <= set(a.pages["cluster_id"])
    lp = gen.labelled_pairs(union, 5)
    key = dict(zip(union["url"], union["text"].str.split(n=1).str[0]))
    assert (lp["l_url"].map(key) == lp["r_url"].map(key)).all()
    assert lp["is_match"].sum() > 0 and (lp["is_match"] == 0).sum() > 0


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
        higher = m["name"].endswith(run.HIGHER_IS_BETTER)
        assert m["better"] == ("higher" if higher else "lower")
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


def _brute_force_partition(pages, t):
    sets = [set(x.split()) for x in pages["text"]]
    parent = list(range(len(sets)))

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for i in range(len(sets)):
        for j in range(i):
            ov = len(sets[i] & sets[j])
            if ov / len(sets[i] | sets[j]) >= t:
                parent[find(i)] = find(j)
    return pd.DataFrame({"url": pages["url"], "cluster_id": [find(i) for i in range(len(sets))]})


def test_relink_is_transitive_and_equals_scoring_every_pair():
    pages = pd.DataFrame({
        "url": list("abcd"),
        # J(a,b) = 4/5, J(b,c) = 4/6, J(a,c) = 3/6 < 0.6: a~c only through b
        "text": ["p q r s", "p q r s t", "q r s t u", "x y z"],
    })
    part = measure.as_partition(oracle.relink(pages, 0.6))
    assert part == frozenset({frozenset("abc"), frozenset("d")})
    corpus = gen.Corpus(9, 150, n_deltas=1)
    union = pd.concat([corpus.pages, *corpus.deltas], ignore_index=True)
    assert measure.as_partition(oracle.relink(union, 0.6)) == measure.as_partition(
        _brute_force_partition(union, 0.6))


def test_gc_log_gives_heap_range_and_retained_heap_peak():
    log = [
        "[0.003s] Heap address: 0x0000000600000000, size: 8192 MB, Compressed Oops mode: Zero based",
        "[1.2s] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 400M->30M(8192M) 5.1ms",
        "[3.4s] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) 900M->1G(8192M) 9ms",
        # a remark pause leaves eden as it was: not a retained-heap reading
        "[3.9s] GC(1) Pause Remark 1500M->1400M(8192M) 2.0ms",
        "[5.0s] GC(2) Pause Full (System.gc()) 700M->120M(8192M) 40ms",
    ]
    heap, peak = measure.read_gc_log(log)
    assert heap == (0x600000000, 0x600000000 + 8192 * (1 << 20))
    assert peak == 1 << 30
    assert measure.read_gc_log(["[0.003s] Using G1"]) == (None, 0)


def test_pss_in_range_counts_only_mappings_inside_the_range():
    smaps = [
        "600000000-640000000 rw-p 00000000 00:00 0",
        "Size:            1048576 kB",
        "Pss:               40000 kB",
        "VmFlags: rd wr mr mw me ac",
        "640000000-800000000 ---p 00000000 00:00 0",
        "Pss:                   0 kB",
        "7f0000000000-7f0000100000 r-xp 00000000 08:01 42   /usr/lib/libjvm.so",
        "Pss:                 512 kB",
    ]
    assert measure.pss_in_range(smaps, 0x600000000, 0x800000000) == 40000 * 1024
    assert measure.pss_in_range(smaps, 0, 0x600000000) == 0
