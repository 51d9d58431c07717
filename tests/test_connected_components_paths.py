"""connected_components: the driver-side small-graph path and the star
rounds return the same rows, and a small graph costs a bounded number of
Spark jobs."""

import hashlib
import random

import pytest

from py_stringsimjoin_spark.operators import connected_components as cc


def _random_edges(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]


def _as_str(i):
    # mixes ASCII, 2-byte and 3-byte UTF-8 ids: code-point order must
    # agree with Spark's UTF-8 byte order
    return ("n", "é", "z", "日")[i % 4] + str(i)


def _as_bin(i):
    # md5 digests: half start with a byte >= 0x80 (unsigned order)
    return hashlib.md5(str(i).encode()).digest()


def _map(edges, f):
    return [(None if a is None else f(a), None if b is None else f(b)) for a, b in edges]


_PERM = random.Random(5).sample(range(1000), 64)

_MESSY = [(1, 2), (2, 1), (1, 2), (3, 3), (4, None), (None, 5), (None, None),
          (6, 7), (7, 8), (8, 6), (9, 9), (10, 2)]

CASES = {
    "random_sparse": (_random_edges(1, 80, 60), "long"),
    "random_dense": (_random_edges(2, 40, 120), "long"),
    "chain64": ([(i, i + 1) for i in range(63)], "long"),
    "chain64_reversed_int": ([(i + 1, i) for i in reversed(range(63))], "int"),
    "chain64_shuffled_ids": (list(zip(_PERM, _PERM[1:])), "long"),
    "messy": (_MESSY, "long"),
    "random_string": (_map(_random_edges(3, 60, 70), _as_str), "string"),
    "messy_string": (_map(_MESSY, _as_str), "string"),
    "random_binary": (_map(_random_edges(4, 60, 70), _as_bin), "binary"),
    "messy_binary": (_map(_MESSY, _as_bin), "binary"),
    "empty": ([], "long"),
}


def _reference(edges):
    """Plain union-find, component = min node id."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_and_star_paths_agree(spark, monkeypatch, case):
    edges, id_type = CASES[case]
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")

    rounds = []
    large_star = cc._large_star
    monkeypatch.setattr(cc, "_large_star", lambda e: rounds.append(1) or large_star(e))

    def run():
        rounds.clear()
        out = sorted(tuple(r) for r in cc.connected_components(df).collect())
        return out, len(rounds)

    local, local_rounds = run()
    # -1 sends every graph, the empty one included, to the star rounds
    monkeypatch.setattr(cc, "LOCAL_EDGES", -1)
    star, star_rounds = run()
    assert local_rounds == 0 and star_rounds > 0
    assert local == star == _reference(edges)


def test_unordered_id_types_use_star_rounds(spark, monkeypatch):
    monkeypatch.setattr(cc, "_min_labels", lambda *a: pytest.fail("labelled locally"))
    df = spark.createDataFrame([(1.5, 2.5), (2.5, 0.5)], "src double, dst double")
    out = cc.connected_components(df)
    assert sorted(tuple(r) for r in out.collect()) == [(0.5, 0.5), (1.5, 0.5), (2.5, 0.5)]


def test_small_graph_job_count(spark):
    """A small graph is one checkpoint job plus one bounded fetch — a
    regression back to per-round star jobs (2 per round, 6+ rounds on this
    chain) fails the bound."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    group = "test_small_graph_job_count"
    sc.setJobGroup(group, "connected_components on a 64-node chain")
    try:
        rows = cc.connected_components(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 64 and {r["component"] for r in rows} == {0}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
