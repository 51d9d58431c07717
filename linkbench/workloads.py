"""The two workloads.  Each drives the engine only through its public calls
and records a span around every call it makes.

``link``: the paper's user flow.  One timed operation links a crawl of
pages (extract, blocking, scoring, clustering) and then folds in the next
crawl's ~2% delta with ``increment``.  Row-level blocking, the scoring
verify and connected components do most of the work in the first part; the
second part is a two-table new-vs-all join, ``update_components`` and the
rewrite of two stages.  It runs on a fresh JVM, as a spark-submit of the
pipeline does, so it has no warm pass.

``join_requests``: one client in a closed loop sends small public-API joins
of a few hundred query pages against a ~2k-page reference slice.  Plan-time
jobs and driver gaps dominate; the pipeline, the matcher and connected
components are bypassed.

A workload has ``load`` (bind the inputs to a session), ``warm`` (the
untimed pass of the set-up), ``op`` (one timed operation), ``check`` (the
correctness checks of one operation, run after the timed loop) and
``layer_metrics``.  ``CYCLE`` is the number of operations after which the
mix of operations repeats; the timed loop stops only at a cycle boundary.
"""

from __future__ import annotations

import json
import os
import random

import pandas as pd

import gen
import measure
import oracle

STAGES = ("extract", "blocking", "scoring", "clustering")
STAGE_DIRS = {"extract": "01_extract", "blocking": "02_blocking",
              "scoring": "03_scoring", "clustering": "04_clusters"}


def _bytes(path: str) -> int:
    return measure.dir_bytes(path) if os.path.isdir(path) else os.path.getsize(path)


def _children(tracer, recs: list[dict], name: str) -> list:
    return [s for r in recs for s in tracer.children(tracer.spans[r["span"]])
            if s.name == name]


class Link:
    name = "link"
    CYCLE = 1
    N_BASE = 1500
    THRESHOLD = 0.6

    def __init__(self, work: str, seed: int):
        self.work = work
        self.paths = {}
        corpus = gen.Corpus(seed, self.N_BASE, n_deltas=1)
        self._write("pages", corpus.pages)
        self._write("delta", corpus.deltas[0])
        union = pd.concat([corpus.pages, corpus.deltas[0]], ignore_index=True)
        self.labelled = gen.labelled_pairs(union, seed)
        self.reference = oracle.relink(union, self.THRESHOLD)
        self.n_pages, self.n_delta = len(corpus.pages), len(corpus.deltas[0])
        self.delta_bytes = _bytes(self.paths["delta"])
        self.input_bytes = _bytes(self.paths["pages"]) + self.delta_bytes

    def _write(self, name: str, df: pd.DataFrame) -> None:
        self.paths[name] = os.path.join(self.work, f"{name}.parquet")
        df[gen.PAGE_COLUMNS].to_parquet(self.paths[name], index=False)

    def sizes(self) -> dict:
        return {"base_pages": self.n_pages, "delta_pages": self.n_delta,
                "labelled_pairs": len(self.labelled),
                "input_bytes": self.input_bytes}

    def load(self, spark) -> None:
        spark.read.parquet(self.paths["pages"]).count()
        spark.read.parquet(self.paths["delta"]).count()

    def warm(self, spark) -> None:
        """No warm pass: each run of the pipeline is a fresh spark-submit,
        so the first link in a JVM is what its user waits for.  A warm pass
        would also cost about as much as the operation (tens of seconds,
        mostly per-job overhead, even on a 150-page corpus)."""

    def op(self, spark, tracer, k: int) -> dict:
        from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline

        wd = os.path.join(self.work, f"{tracer.run_id}-op{k}")
        rec = {"workdir": wd, "items": self.n_pages + self.n_delta, "stage_bytes": {}}
        with tracer.span("op") as op:
            pages = spark.read.parquet(self.paths["pages"])
            delta = spark.read.parquet(self.paths["delta"])
            p = LinkagePipeline(spark, wd, threshold=self.THRESHOLD)
            for stage in STAGES:
                with tracer.span(f"pipeline.{stage}"):
                    rec[stage] = p.extract(pages) if stage == "extract" else getattr(p, stage)()
                # 01_extract and 04_clusters are rewritten by the increment
                rec["stage_bytes"][stage] = measure.dir_bytes(
                    os.path.join(wd, STAGE_DIRS[stage]))
            with tracer.span("pipeline.increment"):
                p.increment(delta)
        rec["span"] = op.id
        return rec

    def check(self, rec: dict) -> None:
        wd = rec["workdir"]
        rewritten = ("01_extract", "04_clusters")
        write_s = 0.0
        for d in rewritten:
            with open(os.path.join(wd, f"{d}.manifest.json")) as f:
                write_s += json.load(f)["wall_sec"]
        inc_bytes = sum(measure.dir_bytes(os.path.join(wd, d)) for d in rewritten)
        rec["increment"] = {"write_s": write_s, "stored_bytes": inc_bytes}
        rec["stored_bytes"] = measure.dir_bytes(wd)
        clusters = pd.read_parquet(os.path.join(wd, "04_clusters"))
        sizes = clusters.groupby("cluster_id").size()
        rec["components"] = int(len(sizes))
        rec["max_component"] = int(sizes.max())
        rec["f1"] = measure.pairwise_f1(clusters, self.labelled)
        rec["equals_relink"] = (
            measure.as_partition(clusters) == measure.as_partition(self.reference))
        rec["ok"] = rec["f1"] >= 0.99 and rec["equals_relink"]

    def layer_metrics(self, recs: list[dict], tracer) -> dict:
        med = measure.median
        out = {}
        for stage in STAGES:
            spans = _children(tracer, recs, f"pipeline.{stage}")
            out[f"pipeline.{stage}_s"] = med(s.seconds for s in spans)
            out[f"pipeline.{stage}.write_s"] = med(r[stage]["wall_sec"] for r in recs)
            out[f"pipeline.{stage}.pre_write_s"] = med(
                s.seconds - r[stage]["wall_sec"] for s, r in zip(spans, recs))
            out[f"pipeline.{stage}.stored_bytes"] = med(
                r["stage_bytes"][stage] for r in recs)
        inc = _children(tracer, recs, "pipeline.increment")
        out["pipeline.increment_s"] = med(s.seconds for s in inc)
        out["pipeline.increment.write_s"] = med(r["increment"]["write_s"] for r in recs)
        out["pipeline.increment.pre_write_s"] = med(
            s.seconds - r["increment"]["write_s"] for s, r in zip(inc, recs))
        out["pipeline.increment.stored_bytes"] = med(
            r["increment"]["stored_bytes"] for r in recs)
        out["increment.output_bytes_per_input_byte"] = med(
            r["increment"]["stored_bytes"] / self.delta_bytes for r in recs)
        out["stored_bytes_per_input_byte"] = med(
            r["stored_bytes"] / self.input_bytes for r in recs)
        sc = [r["scoring"] for r in recs]
        out["scoring.candidates"] = med(m["candidates_scored"] for m in sc)
        out["scoring.matches"] = med(m["n_rows"] for m in sc)
        out["scoring.match_ratio"] = med(
            m["n_rows"] / max(m["candidates_scored"], 1) for m in sc)
        out["scoring.candidate_pairs_per_s"] = med(m["candidate_pairs_per_sec"] for m in sc)
        out["clustering.components"] = med(r["components"] for r in recs)
        out["clustering.max_component"] = med(r["max_component"] for r in recs)
        return out


class JoinRequests:
    name = "join_requests"
    N_BASE = 1200
    REF_PAGES = 2000
    QUERY_PAGES = 300
    N_SLICES = 48
    # round-robin, so every run sends the same mix
    MIX = (("jaccard", 0.6), ("cosine", 0.7), ("dice", 0.7), ("edit_distance", 2))
    CYCLE = len(MIX)

    def __init__(self, work: str, seed: int):
        self.work = work
        corpus = gen.Corpus(seed, self.N_BASE)
        self.n_corpus = len(corpus.pages)
        rng = random.Random(f"linkbench-requests:{seed}")
        self.ref = corpus.title_slice(rng, self.REF_PAGES)
        self.ref_path = os.path.join(work, "ref.parquet")
        self.ref.to_parquet(self.ref_path, index=False)
        # the last two slices are only used by the warm pass
        self.slices = []
        for i in range(self.N_SLICES + 2):
            q = corpus.title_slice(rng, self.QUERY_PAGES)
            path = os.path.join(work, f"query{i:03d}.parquet")
            q.to_parquet(path, index=False)
            self.slices.append((q, path))

    def sizes(self) -> dict:
        return {"corpus_pages": self.n_corpus, "ref_pages": self.REF_PAGES,
                "query_pages": self.QUERY_PAGES, "query_slices": self.N_SLICES,
                "mix": [f"{k}:{t}" for k, t in self.MIX]}

    @staticmethod
    def _call(kind: str, threshold, left, right):
        import py_stringsimjoin_spark as ssj

        if kind == "edit_distance":
            return ssj.edit_distance_join(
                left, right, "url", "url", "title", "title", threshold,
                tokenizer=ssj.QgramTokenizer(qval=2))
        fn = getattr(ssj, f"{kind}_join")
        return fn(left, right, "url", "url", "title", "title",
                  ssj.WhitespaceTokenizer(), threshold)

    def load(self, spark) -> None:
        self.ref_df = spark.read.parquet(self.ref_path)
        self.ref_df.count()

    def warm(self, spark) -> None:
        # one set-similarity join and the edit-distance join cover the two
        # kernels; the other set measures differ only in the score formula
        for j, (kind, thr) in enumerate(self.MIX[::3]):
            _, path = self.slices[self.N_SLICES + j]
            self._call(kind, thr, spark.read.parquet(path), self.ref_df).collect()

    def op(self, spark, tracer, k: int) -> dict:
        kind, thr = self.MIX[k % len(self.MIX)]
        slice_no = k % self.N_SLICES
        left = spark.read.parquet(self.slices[slice_no][1])
        with tracer.span("op") as op:
            with tracer.span("join.plan"):
                out = self._call(kind, thr, left, self.ref_df)
            with tracer.span("join.exec"):
                rows = out.collect()
        return {"span": op.id, "kind": kind, "threshold": thr, "slice": slice_no,
                "items": self.QUERY_PAGES, "rows": len(rows),
                "got": [(r["l_url"], r["r_url"], r["_sim_score"]) for r in rows]}

    def check(self, rec: dict) -> None:
        """Compare one request's rows with the DuckDB brute force."""
        q, _ = self.slices[rec["slice"]]
        want = oracle.join_rows(os.path.join(self.work, "duckdb"), rec["kind"],
                                rec["threshold"], q, self.ref)
        got = rec.pop("got")
        rec["want_rows"] = len(want)
        rec["hash_equal"] = measure.rows_hash(got) == measure.rows_hash(want)
        rec["f1"] = measure.pair_f1({g[:2] for g in got}, {w[:2] for w in want})
        rec["ok"] = rec["hash_equal"] and len(got) == len(want)

    def layer_metrics(self, recs: list[dict], tracer) -> dict:
        med = measure.median
        return {
            "join.plan_s": med(s.seconds for s in _children(tracer, recs, "join.plan")),
            "join.exec_s": med(s.seconds for s in _children(tracer, recs, "join.exec")),
            "join.rows": med(r["rows"] for r in recs),
        }


WORKLOADS = {w.name: w for w in (Link, JoinRequests)}
