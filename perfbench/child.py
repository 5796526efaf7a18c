"""One workload in one fresh process; writes its result as JSON.

run.py starts this script, owns its process tree, samples the tree's
memory, checks the gate log against the oracle and prints the result.
The workload drives the engine only through public entry points:
fixtures, pipeline.run_blob_pipeline, index_build.build_index /
InvertedIndex.save / load_index, query.search / score_plan,
analyzers.code_search_analyze and incremental.save_versioned /
update_index_delta / load_versioned / compact_index.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import time
import traceback

import numpy as np
import pandas as pd

import inputs
from gate import K, GateLog
from spans import Tracer, read_event_log, subtree, summed

from gitlab_elasticsearch_indexer_spark import fixtures
from gitlab_elasticsearch_indexer_spark.functions.analyzers import code_search_analyze
from gitlab_elasticsearch_indexer_spark.operators import incremental as inc
from gitlab_elasticsearch_indexer_spark.operators.index_build import (
    build_index,
    load_index,
)
from gitlab_elasticsearch_indexer_spark.operators.pipeline import run_blob_pipeline
from gitlab_elasticsearch_indexer_spark.operators.query import score_plan, search
from gitlab_elasticsearch_indexer_spark.session import get_spark

N_FILES = 2500        # ~2.8M posting entries: fits the 24M-entry postings LRU
DELETED_PROBES = 2    # queries aimed at each change set's deleted files
# pool rounds searched after each change set: with the set's token probe
# and the deleted-file probes, 33 timed searches.  The first ~13 searches
# on a new snapshot run ~1.3x slower than the rest; with 33 the median
# lies past that phase and the tail (the highest percentile with ten
# samples beyond it, p66.7) inside it
BURST_ROUNDS = 3
# search_hot: pool rounds run before the timed loop.  Driver-path
# searches are up to ~1.5x slower in the first three or four rounds on a
# new handle (JVM warm-up), which would otherwise fall in the timed loop
WARM_ROUNDS = 5
SCORE_PLAN_SAMPLE = 3  # traced runs: queries timed through score_plan(...).collect()
UPSERT_SCHEMA = "id string, content string, repo string, path string, lang string"


def perf() -> float:
    return time.perf_counter()


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (the
    maximum when a run has ten samples or fewer), and its label."""
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], f"max of {len(s)}"
    i = len(s) - 11
    return s[i], f"p{100.0 * (i + 1) / len(s):.1f} of {len(s)}"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = args.workdir
        self.index_dir = os.path.join(self.work, "index")
        self.log = GateLog(args.gate_log)
        self.tracer = Tracer(args.trace == 1)
        self.span = self.tracer.span
        self.lat_ms: list[float] = []      # every timed query
        self.query_spans: list[int] = []   # their span ids (traced runs)
        self.analyze_us: list[float] = []
        self.seen_terms: set[str] = set()
        self.repeat = [0, 0]               # repeated, all analyzed query terms
        self.ops = 0                       # change sets and compactions
        self.visible_s: list[float] = []
        self.written: list[int] = []
        self.sample_queries: list[tuple] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"n_files": N_FILES}

    # --- set-up -------------------------------------------------------

    def session(self):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                         extra_conf=conf)

    def setup(self, versioned: bool):
        """Session, corpus, build, save, load and warm-up: everything a
        serving process pays before its first timed operation."""
        from pyspark.sql import functions as F

        t0 = perf()
        with self.span("session.start"):
            self.spark = spark = self.session()
        self.tracer.attach(spark.sparkContext)
        with self.span("fixtures.gen"):
            src_pdf = inputs.corpus(spark, self.args.seed, N_FILES)
            src = spark.createDataFrame(src_pdf, schema=fixtures.SCHEMA)
        t_build = perf()
        with self.span("index_build.build_index"):
            docs = run_blob_pipeline(spark, src)
            idx = build_index(
                spark,
                docs.select("id", "content", F.col("rid").alias("repo"), "path",
                            F.col("language").alias("lang")),
                analyzer="code",
            )
        if self.tracer.enabled:
            with self.span("index_build.postings"):
                idx.postings.count()
        with self.span("index_build.save"):
            if versioned:
                inc.save_versioned(idx, self.index_dir, snapshot_id=0)
            else:
                idx.save(self.index_dir)
        build_s = perf() - t_build
        idx.unpersist()
        if versioned:
            with self.span("incremental.load_versioned"):
                handle = inc.load_versioned(spark, self.index_dir)
        else:
            with self.span("index_build.load_index"):
                handle = load_index(spark, self.index_dir)
        # warm-up: WARM_ROUNDS rounds of the pool on the fresh handle; the
        # first result is the moment the corpus became searchable.  A
        # versioned handle runs one query: each new snapshot starts cold
        # again (below)
        warm = inputs.HOT_POOL[:1] if versioned else inputs.HOT_POOL * WARM_ROUNDS
        warm_rows = []
        for q in warm:
            warm_rows.append((q, self.search(handle, q, timed=False)))
            if len(warm_rows) == 1:
                visible_s = perf() - t_build
        self.e2e["setup_s"] = perf() - t0

        records = src_pdf.to_dict("records")
        self.docs = inputs.referee_docs(records)
        self.log.write("corpus", rows=records)
        self.log.write("indexed", n_docs=handle.n_docs)
        self.log.write("results", items=warm_rows)
        self.e2e["index_files_per_s"] = handle.n_docs / build_s
        self.e2e["update_visible_s"] = visible_s
        self.info["docs_indexed"] = handle.n_docs
        self.layer.update({
            "pipeline.docs_indexed": handle.n_docs,
            "index_build.index_bytes": du(self.index_dir),
            "index_build.posting_entries": self.posting_entries(versioned),
        })
        return handle

    def posting_entries(self, versioned: bool) -> int:
        import pyarrow.dataset as pads

        root = os.path.join(self.index_dir, "v0" if versioned else "", "term_stats")
        tbl = pads.dataset(root, format="parquet", partitioning="hive").to_table(
            columns=["df"])
        return int(tbl.column("df").to_numpy().sum())

    def source_bytes(self) -> int:
        return sum(len(d["content"].encode()) for d in self.docs.values())

    # --- operations ---------------------------------------------------

    def search(self, handle, q: tuple, timed: bool = True):
        """One top-k search; rows as (id, score), or None on error."""
        text, lang, repo, op = q
        if timed:
            terms = code_search_analyze(text)
            self.repeat[0] += sum(t in self.seen_terms for t in terms)
            self.repeat[1] += len(terms)
            self.seen_terms.update(terms)
            if self.tracer.enabled:
                t = perf()
                code_search_analyze(text)
                self.analyze_us.append((perf() - t) * 1e6)
        with self.span("query.search"):
            t = perf()
            try:
                rows = [(r["id"], r["score"]) for r in search(
                    handle, text, k=K, lang=lang, repo=repo, operator=op
                ).collect()]
            except Exception:  # an engine error is a failed operation
                traceback.print_exc()
                rows = None
            ms = (perf() - t) * 1e3
        if timed:
            self.lat_ms.append(ms)
            if self.tracer.enabled:
                self.query_spans.append(len(self.tracer.spans) - 1)
        return rows

    # --- workloads ----------------------------------------------------

    def search_hot(self) -> None:
        self.handle = self.setup(versioned=False)
        stream = inputs.pool_rounds(self.args.seed, 1)
        results = []
        end = perf() + self.args.seconds
        while perf() < end:
            q = next(stream)
            results.append((q, self.search(self.handle, q)))
        self.log.write("results", items=results)
        self.sample_queries = [q for q, _ in results]
        self.e2e["index_bytes_per_source_byte"] = (
            self.layer["index_build.index_bytes"] / self.source_bytes())

    def update_search(self) -> None:
        handle = self.setup(versioned=True)
        self.changes = inputs.ChangeStream(self.args.seed, self.docs)
        self.snap = 0
        timed = 0.0
        while timed < self.args.seconds:
            if self.visible_s:
                # every change set lands on a saved or compacted index:
                # a change set on top of another one's snapshot leaves
                # deleted documents in the postings (README, "Known
                # defect")
                t = perf()
                handle = self.compact()
                timed += perf() - t
            handle, spent = self.change_set()
            timed += spent
        self.e2e["update_visible_s"] = median(self.visible_s)
        self.e2e["index_bytes_per_source_byte"] = (
            du(self.index_dir) / self.source_bytes())
        self.info["change_sets"] = len(self.visible_s)
        self.layer["incremental.doc_parts"] = len(handle.doc_stats_paths)
        if self.tracer.enabled and not self.tracer.named("incremental.compact"):
            # traced runs compact at least once, after the timed loop,
            # and the gate checks the compacted index too
            handle = self.compact()
            self.log.write("results", items=[
                (q, self.search(handle, q, timed=False)) for q in inputs.HOT_POOL[:5]])
        self.handle = handle

    def change_set(self):
        """Submit one change set, load the new snapshot and search for the
        set's new token; then search for the rarest token of some deleted
        files and run BURST_ROUNDS rounds of the pool.  Returns the new
        handle and the seconds spent."""
        self.snap += 1
        spark = self.spark
        batch = self.changes.batch(self.snap)
        burst = [(inputs.rarest_token(d["content"]), None, None, "or")
                 for d in batch["deleted"][:DELETED_PROBES]]
        burst += itertools.islice(inputs.pool_rounds(self.args.seed, 3, self.snap),
                                  BURST_ROUNDS * len(inputs.HOT_POOL))
        ups = spark.createDataFrame(
            pd.DataFrame(batch["upserts"])[["id", "content", "repo", "path", "lang"]],
            schema=UPSERT_SCHEMA)
        dels = spark.createDataFrame(
            pd.DataFrame(batch["deleted"])[["id", "repo"]], schema="id string, repo string")
        before = du(self.index_dir)
        t0 = perf()
        with self.span("incremental.update_delta"):
            inc.update_index_delta(spark, self.index_dir, ups, dels,
                                   snapshot_id=self.snap)
        with self.span("incremental.load_versioned"):
            handle = inc.load_versioned(spark, self.index_dir)
        probe = (batch["token"], None, None, "or")
        results = [(probe, self.search(handle, probe))]
        visible = perf() - t0
        for q in burst:
            results.append((q, self.search(handle, q)))
        spent = perf() - t0

        self.ops += 1
        self.changes.apply(batch)
        self.log.write("changes", upserts=batch["upserts"], deleted=batch["deleted"])
        self.log.write("results", items=results)
        self.visible_s.append(visible)
        self.written.append(du(self.index_dir) - before)
        self.sample_queries += [q for q, _ in results]
        return handle, spent

    def compact(self):
        self.snap += 1
        self.ops += 1
        with self.span("incremental.compact"):
            inc.compact_index(self.spark, self.index_dir, snapshot_id=self.snap)
        with self.span("incremental.load_versioned"):
            return inc.load_versioned(self.spark, self.index_dir)

    # --- results ------------------------------------------------------

    def finish(self) -> dict:
        self.e2e["query_p50_ms"] = median(self.lat_ms)
        self.e2e["query_tail_ms"], self.info["query_tail"] = tail(self.lat_ms)
        if self.tracer.enabled:
            rng = np.random.default_rng([self.args.seed % 2**32, 3])
            for i in rng.choice(len(self.sample_queries), SCORE_PLAN_SAMPLE,
                                replace=False):
                text, lang, repo, op = self.sample_queries[i]
                with self.span("query.score_plan"):
                    plan = score_plan(self.handle, text, k=K, lang=lang,
                                      repo=repo, operator=op)
                    if plan is not None:
                        plan.collect()
        self.spark.stop()
        if self.tracer.enabled:
            self.layer_metrics()
        return {"ops": self.ops, "e2e": self.e2e, "layer": self.layer,
                "info": self.info}

    def layer_metrics(self) -> None:
        tr = self.tracer
        jobs = read_event_log(os.path.join(self.work, "events"), tr)
        tr.write(self.args.trace_out, jobs)
        build_names = ("index_build.build_index", "index_build.postings",
                       "index_build.save")
        b_ids = subtree(tr, [s["id"] for s in tr.spans if s["name"] in build_names])
        b_wall = sum(sum(tr.seconds(n)) for n in build_names)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        q_jobs = [summed(jobs, subtree(tr, [i]), "jobs") for i in self.query_spans]
        deltas = [s["id"] for s in tr.named("incremental.update_delta")]
        self.layer.update({
            "session.start_s": tr.seconds("session.start")[0],
            "fixtures.gen_s": tr.seconds("fixtures.gen")[0],
            "index_build.build_index_s": tr.seconds("index_build.build_index")[0],
            "index_build.postings_s": tr.seconds("index_build.postings")[0],
            "index_build.save_s": tr.seconds("index_build.save")[0],
            "index_build.shuffle_write_bytes": summed(jobs, b_ids, "shuffle_write_bytes"),
            "index_build.spill_bytes": summed(jobs, b_ids, "spill_bytes"),
            "index_build.python_bytes_sent": summed(jobs, b_ids, "python_bytes_sent"),
            "index_build.task_cpu_share":
                summed(jobs, b_ids, "cpu_ns") / 1e9 / (b_wall * cores),
            "index_build.load_index_s": sum(tr.seconds("index_build.load_index")),
            "analyzers.query_analyze_us": median(self.analyze_us),
            "query.spark_jobs_per_query": sum(q_jobs) / len(q_jobs),
            "query.driver_path_share": sum(j == 0 for j in q_jobs) / len(q_jobs),
            "query.score_plan_ms": 1e3 * median(tr.seconds("query.score_plan")),
            "query.repeat_term_share": self.repeat[0] / max(self.repeat[1], 1),
            "incremental.update_delta_s": median(tr.seconds("incremental.update_delta")),
            "incremental.load_versioned_s":
                median(tr.seconds("incremental.load_versioned")),
            "incremental.shuffle_write_bytes": median(
                [summed(jobs, subtree(tr, [i]), "shuffle_write_bytes") for i in deltas]),
            "incremental.compact_s": median(tr.seconds("incremental.compact")),
            "incremental.bytes_written_per_batch": median(self.written),
            "trace.setup_s": self.e2e["setup_s"],
            "trace.query_p50_ms": self.e2e["query_p50_ms"],
        })
        self.layer.setdefault("incremental.doc_parts", 0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["search_hot", "update_search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--gate-log", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()
    bench = Bench(args)
    getattr(bench, args.workload)()
    with open(args.result, "w") as f:
        json.dump(bench.finish(), f)


if __name__ == "__main__":
    main()
