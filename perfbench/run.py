"""Repository benchmark: one workload per process, end-to-end metrics or
(with --trace 1) per-layer metrics, every search checked against the
BM25 oracle.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run it from the root of a source tree of this repository.  Each
workload runs in a fresh child process (child.py) on local[nproc]; this
process samples the resident memory of the child's whole process tree
(driver, JVM, Python workers), stops every process of the tree when the
child ends, and prints a summary line followed by one JSON result line.
All scratch files live under .perfbench/ in the tree and are removed
after the run; results and traces stay in .perfbench/results and
.perfbench/traces.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["search_hot", "update_search"]
CHILD_TIMEOUT_S = 160  # beyond --seconds: set-up, the traced extras, stopping
DRIVER_HEAP = "1g"
# between memory samples.  One sample reads smaps_rollup of every process
# of the tree, ~50 ms of kernel time with the JVM's mmap lock held for
# ~30 ms of it; the tree's memory rises to a plateau that lasts seconds
SAMPLE_S = 1.0
PR_SET_CHILD_SUBREAPER = 36

UNITS = {
    "setup_s": "s", "index_files_per_s": "files/s",
    "index_bytes_per_source_byte": "ratio", "query_p50_ms": "ms",
    "query_tail_ms": "ms", "update_visible_s": "s", "failed_share": "ratio",
    "peak_rss_mb": "MB",
}
END_TO_END = ["setup_s", "query_p50_ms", "query_tail_ms", "update_visible_s",
              "index_files_per_s", "index_bytes_per_source_byte", "peak_rss_mb"]
LAYER_UNITS = {
    "session.start_s": "s", "fixtures.gen_s": "s",
    "pipeline.docs_indexed": "count",
    "index_build.build_index_s": "s", "index_build.postings_s": "s",
    "index_build.save_s": "s", "index_build.shuffle_write_bytes": "B",
    "index_build.spill_bytes": "B", "index_build.python_bytes_sent": "B",
    "index_build.task_cpu_share": "ratio", "index_build.posting_entries": "count",
    "index_build.index_bytes": "B", "index_build.load_index_s": "s",
    "analyzers.query_analyze_us": "us", "query.spark_jobs_per_query": "count",
    "query.driver_path_share": "ratio", "query.score_plan_ms": "ms",
    "query.repeat_term_share": "ratio", "incremental.update_delta_s": "s",
    "incremental.load_versioned_s": "s", "incremental.shuffle_write_bytes": "B",
    "incremental.compact_s": "s", "incremental.doc_parts": "count",
    "incremental.bytes_written_per_batch": "B", "trace.setup_s": "s",
    "trace.query_p50_ms": "ms",
}


def host_env(workdir: str) -> dict[str, str]:
    """Child environment fitted to this host: every core, a 1 GiB driver
    heap, Spark scratch under the run's own directory, and workers
    importing the tree this script lives in.

    The workloads' corpora need well under 1 GiB of heap.  A heap they
    fill keeps the peak-memory figure steady; a larger one grows by the
    collector's heuristics, which moved the peak by up to a quarter
    between runs of the same workload."""
    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
    })
    return env


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces: fields resume after ')'
            out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def resident_bytes(pids: list[int]) -> int:
    """Resident memory of the processes, each shared page split among
    its sharers (PSS).  Plain RSS would count a page twice whenever the
    JVM forks a helper, which made the peak jump by the JVM's size."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def stop_tree(deadline_s: float = 5.0) -> None:
    """Stop and reap every process left below this one (this process is
    a child subreaper, so orphans of the tree are re-parented here).

    Signalling the child's process group would not do: PySpark's worker
    daemon moves itself and its workers into a process group of their
    own (pyspark/daemon.py, manager()), and once the JVM has gone they
    are no longer descendants of the child."""
    end = time.time() + deadline_s
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG) == (0, 0):
                    break
            except ChildProcessError:
                return
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > end:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_child(workload: str, args) -> dict | None:
    import gate  # imports the engine package, which main() has located

    tag = f"{workload}-s{args.seed}-t{args.trace}"
    workdir = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    result = os.path.join(workdir, "result.json")
    gate_log = os.path.join(workdir, "gate.jsonl")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", workdir, "--gate-log", gate_log, "--result", result,
           "--trace-out", os.path.join(STATE, "traces", f"{tag}.json")]
    peak = 0
    # the child's stdout goes to stderr: stdout carries results only
    child = subprocess.Popen(cmd, cwd=workdir, env=host_env(workdir),
                             stdout=sys.stderr)
    try:
        limit = CHILD_TIMEOUT_S + args.seconds
        end = time.time() + limit
        while child.poll() is None and time.time() < end:
            peak = max(peak, resident_bytes([child.pid, *descendants(child.pid)]))
            time.sleep(SAMPLE_S)
        if child.poll() is None:
            print(f"perfbench: {workload} exceeded {limit:g} s", file=sys.stderr)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        stop_tree()
    try:
        if child.returncode != 0 or not os.path.exists(result):
            print(f"perfbench: {workload} failed (exit {child.returncode})",
                  file=sys.stderr)
            return None
        with open(result) as f:
            out = json.load(f)
        checked, failed = gate.check(gate_log)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out["attempted"] = checked + out["ops"]
    out["failed"] = failed
    out["e2e"]["peak_rss_mb"] = peak / 2**20
    return out


def report(workload: str, out: dict, args) -> dict:
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in sorted(out["layer"].items())}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": UNITS[k]} for k in END_TO_END}
    line = {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    tag = f"{workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(STATE, "results", f"{tag}.json"), "w") as f:
        json.dump({**line, "e2e": out["e2e"], "info": out["info"]}, f)

    summary = {k: f"{out['e2e'][k]:.6g} {UNITS[k]}" for k in END_TO_END}
    summary["failed_share"] = (
        f"{out['failed'] / out['attempted']:.6g} {UNITS['failed_share']}")
    summary["query_tail"] = out["info"]["query_tail"]
    if args.trace:
        untraced = os.path.join(STATE, "results", f"{workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            for k in ("setup_s", "query_p50_ms"):
                summary[f"trace_overhead.{k}"] = f"{out['e2e'][k] - base[k]:+.6g} {UNITS[k]}"
    print(f"perfbench {workload} seed={args.seed}: {json.dumps(summary)}", flush=True)
    return line


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gitlab_elasticsearch_indexer_spark",
                                       "__init__.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    lines = []
    for workload in WORKLOADS if args.workload == "all" else [args.workload]:
        out = run_child(workload, args)
        if out is None:
            return 1
        lines.append(report(workload, out, args))
    for line in lines:
        print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
