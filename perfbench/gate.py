"""Correctness gate: every search result against the pure-Python BM25
oracle over the same documents.

The workload process appends what it did to a gate log (JSON lines):
the source rows, the number of documents it indexed, each change set it
applied and each search result it got.  ``check`` replays the log after
that process has ended, so neither the oracle's time nor its memory
lands in any measurement.

A result passes when its ids equal the oracle's top-k ids in order and
each score matches to rtol 1e-9 / atol 1e-12 — the tolerance of the
repository's rank-identity tests.
"""

from __future__ import annotations

import json
import sys

import inputs

from gitlab_elasticsearch_indexer_spark.functions.analyzers import ANALYZERS_TF
from gitlab_elasticsearch_indexer_spark.oracle import OracleIndex, build_oracle_index

K = 10  # hits per search
RTOL = 1e-9
ATOL = 1e-12


class GateLog:
    def __init__(self, path: str):
        self.path = path

    def write(self, kind: str, **payload) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps({"kind": kind, **payload}) + "\n")


def _remove(oracle: OracleIndex, doc: dict) -> None:
    """Undo ``oracle.add`` for one document."""
    tfs, dl = ANALYZERS_TF[oracle.analyzer](doc["content"])
    oracle.n_docs -= 1
    oracle.total_dl -= dl
    del oracle.dls[doc["id"]]
    del oracle.meta[doc["id"]]
    for term in tfs:
        plist = oracle.postings[term]
        del plist[doc["id"]]
        if not plist:
            del oracle.postings[term]


def _add(oracle: OracleIndex, doc: dict) -> None:
    oracle.add(doc["id"], doc["content"], lang=doc["lang"], repo=doc["repo"])


def matches(got: list, exp: list[tuple[str, float]]) -> bool:
    if [g[0] for g in got] != [e[0] for e in exp]:
        return False
    # numpy.allclose's rule, as the rank-identity tests apply it
    return all(abs(g[1] - e[1]) <= ATOL + RTOL * abs(e[1])
               for g, e in zip(got, exp))


def check(path: str) -> tuple[int, int]:
    """Replay a gate log; returns (results checked, results failed)."""
    checked = failed = 0
    docs: dict[str, dict] = {}
    oracle = None
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["kind"]
            if kind == "corpus":
                docs = inputs.referee_docs(ev["rows"])
                oracle = build_oracle_index(
                    [{"doc_id": d["id"], **d} for d in docs.values()],
                    analyzer="code")
            elif kind == "indexed":
                checked += 1
                if ev["n_docs"] != len(docs):
                    failed += 1
                    print(f"gate: indexed {ev['n_docs']} documents, the skip "
                          f"rules keep {len(docs)}", file=sys.stderr)
            elif kind == "changes":
                for d in ev["deleted"]:
                    _remove(oracle, docs.pop(d["id"]))
                for u in ev["upserts"]:
                    if u["id"] in docs:
                        _remove(oracle, docs[u["id"]])
                    docs[u["id"]] = u
                    _add(oracle, u)
            elif kind == "results":
                expected: dict[tuple, list] = {}
                for q, rows in ev["items"]:
                    text, lang, repo, op = q = tuple(q)
                    if q not in expected:
                        expected[q] = oracle.search(text, k=K, lang=lang,
                                                    repo=repo, operator=op)
                    checked += 1
                    if rows is None or not matches(rows, expected[q]):
                        failed += 1
                        print(f"gate: {q} returned {rows}, the oracle "
                              f"{expected[q]}", file=sys.stderr)
    return checked, failed
