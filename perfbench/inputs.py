"""Seeded inputs: the corpus, the query streams and the change-set stream.

Everything here is a function of the workload seed.  The engine only
ever receives what these functions return.  The referee view of the
corpus (which rows the reference's skip rules keep, and what each
indexed document holds) is computed here too, independently of the
engine's pipeline, so the oracle and the engine never share a code path
for it.
"""

from __future__ import annotations

import hashlib
import itertools
import string
from collections.abc import Iterator

import numpy as np
import pandas as pd

from gitlab_elasticsearch_indexer_spark import fixtures
from gitlab_elasticsearch_indexer_spark.operators.pipeline import (
    BINARY_SNIFF_LIMIT,
    LIMIT_FILE_SIZE,
)

N_REPOS = 32
# Each seed owns a disjoint window of fixture row ids (every fixture row
# is a pure function of its id), so two seeds never share a file.
SEED_STRIDE = 1_000_000

# The nine query shapes of the repository's query bench, plus one AND
# query (GitLab's simple_query_string default operator).  Streams run
# the pool in rounds, every shape once per round: no query-frequency
# skew is known for this traffic, so none is assumed, and the seed draws
# only the order.
HOT_POOL = [
    ("if", None, None, "or"),
    ("if return def", None, None, "or"),
    ("getUserById", None, None, "or"),
    ("user", None, None, "or"),
    ("getu", None, None, "or"),
    ("parseQuery buildIndex", None, None, "or"),
    ("return", "Python", None, "or"),
    ("if", None, "repo-003", "or"),
    ("zzz_nothing_here", None, None, "or"),
    ("get user if", None, None, "and"),
]
# fixture vocabulary rank: a higher rank is a rarer token
VOCAB_RANK = {tok: r for r, tok in enumerate(fixtures.VOCAB)}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**32, *stream])


def corpus(spark, seed: int, n_files: int) -> pd.DataFrame:
    """Fixture rows for this seed plus the fixture's skip-rule rows
    (NUL byte, > 1 MiB, empty, unicode paths, one path at two commits)."""
    ids = np.arange(n_files, dtype=np.int64) + (seed % 1000) * SEED_STRIDE
    rows = fixtures._gen_batch(ids, N_REPOS)
    special = fixtures._special_rows(spark).toPandas()
    return pd.concat([rows, special], ignore_index=True)


def referee_docs(rows: list[dict]) -> dict[str, dict]:
    """id → document, by the reference's rules: skip content over 1 MiB
    or with a NUL in its first 8 KiB; one document per (repo, path), the
    row with the greatest commit winning."""
    docs: dict[str, dict] = {}
    for r in rows:
        content = r["content"]
        if len(content.encode()) > LIMIT_FILE_SIZE:
            continue
        if "\0" in content[:BINARY_SNIFF_LIMIT]:
            continue
        doc_id = f"{r['repo']}_{r['path']}"
        prev = docs.get(doc_id)
        if prev is None or r["commit"] > prev["commit"]:
            docs[doc_id] = {"id": doc_id, "repo": r["repo"], "path": r["path"],
                            "commit": r["commit"], "lang": r["lang"],
                            "content": content}
    return docs


def pool_rounds(seed: int, *stream: int) -> Iterator[tuple]:
    """HOT_POOL round after round, each round in an order drawn for this
    seed and stream: every prefix of whole rounds holds each shape
    equally often, so a median does not depend on which shapes the seed
    happened to draw."""
    for r in itertools.count():
        for i in _rng(seed, *stream, r).permutation(len(HOT_POOL)):
            yield HOT_POOL[i]


def rarest_token(content: str) -> str:
    """The file's rarest fixture-vocabulary token: a search for it ranks
    the file near the top while the file is live."""
    return max(set(content.split()), key=lambda t: (VOCAB_RANK.get(t, -1), t))


def _token(rng: np.random.Generator) -> str:
    return "".join(rng.choice(list(string.ascii_lowercase), size=10))


class ChangeStream:
    """Change-set batches in the FIXTURES.md §2 mix: per batch ~2 % of
    the files modified, ~1 % added, ~1 % deleted, ~0.5 % renamed (a
    delete plus an add).  Every modified or added file carries the
    batch's new token, so a search for it shows when the batch is
    visible."""

    def __init__(self, seed: int, docs: dict[str, dict]):
        self.seed = seed
        self.docs = docs  # the referee corpus, updated batch by batch
        self.n_base = len(docs)
        self.next_id = (seed % 1000) * SEED_STRIDE + SEED_STRIDE // 2

    def _fresh_rows(self, n: int) -> pd.DataFrame:
        ids = np.arange(n, dtype=np.int64) + self.next_id
        self.next_id += n
        return fixtures._gen_batch(ids, N_REPOS)

    def batch(self, b: int) -> dict:
        rng = _rng(self.seed, 2, b)
        n = self.n_base
        n_mod, n_add, n_del, n_ren = (max(1, round(n * f))
                                      for f in (0.02, 0.01, 0.01, 0.005))
        token = _token(rng)
        commit = hashlib.sha256(f"{self.seed}:{b}".encode()).hexdigest()[:40]
        # only fixture files change: the skip-rule rows stay as they are
        pool = sorted(d for d in self.docs if "/file_" in d)
        chosen = rng.choice(len(pool), size=n_mod + n_del + n_ren, replace=False)
        mod = [pool[i] for i in chosen[:n_mod]]
        dele = [pool[i] for i in chosen[n_mod:n_mod + n_del]]
        ren = [pool[i] for i in chosen[n_mod + n_del:]]
        fresh = self._fresh_rows(n_mod + n_add)

        upserts: list[dict] = []
        for doc_id, row in zip(mod, fresh.iloc[:n_mod].itertuples(index=False)):
            old = self.docs[doc_id]
            upserts.append({**old, "commit": commit,
                            "content": f"{row.content} {token}"})
        for row in fresh.iloc[n_mod:].itertuples(index=False):
            path = row.path.replace("/file_", f"/new_{b}_")
            upserts.append({"id": f"{row.repo}_{path}", "repo": row.repo,
                            "path": path, "commit": commit, "lang": row.lang,
                            "content": f"{row.content} {token}"})
        for doc_id in ren:
            old = self.docs[doc_id]
            path = old["path"].replace("/file_", f"/moved_{b}_")
            upserts.append({**old, "id": f"{old['repo']}_{path}", "path": path,
                            "commit": commit})
        deleted = [self.docs[d] for d in dele + ren]
        return {"token": token, "upserts": upserts, "deleted": deleted}

    def apply(self, batch: dict) -> None:
        for d in batch["deleted"]:
            del self.docs[d["id"]]
        for u in batch["upserts"]:
            self.docs[u["id"]] = u
