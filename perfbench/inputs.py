"""Seeded inputs and oracle answers, prepared before any timing starts.

Runs in its own process (``prepare``), so the oracle's dictionaries never
count in the measured driver's peak RSS. Everything it returns is a pure
function of (corpus, workload, seed) and is cached in the work directory.

Doc ids are predicted, not read back from the engine: the snapshot build
numbers docs by (conv_id, turn_idx) rank, ``apply_increments`` gives
changed and inserted rows ``next_doc_id + rank`` in the same order, and
``compact`` renumbers the live rows densely in key order again.
"""

from __future__ import annotations

import json
import os
import pickle
import re
from collections import Counter

import numpy as np
import pandas as pd

# sf0.01 x 2. Every run builds, queries, applies a batch and compacts this
# corpus, and 4 + 22 x 2 runs must fit in under an hour.
SF, MULT = "sf0.01", 2
# 5% of the corpus; a 5k-row batch is 2.6% of sf0.01 x 8
BATCH_ROWS = 2500
# fixed per corpus: its base-state answers are computed once per checkout
POOL_SEED = 20_000
POOL_EXTRA = 50
DISTRIBUTED_QUERIES = 5
PROBES = 10
WORKLOADS = ("search", "cdc")
CORPUS_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def qkey(text: str, k: int) -> str:
    return f"{k}\t{text}"


def query_pool() -> "list[tuple[str, int]]":
    """The 50 reference queries, then POOL_EXTRA more drawn with the
    reference recipe (hot, common, rare and multi-term shapes)."""
    from sync2any_spark.generator import HOT10, HOT_TERM, VOCAB_SIZE, generate_queries

    ref = generate_queries().to_pylist()
    pool = [(r["query_text"], int(r["k"])) for r in ref]
    seen = set(pool)
    rng = np.random.default_rng(POOL_SEED)
    vocab = [f"w{i:04d}" for i in range(VOCAB_SIZE)]
    while len(pool) < len(ref) + POOL_EXTRA:
        shape = int(rng.integers(0, 4))
        k = int(rng.choice([1, 10, 100]))
        if shape == 0:
            q = f"{HOT10[int(rng.integers(0, len(HOT10)))]} {HOT_TERM}"
        elif shape == 1:
            q = vocab[int(rng.integers(0, 200))]
        elif shape == 2:
            q, k = vocab[int(rng.integers(3000, VOCAB_SIZE))], 10
        else:
            idx = rng.integers(0, 1000, size=int(rng.integers(2, 6)))
            q = " ".join(vocab[i] for i in idx)
        if (q, k) not in seen:
            seen.add((q, k))
            pool.append((q, k))
    return pool


def make_oracle(vocab, docs=(), state=None):
    """A ``BM25Oracle`` whose postings hold only ``vocab``. Scoring (idf,
    length norm, tie-break) is the oracle's own; dl, N and avgdl still
    cover every doc, so answers for queries inside ``vocab`` are exact.
    ``state`` restores what ``state()`` returned instead of tokenizing."""
    from sync2any_spark.oracle import BM25Oracle
    from sync2any_spark.tokenize import tokenize

    class ProjectedOracle(BM25Oracle):
        def __init__(self) -> None:
            self.vocab = set(vocab)
            self.tokens = {}  # phrase queries are not checked
            self.dl, self.postings, self.total = state or ({}, {}, 0)
            for doc_id, text in docs:
                self.add(doc_id, text)
            self.refresh()

        def state(self) -> tuple:
            return self.dl, self.postings, self.total

        def add(self, doc_id: int, text: str) -> None:
            toks = tokenize(text)
            self.dl[doc_id] = len(toks)
            self.total += len(toks)
            for term, tf in Counter(toks).items():
                if term in self.vocab:
                    self.postings.setdefault(term, {})[doc_id] = tf

        def remove(self, doc_id: int, text: str) -> None:
            self.total -= self.dl.pop(doc_id)
            for term in set(tokenize(text)) & self.vocab:
                plist = self.postings[term]
                del plist[doc_id]
                if not plist:
                    del self.postings[term]

        def refresh(self) -> None:
            # the same int sum / count as BM25Oracle.__init__
            self.n_docs = len(self.dl)
            self.avgdl = self.total / self.n_docs if self.n_docs else 0.0

    return ProjectedOracle()


def make_batch(corpus, rng, clustered: bool, marker: str):
    """BATCH_ROWS I/U/D rows: half U, a quarter D, a quarter I. Clustered
    batches take a contiguous key range (the binlog locality zone-map
    pruning needs); uniform ones sample keys across the whole store.
    U and I rows carry the batch's marker token."""
    n = len(corpus)
    if clustered:
        start = int(rng.integers(0, n - BATCH_ROWS))
        rows = np.arange(start, start + BATCH_ROWS)
    else:
        rows = np.sort(rng.choice(n, BATCH_ROWS, replace=False))
    batch = corpus.iloc[rows][CORPUS_COLS].copy()
    q = BATCH_ROWS // 4
    ops = np.array(["U"] * (BATCH_ROWS - 2 * q) + ["D"] * q + ["I"] * q)
    rng.shuffle(ops)
    batch["op"] = ops
    batch["old_doc_id"] = rows
    ins = batch["op"] == "I"
    # inserted keys sort after every existing turn of their conversation
    batch.loc[ins, "turn_idx"] = batch.loc[ins, "turn_idx"] + 100_000
    batch.loc[ins, "old_doc_id"] = -1
    live = batch["op"] != "D"
    batch.loc[live, "text"] = batch.loc[live, "text"] + " " + marker
    return batch


_RANKED = re.compile(r"\bw(\d{4})\b")
RARE_RANK = 3000  # vocabulary words at or above this Zipf rank are rare


def probe_query(text: str) -> "str | None":
    """The text's two rarest vocabulary words (higher Zipf rank = rarer)."""
    words = sorted({w for w in _RANKED.findall(text) if int(w) >= RARE_RANK}, reverse=True)
    return " ".join(f"w{w}" for w in words[:2]) or None


def _cached(path: str, make, load, dump):
    if os.path.exists(path):
        return load(path)
    value = make()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    dump(value, path + ".tmp")
    os.replace(path + ".tmp", path)
    return value


def _load_json(path):
    with open(path) as f:
        return json.load(f)


def _dump_json(value, path):
    with open(path, "w") as f:
        json.dump(value, f)


def _load_pickle(path):
    with open(path, "rb") as f:  # written by _dump_pickle in this directory
        return pickle.load(f)


def _dump_pickle(value, path):
    with open(path, "wb") as f:
        pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)


def prepare(root: str, work: str, workload: str, seed: int, out_path: str) -> None:
    """Write the run's inputs and expected answers to ``out_path`` (JSON)."""
    os.environ["SYNC2ANY_DATA_ROOT"] = os.path.join(work, "data")
    import sys

    sys.path.insert(0, root)
    import pyarrow.parquet as pq

    from sync2any_spark.generator import VOCAB_SIZE, ensure_transcripts
    from sync2any_spark.tokenize import tokenize

    src = ensure_transcripts(SF, MULT)
    corpus = pq.read_table(src).to_pandas()
    texts = corpus["text"].tolist()
    pool = query_pool()
    # seed-independent, so the base oracle is tokenized once per checkout
    vocab = {t for q, _ in pool for t in tokenize(q)}
    vocab |= {f"w{i:04d}" for i in range(RARE_RANK, VOCAB_SIZE)}
    tag = f"{SF}x{MULT}"
    oracle = make_oracle(vocab, state=_cached(
        os.path.join(work, "oracle", f"state-{tag}.pickle"),
        lambda: make_oracle(vocab, enumerate(texts)).state(),
        _load_pickle, _dump_pickle,
    ))

    def answers(o, queries) -> dict:
        return {qkey(q, k): o.topk(q, k) for q, k in queries}

    base = _cached(
        os.path.join(work, "oracle", f"base-{tag}.json"),
        lambda: answers(oracle, pool), _load_json, _dump_json,
    )

    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    # the stream is the whole pool, so its composition (and with it the
    # latency percentiles) does not change with the seed; run.py orders it.
    # The distributed leg's queries are fixed the same way; the seed orders them.
    stream = pool
    fixed = np.random.default_rng(POOL_SEED + 1).choice(len(stream), DISTRIBUTED_QUERIES, replace=False)
    dist = [stream[i] for i in rng.permutation(fixed)]
    marker = f"mk{seed}x{workload}"
    batch = make_batch(corpus, rng, clustered=(workload == "search"), marker=marker)
    removed = batch[batch["op"] != "I"]
    samples = removed.iloc[rng.choice(len(removed), PROBES, replace=False)]
    probes = [
        (q, 20, int(r.old_doc_id))
        for r in samples.itertuples(index=False)
        if (q := probe_query(texts[int(r.old_doc_id)]))
    ]

    # --- after the batch: tombstones out, changed/inserted rows in --------
    n_base = len(corpus)
    oracle.vocab.add(marker)
    for r in removed.itertuples(index=False):
        oracle.remove(int(r.old_doc_id), texts[int(r.old_doc_id)])
    ups = batch[batch["op"] != "D"].sort_values(["conv_id", "turn_idx"], kind="stable")
    ups = ups.assign(doc_id=np.arange(n_base, n_base + len(ups)))
    for doc_id, text in zip(ups["doc_id"], ups["text"]):
        oracle.add(int(doc_id), text)
    oracle.refresh()
    marker_q = (marker, len(ups))
    after_batch = answers(oracle, stream + [marker_q] + [(q, k) for q, k, _ in probes])

    # --- after compact: the live rows renumbered densely in key order -----
    keep = np.ones(n_base, dtype=bool)
    keep[removed["old_doc_id"].to_numpy()] = False
    cols = ["conv_id", "turn_idx", "doc_id"]
    live = pd.concat(
        [corpus.loc[keep, cols[:2]].assign(doc_id=np.flatnonzero(keep)), ups[cols]]
    ).sort_values(cols[:2], kind="stable")
    dense = dict(zip(live["doc_id"].tolist(), range(len(live))))
    # The live corpus is the same, so every score is too; only ids change.
    # Exactly tied docs may rank in another order under the new ids, which
    # can change only the tied group cut at k, and that group's ids are not
    # compared (run.same_answer).
    after_compact = {
        key: [(dense[d], s) for d, s in after_batch[key]]
        for key in (qkey(q, k) for q, k in stream + [marker_q])
    }

    batch_path = os.path.join(os.path.dirname(out_path), f"batch-{workload}-{seed}.parquet")
    batch.drop(columns=["old_doc_id"]).to_parquet(batch_path, index=False)
    _dump_json(
        {
            "source": src,
            "n_docs": n_base,
            "stream": stream,
            "distributed": dist,
            "marker": marker,
            "marker_ids": ups["doc_id"].tolist(),
            "removed_ids": removed["old_doc_id"].astype(int).tolist(),
            "probes": probes,
            "batch_path": batch_path,
            "batch_rows": len(batch),
            "base": base,
            "after_batch": after_batch,
            "after_compact": after_compact,
        },
        out_path + ".tmp",
    )
    os.replace(out_path + ".tmp", out_path)
