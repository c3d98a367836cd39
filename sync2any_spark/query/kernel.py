"""BM25 top-k over Arrow block tables — the one scoring kernel.

Every scorer hands this module the query's live terms as (idf weight,
Arrow block table) pairs: the driver route (``IndexSearcher.search``, each
term's runs sliced out of the row groups it read), its distributed route
(the same slices, one doc-id range per task, through ``partial_sums``) and
the serving tier (``LocalSearcher``, slices of its pinned table). A block
table carries the varbyte columns ``doc_ids``/``tfs``/``dls`` plus
``n_docs``, and for the pruned leg the block metadata
``max_tf``/``min_dl``/``min_doc``/``max_doc``. Scores are exact Lucene BM25
in float64 with the engine tie-break (score desc, doc_id asc), so every
route ranks as the oracle does.

``topk`` picks one of its legs by the query's postings count:

- below ``PARALLEL_POSTINGS``: the sequential exhaustive leg;
- above it: a block-max pruning pre-pass (``_prune``), then the single-term
  tail that decodes doc ids only for candidate blocks (no tombstones), or
  the slice-parallel exhaustive leg on the shared pool.

A term's postings may be split across salted sub-streams (builder B3);
each doc lives in exactly one, so one term's ids are unique and scoring
each stream with the term's idf equals scoring one merged list.
"""

from __future__ import annotations

import math

import numpy as np

from .. import B, K1
from ..index.codec import (
    _decode_pool,
    arrow_binary_bytes,
    decode_block_batch_arrow,
    vb_decode,
)

# the postings columns a query reads: the term, the varbyte streams and the
# block metadata the pruned leg bounds with
BLOCK_COLS = [
    "term", "min_doc", "max_doc", "doc_ids", "tfs", "dls", "max_tf", "min_dl", "n_docs",
]

# postings count at which a query takes the hot legs (pruning pre-pass,
# single-term tail, slice-parallel scoring); below it pool dispatch and the
# seed pass cost more than they save
PARALLEL_POSTINGS = 200_000
SCORE_THREADS = 4
# pruned leg: seed decode budget per term for the θ estimate, and the kept
# fraction of postings above which the pruned plan is abandoned
PRUNE_SEED_POSTINGS = 50_000
PRUNE_KEEP_MAX = 0.7

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
_SCORE_POOL = None


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_contrib(w, tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution ``w · tf/(tf + k1·(1−b+b·dl/avgdl))``
    with the constants folded: 4 ufunc passes, the int→float upcast inside
    the loops. Every route scores through it, so cross-route rankings are
    bit-identical, not merely approx-equal."""
    denom = (K1 * B / avgdl) * dls
    denom += K1 * (1.0 - B)
    denom += tfs
    out = w * tfs
    out /= denom
    return out


def alive_mask(deleted: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Not-in-sorted-tombstones test (binary search, O(n log m))."""
    if deleted.size == 0:
        return np.ones(ids.shape, dtype=bool)
    idx = np.searchsorted(deleted, ids)
    idx_c = np.minimum(idx, deleted.size - 1)
    return ~((idx < deleted.size) & (deleted[idx_c] == ids))


def group_sum(ids: np.ndarray, contrib: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """(unique doc ids ascending, per-doc sums) with allocation proportional
    to the match count, never the doc-id space: a span-offset bincount when
    the observed id span is within 4× the matches, else a stable sort +
    ``np.add.reduceat``. The variants agree to the last ulp or so."""
    lo = int(ids.min())
    span = int(ids.max()) - lo + 1
    if span <= 4 * ids.size:
        full = np.bincount(ids - lo, weights=contrib, minlength=span)
        uniq = np.flatnonzero(full)
        return uniq + lo, full[uniq]
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    starts = np.flatnonzero(np.concatenate(([True], sids[1:] != sids[:-1])))
    return sids[starts], np.add.reduceat(contrib[order], starts)


def topk_sorted(uniq: np.ndarray, scores: np.ndarray, k: int) -> "list[tuple[int, float]]":
    """Exact top-k with the engine tie-break (score desc, doc_id asc);
    ``uniq`` need not be sorted but must be duplicate-free."""
    if k < len(uniq):
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)  # boundary ties included
    else:
        cand = np.arange(len(uniq))
    order = cand[np.lexsort((uniq[cand], -scores[cand]))][:k]
    return [(int(uniq[i]), float(scores[i])) for i in order]


def topk_dense(full: np.ndarray, lo: int, k: int) -> "list[tuple[int, float]]":
    """Top-k off a dense span-offset score array: one partition finds the
    kth score and one comparison collects candidates. Contributions are
    strictly positive, so a zero cell is no match; a zero kth (fewer than k
    matches) falls back to every nonzero cell."""
    n = full.size
    if k < n:
        kth = np.partition(full, n - k)[n - k]
        if kth > 0.0:
            cand = np.flatnonzero(full >= kth)
            return topk_sorted(cand + lo, full[cand], k)
    uniq = np.flatnonzero(full)
    return topk_sorted(uniq + lo, full[uniq], k)


def score_pool():
    """The shared scoring pool; numpy releases the GIL in the decode and
    contrib loops, so its threads overlap."""
    global _SCORE_POOL
    if _SCORE_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _SCORE_POOL = ThreadPoolExecutor(SCORE_THREADS)
    return _SCORE_POOL


def _postings(tbl) -> np.ndarray:
    return tbl.column("n_docs").to_numpy().astype(np.int64)


def _concat(parts) -> "tuple[np.ndarray, np.ndarray]":
    if not parts:
        return _EMPTY
    return np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])


def decode_contrib(w: float, tbl, avgdl: float, deleted: np.ndarray):
    """(doc ids, BM25 contributions) of every posting in ``tbl``, tombstones
    dropped — the leaf of every leg. Decodes on the calling thread, so pool
    threads never wait on the decode pool."""
    ids, tfs, dls = decode_block_batch_arrow(tbl, parallel=False)
    contrib = bm25_contrib(w, tfs, dls, avgdl)
    if deleted.size:
        alive = alive_mask(deleted, ids)
        ids, contrib = ids[alive], contrib[alive]
    return ids, contrib


def partial_sums(terms, deleted: np.ndarray, avgdl: float):
    """(unique doc ids ascending, per-doc BM25 sums) over (w, table) pairs,
    sequentially — what a shard or a distributed range task contributes."""
    ids, contrib = _concat(
        [decode_contrib(w, t, avgdl, deleted) for w, t in terms if t.num_rows]
    )
    return group_sum(ids, contrib) if ids.size else _EMPTY


def topk(terms, deleted: np.ndarray, avgdl: float, k: int) -> "list[tuple[int, float]]":
    """Exact BM25 top-k → [(doc_id, score)] over the query's live terms as
    (idf weight, block table) pairs, tombstones (sorted) dropped."""
    terms = [(w, t) for w, t in terms if t.num_rows]
    if not terms:
        return []
    if sum(int(_postings(t).sum()) for _, t in terms) < PARALLEL_POSTINGS:
        ids, contrib = _concat([decode_contrib(w, t, avgdl, deleted) for w, t in terms])
        if ids.size == 0:
            return []
        if len(terms) > 1:
            ids, contrib = group_sum(ids, contrib)
        return topk_sorted(ids, contrib, k)
    terms = _prune(terms, deleted, avgdl, k)
    if len(terms) == 1 and not deleted.size:
        hits = _single_term_tail(*terms[0], avgdl, k)
        if hits is not None:
            return hits
    return _parallel(terms, deleted, avgdl, k)


def _prune(terms, deleted: np.ndarray, avgdl: float, k: int):
    """Block-max pruning pre-pass (block-max WAND reshaped for batch
    execution) → the (w, blocks) pairs still to score; ``terms`` itself when
    pruning would not pay.

    1. Per-block upper bounds from the drift-safe (max_tf, min_dl) metadata
       under the current weights: tf/(tf+k1·norm) grows with tf and shrinks
       with dl, so the pair bounds every posting of its block.
    2. θ: decode each term's top-bound blocks (the seed, ~2% of postings),
       take the top-k docs by seed partial sum, and score those k docs
       fully from every block whose doc range holds one. The k-th of those
       true scores lower-bounds the true k-th best.
    3. Drop every block whose bound + Σ other terms' max bound < θ: no doc
       in it can reach θ. Every block of a true top-k doc survives, so its
       score stays exact, and docs scored partially sum below θ — rank- and
       score-identical to the exhaustive leg.

    A metadata-only floor skips the seed pass when even the best possible
    θ cannot prune enough (multi-term queries over frequent terms: near-
    uniform block maxima), and pruning that keeps more than
    ``PRUNE_KEEP_MAX`` of the postings is abandoned."""
    nds = [_postings(t) for _, t in terms]
    ubs = [
        bm25_contrib(
            w,
            t.column("max_tf").to_numpy().astype(np.float64),
            t.column("min_dl").to_numpy().astype(np.float64),
            avgdl,
        )
        for w, t in terms
    ]
    gmax = np.array([u.max() for u in ubs])
    tot = sum(int(nd.sum()) for nd in nds)
    # under the best possible θ (= Σ gmax) a block is kept iff its bound is
    # its term's max: those postings can never prune
    floor = sum(int(nd[u >= g - 1e-12].sum()) for nd, u, g in zip(nds, ubs, gmax)) / tot
    if floor > (0.05 if len(terms) > 1 else PRUNE_KEEP_MAX):
        return terms
    budget = max(4000, min(PRUNE_SEED_POSTINGS, tot // 50))
    futs = []
    for (w, t), ub, nd in zip(terms, ubs, nds):
        order = np.argsort(-ub)
        m = int(np.searchsorted(np.cumsum(nd[order]), budget)) + 1
        futs.append(score_pool().submit(decode_contrib, w, t.take(order[:m]), avgdl, deleted))
    ids, contrib = _concat([f.result() for f in futs])
    if ids.size < k:
        return terms
    uniq, seed = group_sum(ids, contrib)
    if seed.size < k:
        return terms
    cand = np.sort(uniq[np.argpartition(seed, -k)[-k:]])
    full = []
    for w, t in terms:
        # blocks whose [min_doc, max_doc] holds a candidate
        lo = np.searchsorted(cand, t.column("min_doc").to_numpy())
        stab = lo < np.searchsorted(cand, t.column("max_doc").to_numpy(), side="right")
        if stab.any():
            i, c = decode_contrib(w, t.filter(stab), avgdl, deleted)
            inc = np.isin(i, cand)
            full.append((i[inc], c[inc]))
    _, exact = group_sum(*_concat(full))
    if exact.size < k:
        return terms
    # the 1e-9 slack keeps blocks whose bound ties θ up to rounding
    theta = float(np.partition(exact, -k)[-k]) - 1e-9
    other = gmax.sum() - gmax
    keep = [ub + o >= theta for ub, o in zip(ubs, other)]
    if sum(int(nd[m].sum()) for nd, m in zip(nds, keep)) > PRUNE_KEEP_MAX * tot:
        return terms
    return [(w, t.filter(m)) for (w, t), m in zip(terms, keep)]


def _single_term_tail(w: float, tbl, avgdl: float, k: int):
    """Single-term top-k that decodes doc ids only for the blocks holding
    candidates: scores depend only on (tf, dl), so the k-th contribution is
    found from two column decodes. Only valid without tombstones (the alive
    test needs every id); None when boundary ties make the candidate set so
    large that the full decode is cheaper."""
    f_tf = _decode_pool().submit(lambda: vb_decode(arrow_binary_bytes(tbl.column("tfs"))))
    dls = vb_decode(arrow_binary_bytes(tbl.column("dls")))
    contrib = bm25_contrib(w, f_tf.result(), dls, avgdl)
    n = contrib.size
    kk = min(k, n)
    tau = np.partition(contrib, n - kk)[n - kk]
    cand = np.flatnonzero(contrib >= tau)
    if cand.size > max(4 * k, n // 4):
        return None
    counts = _postings(tbl)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    blk = np.searchsorted(bounds, cand, side="right") - 1
    ublk = np.unique(blk)
    ids, _tf, _dl = decode_block_batch_arrow(tbl.take(ublk), parallel=False)
    sub_bounds = np.concatenate(([0], np.cumsum(counts[ublk])))
    pos = sub_bounds[np.searchsorted(ublk, blk)] + (cand - bounds[blk])
    return topk_sorted(ids[pos], contrib[cand], k)


def _parallel(terms, deleted: np.ndarray, avgdl: float, k: int):
    """Slice-parallel exhaustive leg: each term's blocks split into
    ``SCORE_THREADS`` zero-copy row slices scored on the shared pool; per-doc
    sums merge through per-thread span-offset bincounts, so allocation stays
    O(matches + observed span)."""
    pool, futs = score_pool(), []
    for w, t in terms:
        cuts = [i * t.num_rows // SCORE_THREADS for i in range(SCORE_THREADS + 1)]
        futs += [
            pool.submit(decode_contrib, w, t.slice(a, b - a), avgdl, deleted)
            for a, b in zip(cuts, cuts[1:])
            if b > a
        ]
    parts = [p for p in (f.result() for f in futs) if p[0].size]
    if not parts:
        return []
    if len(terms) == 1:  # one posting per doc: nothing to merge
        return topk_sorted(*_concat(parts), k)
    lo = min(int(p[0].min()) for p in parts)
    span = max(int(p[0].max()) for p in parts) - lo + 1
    if span > 4 * sum(p[0].size for p in parts):
        return topk_sorted(*group_sum(*_concat(parts)), k)
    futs = [pool.submit(np.bincount, i - lo, weights=c, minlength=span) for i, c in parts]
    full = futs[0].result()
    for f in futs[1:]:
        full += f.result()
    return topk_dense(full, lo, k)
