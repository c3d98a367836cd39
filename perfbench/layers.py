"""Kernel rows: each engine layer called directly on fixed inputs taken
from the corpus, recording wall time and ``process_time``."""

from __future__ import annotations

import time

import numpy as np

from tracing import median


def timed(fn, repeats: int = 1) -> "tuple[float, float, object]":
    """(median wall s, median cpu s, last result) over ``repeats`` calls."""
    walls, cpus, out = [], [], None
    for _ in range(repeats):
        w0, c0 = time.perf_counter(), time.process_time()
        out = fn()
        walls.append(time.perf_counter() - w0)
        cpus.append(time.process_time() - c0)
    return median(walls), median(cpus), out


def kernel_rows(spark, source: str, index_dir: str, query_terms: "list[str]", cpus: int) -> dict:
    """{row name: {wall_s, cpu_s, work, unit}} for the tokenizer, the
    varbyte encoder and decoder, an empty job and an empty pandas task."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from sync2any_spark.index.builder import postings_sources, read_index_meta
    from sync2any_spark.index.codec import decode_block_batch_arrow, vb_encode_segments
    from sync2any_spark.tokenize import tokenize_arrow_codes

    rows = {}
    text = pq.read_table(source, columns=["text"]).column("text").combine_chunks()
    prev = pa.cpu_count()
    pa.set_cpu_count(1)  # the tokenizer row is one thread
    try:
        wall, cpu, tok = timed(lambda: tokenize_arrow_codes(text), repeats=3)
    finally:
        pa.set_cpu_count(prev)
    if tok is None:
        raise RuntimeError("corpus text needs the regex tokenizer path")
    rows["tokenize"] = {"wall_s": wall, "cpu_s": cpu, "work": text.nbytes / 1e6, "unit": "MB"}

    # corpus postings: (term, doc) pairs → per-term doc-gap segments
    codes, doc_lens, _ = tok
    docs = np.repeat(np.arange(len(doc_lens), dtype=np.int64), doc_lens)
    pairs = np.unique(codes.astype(np.int64) * len(doc_lens) + docs)
    terms, pdocs = np.divmod(pairs, len(doc_lens))
    starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[starts, len(pdocs)].astype(np.int64)
    gaps = np.diff(pdocs, prepend=0)
    gaps[starts] = pdocs[starts]
    wall, cpu, _ = timed(lambda: vb_encode_segments(gaps, bounds), repeats=3)
    rows["codec_encode"] = {"wall_s": wall, "cpu_s": cpu, "work": len(gaps) / 1e6, "unit": "Mpostings"}

    meta = read_index_meta(index_dir)
    blocks = pa.concat_tables(
        [
            ds.dataset(d, partitioning="hive").to_table(
                columns=["doc_ids", "tfs", "dls", "n_docs"],
                filter=ds.field("term").isin(query_terms),
            )
            for d in postings_sources(index_dir, meta)
        ]
    )
    n_post = int(blocks.column("n_docs").to_numpy().sum())
    wall, cpu, _ = timed(lambda: decode_block_batch_arrow(blocks, parallel=False), repeats=5)
    rows["codec_decode"] = {"wall_s": wall, "cpu_s": cpu, "work": n_post / 1e6, "unit": "Mpostings"}

    sc = spark.sparkContext
    wall, cpu, _ = timed(lambda: sc.parallelize([], 1).count(), repeats=5)
    rows["empty_job"] = {"wall_s": wall, "cpu_s": cpu, "work": 1, "unit": "job"}

    parts = 4 * cpus

    def empty_task():
        def passthrough(batches):
            yield from batches

        return spark.range(0, parts, numPartitions=parts).mapInPandas(
            passthrough, schema="id long"
        ).count()

    wall, cpu, _ = timed(empty_task, repeats=3)
    rows["empty_task"] = {"wall_s": wall, "cpu_s": cpu, "work": parts, "unit": "tasks"}
    return rows
