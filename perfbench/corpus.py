"""Seeded benchmark inputs, built from ``synth.gen_corpus``.

The extraction corpus is ``gen_corpus``'s own parquet layout (same
schema, codec and 500-doc row groups as ``generate_parquet``), made by
a process pool: each worker renders whole row groups with
``make_doc`` and the parent writes them in order, so the file equals
``generate_parquet``'s byte for byte. The expected counts the output
checks compare against come from the same documents, never from the
program under test.
"""

from __future__ import annotations

import multiprocessing as mp
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_DOCS = 500


@dataclass
class CorpusFacts:
    """What the generator says about a corpus, independent of the job."""

    n_docs: int
    n_en: int
    #: English rows the generator made dirty (empty, truncated, bad UTF-8)
    n_en_dirty: int


def _render(args: tuple[int, int, int]) -> tuple[pa.RecordBatch, int, int]:
    from oct_report_ocr_spark.synth.gen_corpus import SCHEMA, make_doc

    seed, lo, hi = args
    rows = [make_doc(seed, i) for i in range(lo, hi)]
    batch = pa.record_batch(
        [
            pa.array([r["url"] for r in rows], pa.string()),
            pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            pa.array([r["html"] for r in rows], pa.binary()),
            pa.array([r["text"] for r in rows], pa.string()),
            pa.array([r["lang"] for r in rows], pa.string()),
        ],
        schema=SCHEMA,
    )
    en = [r["_template"] for r in rows if r["lang"] == "en"]
    return batch, len(en), sum(t.startswith("dirty-") for t in en)


def write_corpus(path: str, n_docs: int, seed: int, procs: int) -> CorpusFacts:
    """Write ``n_docs`` seeded documents to ``path`` (one parquet file)."""
    from oct_report_ocr_spark.synth.gen_corpus import SCHEMA

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    chunks = [(seed, lo, min(lo + ROW_GROUP_DOCS, n_docs)) for lo in range(0, n_docs, ROW_GROUP_DOCS)]
    facts = CorpusFacts(n_docs=n_docs, n_en=0, n_en_dirty=0)
    tmp = path + ".tmp"
    with mp.get_context("spawn").Pool(procs) as pool:
        with pq.ParquetWriter(tmp, SCHEMA, compression="zstd") as writer:
            for batch, n_en, n_dirty in pool.imap(_render, chunks):
                writer.write_batch(batch)
                facts.n_en += n_en
                facts.n_en_dirty += n_dirty
    os.replace(tmp, path)
    return facts
