"""Functions the benchmark hands to ``mapInArrow``.

Kept in a module of their own so a Spark Python worker that unpickles
them imports nothing else of the benchmark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa


def identity_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Return every batch unchanged: the Arrow hand-off with no kernel."""
    yield from batches
