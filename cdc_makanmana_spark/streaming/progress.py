"""Streaming progress surface (SURVEY.md §2.8 T5).

Parity target: the reference's refresh loop reports per-batch progress
through a callback — processed count, total, and the current batch's
rows (reference: src/services/dataManager.ts:170-172, consumed by the
UI at src/App.tsx:15). The engine's equivalent is the Structured
Streaming progress surface: a ``StreamingQueryListener`` receives every
micro-batch's metrics (rows, rates, state size) and forwards a compact
summary to a user callback; ``query.lastProgress`` is the pull-based
form.

Scale notes: listener events are driver-side metadata only (no data
rows), so the callback cost is independent of batch size — exactly why
this replaces the reference's per-batch accumulate-and-callback loop.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressTracker(StreamingQueryListener):
    """Forwards per-micro-batch progress to ``on_progress`` and keeps a
    cumulative row count (the reference's ``processed`` counter).

    Use as a context manager so the listener always detaches:

    >>> with ProgressTracker(spark, on_progress=print) as t:
    ...     q = stream.writeStream...start(); q.awaitTermination()
    >>> t.total_rows
    """

    def __init__(
        self,
        spark: SparkSession,
        on_progress: Callable[[dict[str, Any]], None] | None = None,
    ):
        self._spark = spark
        self._on_progress = on_progress
        self.total_rows = 0
        self.batches: list[dict[str, Any]] = []

    # -- StreamingQueryListener interface ----------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        p = event.progress
        summary = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "total_rows": self.total_rows + p.numInputRows,
        }
        self.total_rows += p.numInputRows
        self.batches.append(summary)
        if self._on_progress is not None:
            self._on_progress(summary)

    def onQueryIdle(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    # -- lifecycle ----------------------------------------------------------

    def __enter__(self) -> "ProgressTracker":
        self._spark.streams.addListener(self)
        return self

    def __exit__(self, *exc) -> None:
        self._spark.streams.removeListener(self)
