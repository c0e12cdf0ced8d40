"""Test support for the ``pgcdc`` readers.

``read_batch`` drives a reader through one micro-batch in-process, in
the order Spark's source runner and executors call it.

``TruncatingReplaySource`` pins the drain loop's cross-process
truncation channel (ADVICE r9). The real bug class it guards:
``LiveTransport.fetch`` runs inside PySpark's Python data-source worker
process (``python_streaming_source_runner``), NOT the user's driver
process — so a module-level counter bumped there is invisible to
``drain_cdc_query``. The only signal channel that crosses that
boundary is the OFFSET dict (``_Offset.trunc``), which Spark surfaces
back to the driver through the progress log. This source truncates
its first fetch *in whatever process the reader runs in*, so a drain
test passes only if the offset channel works.

Top-level package module (not a test file) so the DataSource class
pickles into the data-source worker — same constraint as
``sinks/capture.FlakyFileTransport``.
"""

from __future__ import annotations

import os

from .pgcdc import PgCdcDataSource, PgCdcLiveReader, ReplayTransport


def read_batch(reader, start: dict) -> tuple[list[tuple], dict]:
    """Plan and read the batch after ``start`` as a restarted query
    would: ``partitions(start, start)`` anchors the reader, then
    ``latestOffset`` → ``partitions`` → ``read``. Returns the
    ``PGCDC_SCHEMA`` rows as tuples, and the end offset."""
    reader.partitions(start, start)
    end = reader.latestOffset()
    rows: list[tuple] = []
    for part in reader.partitions(start, end):
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows, end


class TruncatingReplayTransport(ReplayTransport):
    """First fetch per WAL dir returns at most ``cut`` messages and
    flags itself truncated (the replay analog of a live fetch ending
    on budget exhaustion with backlog remaining). The one-shot marker
    is a FILE in the WAL dir because each drain round builds a fresh
    reader — and, under the real data-source runner, in a fresh
    process — so in-memory state cannot carry 'already truncated'."""

    CUT = 2

    def __init__(self, wal_dir: str):
        super().__init__(wal_dir)
        self.truncations = 0  # instance-level (class attr is shared 0)

    def fetch(self, after_lsn, limit, after_seq=None):
        marker = os.path.join(self.wal_dir, ".truncated_once")
        if not os.path.exists(marker):
            with open(marker, "w") as f:
                f.write("1")
            out = super().fetch(after_lsn, min(self.CUT, limit), after_seq)
            self.truncations += 1
            return out
        return super().fetch(after_lsn, limit, after_seq)


class TruncatingReplaySource(PgCdcDataSource):
    """``format("pgcdc_trunc")`` — the pgcdc source wired to the
    truncating transport through the live reader (the parallel reader
    plans offsets from the corpus, not from fetch)."""

    @classmethod
    def name(cls) -> str:
        return "pgcdc_trunc"

    def streamReader(self, schema):
        reader = PgCdcLiveReader(self.options)
        reader.transport = TruncatingReplayTransport(self.options["wal_dir"])
        return reader
