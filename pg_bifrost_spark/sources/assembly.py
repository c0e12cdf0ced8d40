"""Transaction assembly: the one rule every CDC reader applies to a WAL
message stream (the reference's ``client.go:487-545``).

* ``BEGIN <xid>`` opens a transaction. It adopts the xid, and its
  ``time_based_key`` is ``"<xid>-<BEGIN lsn>"``: the deterministic
  analog of the reference's nanosecond stamp, so replaying the same WAL
  derives the same key (the exactly-once property the offset log
  relies on).
* Every other line carries the open transaction's ``(xid, tbk)``.
* An error marker (``line is None``) closes the open transaction with
  a synthetic ``COMMIT <xid>`` and ends the fold; the reader then skips
  ahead (client.go:386-424).

``pgcdc.py`` (live and parallel readers, both transports),
``pgcdc_multi.py`` and the protocol loop in ``protocol.py`` call these
helpers. Messages are ``(lsn, time_ms, line[, k])`` tuples, where ``k``
is the message's index within its equal-LSN run (``run_head_k``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# raw message + assembled txn identity (parser runs downstream)
PGCDC_SCHEMA = StructType(
    [
        StructField("wal_start", LongType()),
        StructField("server_wal_end", LongType()),
        StructField("server_time_ms", LongType()),
        StructField("stream_id", IntegerType()),
        StructField("line", StringType()),
        StructField("txn_id", StringType()),
        StructField("time_based_key", StringType()),
    ]
)


def step(lsn: int, line: str, xid: str | None, tbk: str | None):
    """``(xid, tbk)`` after ``line`` at ``lsn``: a BEGIN adopts its xid
    and keys the transaction by its own LSN; any other line keeps the
    open transaction's."""
    if line.startswith("BEGIN "):
        xid = line.split(" ", 2)[1]
        return xid, f"{xid}-{lsn}"
    return xid, tbk


def is_commit(line: str | None) -> bool:
    return line is not None and (line == "COMMIT" or line.startswith("COMMIT "))


def run_head_k(line: str | None) -> int:
    """Run index of the message that opens an equal-LSN run: -1 for a
    COMMIT, else 0. A COMMIT stamped X ends its transaction at X, and a
    walsender restarted at X does not resend it, so it takes no slot in
    the run: the next transaction's BEGIN at X is k=0 on every
    connection, and the consumed count after the COMMIT (k + 1 = 0)
    still admits it."""
    return -1 if is_commit(line) else 0


def fold(msgs, xid: str | None = None, tbk: str | None = None, rows: list | None = None):
    """Assemble ``msgs`` in stream order from the carried ``(xid, tbk)``.
    With ``rows``, append one ``(lsn, time_ms, line, xid, tbk)`` per
    message. An error marker ends the fold, and an open transaction gets
    a synthetic COMMIT row at the marker's position. Returns
    ``(xid, tbk, n)``, where n counts the messages before the marker
    (``len(msgs)`` when there is none)."""
    for n, m in enumerate(msgs):
        line = m[2]
        if line is None:
            if rows is not None and xid is not None:
                rows.append((m[0], m[1], f"COMMIT {xid}", xid, tbk))
            return xid, tbk, n
        xid, tbk = step(m[0], line, xid, tbk)
        if rows is not None:
            rows.append((m[0], m[1], line, xid, tbk))
    return xid, tbk, len(msgs)


def enclosing_txn(msgs, i: int):
    """The transaction open just before ``msgs[i]``: scan back to the
    nearest BEGIN, COMMIT or error marker, O(txn). Returns
    ``(j, xid, tbk)``: j is the marker's index, and xid/tbk are None
    unless it is a BEGIN. ``(-1, None, None)`` when no marker precedes
    ``i``."""
    for j in range(i - 1, -1, -1):
        line = msgs[j][2]
        if line is None or is_commit(line):
            return j, None, None
        xid, tbk = step(msgs[j][0], line, None, None)
        if xid is not None:
            return j, xid, tbk
    return -1, None, None


def arrow_batch(rows: list, stream_id: int = 0):
    """``fold`` rows as one ``PGCDC_SCHEMA`` Arrow RecordBatch: the
    columnar hop to the JVM instead of per-row tuple pickling."""
    import pyarrow as pa

    wal, tms, lines, xids, tbks = zip(*rows) if rows else ((),) * 5
    return pa.RecordBatch.from_arrays(
        [
            pa.array(wal, pa.int64()),
            pa.array([w + 8 for w in wal], pa.int64()),
            pa.array(tms, pa.int64()),
            pa.array([stream_id] * len(wal), pa.int32()),
            pa.array(lines, pa.string()),
            pa.array(xids, pa.string()),
            pa.array(tbks, pa.string()),
        ],
        names=PGCDC_SCHEMA.fieldNames(),
    )
