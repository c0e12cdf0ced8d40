"""Replication-slot name rules at the slot-DDL entry points
(``WireConnection.create_slot`` / ``drop_slot``): names are checked
against the charset Postgres allows and lowercased before any command
text is built. The connection's ``simple_query`` is replaced by a
recorder, so no server or Spark session is needed."""

from __future__ import annotations

import pytest

from pg_bifrost_spark.sources.pgwire import WireConnection, WireError


def _recording_conn(log: list[str]) -> WireConnection:
    conn = WireConnection(host="127.0.0.1", port=1, user="u", dbname="d")

    def simple_query(sql: str):
        log.append(sql)
        return []

    conn.simple_query = simple_query
    return conn


@pytest.mark.parametrize("bad", ["", "x; DROP TABLE", "a b", "s'lot", "sé"])
def test_slot_name_validation(bad):
    log = []
    conn = _recording_conn(log)
    with pytest.raises(WireError, match="invalid replication slot"):
        conn.create_slot(bad)
    with pytest.raises(WireError, match="invalid replication slot"):
        conn.drop_slot(bad)
    assert log == []  # rejected before any command text is sent


def test_slot_name_lowercased():
    log = []
    conn = _recording_conn(log)
    assert conn.create_slot("MySlot") is True
    conn.drop_slot("MySlot")
    assert log == [
        "CREATE_REPLICATION_SLOT myslot LOGICAL test_decoding",
        "DROP_REPLICATION_SLOT myslot WAIT",
    ]
