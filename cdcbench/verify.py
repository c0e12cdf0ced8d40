"""Output verifier: what the sink received against an independent
capture of the same WAL, read over SQL from its own slot."""

from __future__ import annotations

import glob
import json
import os

from .pg import FILTERED_TABLE, lsn_int


def expected_keys(changes) -> set[tuple[str, int, str]]:
    """(xid, lsn, operation) of every data message a whitelisted table
    produced, from ``Cluster.take_changes`` rows."""
    keys = set()
    for lsn, xid, _ms, line in changes:
        if not line.startswith("table "):
            continue
        head = line.split(": ", 2)
        if head[0] == f"table {FILTERED_TABLE}":
            continue
        keys.add((xid, lsn, head[1]))
    return keys


def read_lines(pattern: str) -> list[str]:
    lines = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            lines.extend(ln.rstrip("\n") for ln in f if ln.strip())
    return lines


def check(delivered_lines: list[str], expected: set) -> tuple[set[str], list[str], int]:
    """(xids of failed transactions, problems, expected messages not
    delivered). All are empty or 0 when the delivered set equals
    ``expected`` and every duplicate is byte-identical to its first
    copy."""
    problems = []
    seen: dict[tuple, str] = {}
    dups = 0
    differ: set[tuple] = set()
    for raw in delivered_lines:
        env = json.loads(raw)
        key = (env["txn"].split("-", 1)[0], lsn_int(env["lsn"]), env["operation"])
        first = seen.setdefault(key, raw)
        if first is not raw:
            dups += 1
            if first != raw:
                differ.add(key)
    missing = expected - seen.keys()
    extra = seen.keys() - expected
    mismatched = len(differ)
    if missing:
        problems.append(f"{len(missing)} expected messages not delivered, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} delivered messages not in the capture, e.g. {min(extra)}")
    if mismatched:
        problems.append(f"{mismatched} of {dups} duplicates differ from their first copy")
    return {k[0] for k in missing | extra | differ}, problems, len(missing)


def newest_lsn(delivered_lines: list[str]) -> int:
    return max((lsn_int(json.loads(raw)["lsn"]) for raw in delivered_lines), default=0)


def epoch_output(out_dir: str) -> list[str]:
    """Lines of an ``exactly_once_ndjson`` output directory."""
    return read_lines(os.path.join(out_dir, "epoch=*", "part-*"))
