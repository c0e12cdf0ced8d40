"""Traced-run tooling: spans, a StreamingQueryProgress collector, a
sink-attempt counter, and /proc samplers for memory (PSS) and CPU steal.

All of it observes the program from outside: spans are opened by the
benchmark around calls into the program's public functions, progress
comes from Spark's listener bus, and the sink counter wraps the
transport the benchmark hands to ``kinesis_writer``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
import zlib
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

from pg_bifrost_spark.sinks.capture import FlakyFileTransport


class Spans:
    """In-memory spans (name, start, end, parent, op id), written out
    once when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, op: str) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Span time minus the union of its children's intervals, summed
        per name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# StreamingQueryProgress.durationMs phases, in the order a trigger runs them
TRIGGER_PHASES = ("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
# how long to wait for the listener bus to deliver a query's progress
PROGRESS_WAIT_S = 10.0


class ProgressCollector(StreamingQueryListener):
    """Keeps every StreamingQueryProgress, as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, expected: int) -> None:
        """Wait up to PROGRESS_WAIT_S until at least ``expected`` entries
        arrived (the listener bus delivers asynchronously, so progress of
        a query that already returned may still be queued)."""
        end = time.monotonic() + PROGRESS_WAIT_S
        while len(self.progress) < expected and time.monotonic() < end:
            time.sleep(0.05)


def progress_start(p: dict) -> float:
    """Wall time (s) a trigger started, from its ISO timestamp."""
    stamp = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return stamp.replace(tzinfo=timezone.utc).timestamp()


class CountingFlakyTransport(FlakyFileTransport):
    """FlakyFileTransport that also appends one line per send attempt
    (records offered, records failed, bytes offered, whether it is a
    first attempt) to a per-task file under ``stats_dir``."""

    def __init__(self, out_dir: str, stats_dir: str, error_pct: int):
        super().__init__(out_dir, error_pct)
        self.stats_dir = stats_dir
        self._failed: set[int] = set()
        self._path: str | None = None

    def __call__(self, batch):
        failed = super().__call__(batch)
        ids = [zlib.crc32(rec[0]) for rec in batch]
        retry = bool(ids) and all(i in self._failed for i in ids)
        self._failed = {zlib.crc32(rec[0]) for rec in failed}
        if self._path is None:
            os.makedirs(self.stats_dir, exist_ok=True)
            self._path = os.path.join(self.stats_dir, f"attempts-{uuid.uuid4().hex}.jsonl")
        with open(self._path, "a") as f:
            f.write(json.dumps({
                "offered": len(batch), "failed": len(failed),
                "bytes": sum(len(rec[0]) for rec in batch), "first": not retry,
            }) + "\n")
        return failed


def read_attempts(stats_dir: str) -> list[dict]:
    rows = []
    if os.path.isdir(stats_dir):
        for name in sorted(os.listdir(stats_dir)):
            with open(os.path.join(stats_dir, name)) as f:
                rows.extend(json.loads(ln) for ln in f if ln.strip())
    return rows


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        rest = stat[stat.rfind(")") + 2:].split()
        children.setdefault(int(rest[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


# load-generator processes are not part of the program under test
_NOT_PROGRAM = {"pgbench", "psql", "setpriv", "pg_ctl"}


MEM_PERIOD_S = 0.25


class MemSampler:
    """Samples the summed proportional set size (PSS) of this process
    and its descendants (JVM, Python workers) every MEM_PERIOD_S. PSS
    splits a page shared by several processes among them, so Python
    workers forked from one daemon do not count their shared pages once
    each."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() in _NOT_PROGRAM:
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(MEM_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
