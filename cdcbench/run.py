"""CDC benchmark for pg_bifrost_spark.

Run one workload from the root of a checkout:

    python3 cdcbench/run.py --workload replay_bulk --seed 7 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See cdcbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark runs local[CORES] on every commit, whatever the host has, so two
# commits measured on one host compare. Two task slots leave room on a
# 4-vCPU host for the JVM's own threads, the driver and the Python
# workers, so a run does not queue on itself.
CORES = 2


def _parse_args(argv):
    p = argparse.ArgumentParser(prog="cdcbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Run:
    """Owns everything one benchmark run starts: the work directory, the
    Postgres cluster and the Spark session. ``close()`` stops them all
    and waits for every process this run started."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.cluster = None
        self.spark = None
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep the JVM's, the Python workers' and Spark's scratch files
        # inside the checkout
        os.environ["TMPDIR"] = tmp
        # every JVM, the spark-submit launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.path("warehouse")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def postgres(self):
        from cdcbench.pg import Cluster

        self.cluster = Cluster(self.path("pg"))
        self.cluster.start()
        return self.cluster

    def session(self):
        from pg_bifrost_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"cdcbench-{self.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)

    def close(self) -> None:
        try:
            self.stop_session()
        finally:
            try:
                if self.cluster is not None:
                    self.cluster.stop()
            finally:
                _reap_descendants()
                shutil.rmtree(self.work, ignore_errors=True)
                try:
                    os.rmdir(os.path.dirname(self.work))
                except OSError:
                    pass


REAP_WAIT_S = 30.0


def _reap_descendants() -> None:
    """Terminate whatever this process still has below it (Python
    workers outliving the JVM) and wait up to REAP_WAIT_S until they
    are gone."""
    from cdcbench.trace import tree_pids

    me = os.getpid()
    pids = [p for p in tree_pids(me) if p != me]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    end = time.monotonic() + REAP_WAIT_S
    while pids and time.monotonic() < end:
        for pid in list(pids):
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
                alive = done == 0
            except ChildProcessError:
                alive = os.path.exists(f"/proc/{pid}")
            if not alive:
                pids.remove(pid)
        time.sleep(0.05)


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pg_bifrost_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cdcbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    from cdcbench.trace import cpu_ticks

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        t1, ticks1 = time.perf_counter(), cpu_ticks()
        run.close()
        # CPU time the hypervisor gave to other guests: a noisy host
        # shows here before it shows as a regression
        steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        print(f"cdcbench: workload {t1 - t0:.1f} s, teardown {time.perf_counter() - t1:.1f} s, "
              f"host CPU steal {steal:.1%}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
