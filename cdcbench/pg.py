"""Throwaway PostgreSQL cluster and the seeded transaction mix.

The cluster lives in the benchmark's work directory, listens on a free
127.0.0.1 port only, and runs with ``wal_level=logical`` and
``track_commit_timestamp=on``. Load comes from ``pgbench`` with one
client and one thread, seeded by ``--random-seed``; the inputs are
never rendered from the program's own fixtures.

Postgres refuses to run as root. When the benchmark runs as root the
server runs as the ``postgres`` user with two file capabilities added
(``setpriv``), because the checkout may sit below a directory that only
root may enter.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess

SLOT_PLUGIN = "test_decoding"

# Tables the pipeline whitelists; audit_log is the non-whitelisted one.
WHITELIST = ["public.items", "public.accounts", "public.docs", 'public."Odd Table"']
FILTERED_TABLE = "public.audit_log"

SCHEMA_SQL = """
CREATE SEQUENCE item_ids;
CREATE SEQUENCE bulk_ids START 1000000000000;
CREATE TABLE items(id bigint PRIMARY KEY, name text, qty int);
CREATE TABLE accounts(id bigint PRIMARY KEY, owner text, balance numeric(14,2));
ALTER TABLE accounts REPLICA IDENTITY FULL;
CREATE TABLE docs(id bigint PRIMARY KEY, rev int, body text);
ALTER TABLE docs ALTER COLUMN body SET STORAGE EXTERNAL;
CREATE TABLE audit_log(id bigserial PRIMARY KEY, msg text);
CREATE TABLE "Odd Table"("Id" bigint, "Note" text);
INSERT INTO accounts SELECT g, 'owner ' || g, 100 FROM generate_series(1, 1000) g;
INSERT INTO docs SELECT g, 0, repeat(md5(g::text), 128) FROM generate_series(1, 200) g;
"""

# One small transaction: multi-row INSERT with quoted text, UPDATE and
# DELETE on items, an old-key UPDATE (REPLICA IDENTITY FULL), an UPDATE
# leaving a TOASTed column unchanged, a row in the filtered table and
# one in the quoted-identifier table (Python parse fallback).
# 11 messages, 8 of them delivered.
MIX_SQL = r"""
\set a random(1, 1000)
\set d random(1, 200)
\set q random(1, 1000000)
BEGIN;
SELECT nextval('item_ids') * 3 AS k \gset
INSERT INTO items(id, name, qty) VALUES
  (:k, 'it''s "quoted" :q', :a),
  (:k + 1, 'plain :q', 2),
  (:k + 2, 'x', :d);
UPDATE items SET qty = qty + 1 WHERE id = :k + 2;
DELETE FROM items WHERE id = :k + 1;
UPDATE accounts SET balance = balance + :q / 100.0 WHERE id = :a;
UPDATE docs SET rev = rev + 1 WHERE id = :d;
INSERT INTO audit_log(msg) VALUES ('touch :q');
INSERT INTO "Odd Table"("Id", "Note") VALUES (:q, 'odd '':q''');
END;
"""
MIX_MSGS, MIX_DATA = 11, 8

# The occasional large transaction: 300 rows in one txn.
BIG_ROWS = 300
BIG_SQL = f"""
INSERT INTO items(id, name, qty)
SELECT nextval('bulk_ids'), 'bulk ' || g, g FROM generate_series(1, {BIG_ROWS}) g;
"""
BIG_MSGS, BIG_DATA = BIG_ROWS + 2, BIG_ROWS


def backlog_msgs(txns: int) -> tuple[int, int]:
    """(messages, delivered data messages) of ``commit_mix(txns)``."""
    return txns * MIX_MSGS + BIG_MSGS, txns * MIX_DATA + BIG_DATA


def lsn_int(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) + int(lo, 16)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _need(tool: str) -> str:
    path = shutil.which(tool)
    if not path:
        raise RuntimeError(f"{tool} not found on PATH")
    return path


class Cluster:
    """One throwaway cluster. ``stop()`` drops the replication slots no
    walsender holds, stops the server (immediate mode) and removes its
    data directory; it is safe to call more than once and on a
    half-started cluster."""

    def __init__(self, root: str):
        self.root = root
        self.data = os.path.join(root, "pgdata")
        self.log = os.path.join(root, "postgres.log")
        self.scripts = os.path.join(root, "pgbench")
        self.port = _free_port()
        self.started = False
        self._as_pg: list[str] = []
        if os.geteuid() == 0:
            caps = "+dac_override,+dac_read_search"
            self._as_pg = [
                _need("setpriv"), "--reuid=postgres", "--regid=postgres",
                "--init-groups", f"--inh-caps={caps}", f"--ambient-caps={caps}",
            ]

    @property
    def dsn(self) -> str:
        return f"postgres://postgres@127.0.0.1:{self.port}/postgres"

    def _run(self, argv: list[str], **kw) -> subprocess.CompletedProcess:
        return subprocess.run(argv, check=True, capture_output=True, text=True, **kw)

    def start(self) -> None:
        os.makedirs(self.data)
        os.chmod(self.data, 0o700)
        if self._as_pg:
            pg = pwd.getpwnam("postgres")
            os.chown(self.data, pg.pw_uid, pg.pw_gid)
        self._run(self._as_pg + [
            _need("initdb"), "-D", self.data, "-A", "trust", "-U", "postgres",
            "-E", "UTF8", "--locale=C", "--no-sync",
        ])
        opts = " ".join([
            f"-p {self.port}", "-c listen_addresses=127.0.0.1",
            "-c unix_socket_directories=''", "-c wal_level=logical",
            "-c track_commit_timestamp=on", "-c max_replication_slots=16",
            "-c max_wal_senders=16", "-c fsync=off", "-c full_page_writes=off",
            "-c shared_buffers=64MB",
        ])
        # the log file must be writable by the server's user
        open(self.log, "w").close()
        if self._as_pg:
            os.chown(self.log, pg.pw_uid, pg.pw_gid)
        self.started = True
        self._run(self._as_pg + [
            _need("pg_ctl"), "-D", self.data, "-l", self.log, "-w", "-t", "60",
            "-o", opts, "start",
        ])
        self.sql(SCHEMA_SQL)
        os.makedirs(self.scripts, exist_ok=True)
        for name, body in (("mix.sql", MIX_SQL), ("big.sql", BIG_SQL)):
            with open(os.path.join(self.scripts, name), "w") as f:
                f.write(body)

    def stop(self) -> None:
        if self.started:
            self.started = False
            try:
                self.sql(
                    "SELECT pg_drop_replication_slot(slot_name) "
                    "FROM pg_replication_slots WHERE NOT active"
                )
            except subprocess.CalledProcessError:
                pass
            subprocess.run(
                self._as_pg + [_need("pg_ctl"), "-D", self.data, "-m", "immediate",
                               "-w", "-t", "60", "stop"],
                capture_output=True,
            )
        shutil.rmtree(self.data, ignore_errors=True)

    # ------------------------------------------------------------- SQL
    def sql(self, query: str) -> list[list[str]]:
        """Rows of ``query`` as lists of text fields (unit/record
        separators, so tabs and newlines in WAL text survive)."""
        out = self._run([
            _need("psql"), "-X", "-q", "-At", "-v", "ON_ERROR_STOP=1",
            "-h", "127.0.0.1", "-p", str(self.port), "-U", "postgres",
            "-F", "\x1f", "-R", "\x1e", "-c", query, "postgres",
        ]).stdout
        return [r.split("\x1f") for r in out.rstrip("\n").split("\x1e") if r]

    def create_slot(self, name: str) -> None:
        self.sql(f"SELECT pg_create_logical_replication_slot('{name}', '{SLOT_PLUGIN}')")

    def drop_slot(self, name: str) -> None:
        self.sql(f"SELECT pg_drop_replication_slot('{name}')")

    def confirmed_flush(self, slot: str) -> int:
        rows = self.sql(
            f"SELECT confirmed_flush_lsn FROM pg_replication_slots WHERE slot_name = '{slot}'"
        )
        return lsn_int(rows[0][0]) if rows and rows[0][0] else 0

    def take_changes(self, slot: str) -> list[tuple[int, str, int, str]]:
        """Consume ``slot`` over SQL: (lsn, xid, commit time ms, line)."""
        rows = self.sql(
            "SELECT lsn, xid, (extract(epoch FROM pg_xact_commit_timestamp(xid)) "
            f"* 1000)::bigint, data FROM pg_logical_slot_get_changes('{slot}', NULL, NULL)"
        )
        return [(lsn_int(r[0]), r[1], int(r[2] or 0), r[3]) for r in rows]

    # ------------------------------------------------------------ load
    def pgbench(self, script: str, txns: int, seed: int) -> None:
        self._run([
            _need("pgbench"), "-n", "-c", "1", "-j", "1", "-t", str(txns),
            f"--random-seed={seed}", "-f", os.path.join(self.scripts, script),
            "-h", "127.0.0.1", "-p", str(self.port), "-U", "postgres", "postgres",
        ])

    def commit_mix(self, txns: int, seed: int) -> None:
        """``txns`` small transactions with one large one in the middle
        (a fixed message count per call, so runs compare)."""
        self.pgbench("mix.sql", txns // 2, seed)
        self.pgbench("big.sql", 1, seed)
        self.pgbench("mix.sql", txns - txns // 2, seed + 1)
