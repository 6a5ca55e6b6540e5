"""Throwaway PostgreSQL cluster for the ``etl_load`` workload.

``initdb`` and the ``postgres`` server run as the ``postgres`` system
user when the benchmark runs as root (the server refuses root), on a
free loopback port with trust auth. The server is a child of this
process, not daemonised by ``pg_ctl``, so ``close()`` can wait for it
and collect it. The flush policy is fixed:

    fsync=off, synchronous_commit=off, full_page_writes=off

so load times measure the engine and the wire path, not the sandbox
disk; autovacuum is off so no background transaction lands in the
commit counts. The cluster lives in a private temporary directory,
since the server's user may not be able to enter the checkout (e.g.
one under a 0700 home). It is shut down, waited for and the directory
removed by ``close()`` (the caller runs it in a ``finally``), after a
failure too.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess
import tempfile
import time

FLUSH_SETTINGS = {
    "fsync": "off", "synchronous_commit": "off", "full_page_writes": "off",
    "autovacuum": "off",
}

# the reference DDL (docker/schema_database_pgsql.sql) as the live
# reference-pipeline test creates it: engine-assigned dimension ids
DDL = [
    """CREATE TABLE tbl_planos (
         id BIGINT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
         descricao VARCHAR(255) UNIQUE,
         valor NUMERIC(15,2))""",
    """CREATE TABLE tbl_clientes (
         id BIGINT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
         nome_razao_social VARCHAR(500),
         nome_fantasia VARCHAR(500),
         cpf_cnpj VARCHAR(20) UNIQUE,
         data_nascimento DATE,
         data_cadastro TIMESTAMP)""",
    """CREATE TABLE tbl_cliente_contratos (
         id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
         cliente_id BIGINT NOT NULL REFERENCES tbl_clientes (id),
         plano_id BIGINT NOT NULL REFERENCES tbl_planos (id),
         dia_vencimento INTEGER,
         isento BOOLEAN DEFAULT FALSE,
         endereco_logradouro VARCHAR(500),
         endereco_numero VARCHAR(50),
         endereco_bairro VARCHAR(200),
         endereco_cidade VARCHAR(200),
         endereco_complemento VARCHAR(200),
         endereco_cep VARCHAR(20),
         endereco_uf VARCHAR(2),
         status_id INTEGER)""",
    """CREATE TABLE tbl_cliente_contatos (
         id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
         cliente_id BIGINT NOT NULL REFERENCES tbl_clientes (id),
         tipo_contato_id INTEGER,
         contato VARCHAR(500),
         UNIQUE (cliente_id, tipo_contato_id, contato))""",
]
# a pgwire session commits its start-up and its one transaction
COMMITS_PER_SESSION = 2
TABLES = ["tbl_planos", "tbl_clientes", "tbl_cliente_contratos", "tbl_cliente_contatos"]


def _is_root() -> bool:
    return os.geteuid() == 0


def _as_pg() -> dict:
    """``Popen`` arguments that run the child as the ``postgres`` user
    when this process is root."""
    return {"user": "postgres", "group": "postgres", "extra_groups": []} if _is_root() else {}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    def __init__(self) -> None:
        # run.py points TMPDIR into the checkout; the server needs a
        # directory its own user can reach
        self.base = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        if _is_root():
            shutil.chown(self.base, user="postgres")
        self.data = os.path.join(self.base, "data")
        self.port = _free_port()
        self.dsn = f"postgresql://spark@127.0.0.1:{self.port}/postgres"
        self.server = None
        self.own_sessions = 0  # connections this harness opened itself
        try:
            self._start()
        except BaseException:
            self.close()
            raise

    def _start(self) -> None:
        t0 = time.perf_counter()
        self._run(["initdb", "-D", self.data, "-U", "spark", "--auth=trust",
                   "-E", "UTF8", "--no-sync"])
        opts = [f"-c{k}={v}" for k, v in FLUSH_SETTINGS.items()]
        with open(os.path.join(self.base, "server.log"), "wb") as log:
            self.server = subprocess.Popen(
                ["postgres", "-D", self.data, "-p", str(self.port),
                 "-c", "listen_addresses=127.0.0.1", "-k", self.base, *opts],
                cwd=self.base, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, **_as_pg())
        self._wait_ready(60.0)
        self.boot_s = time.perf_counter() - t0
        with self.connect() as conn, conn.cursor() as cur:
            for ddl in DDL:
                cur.execute(ddl)
            conn.commit()

    def _run(self, args: list[str]) -> None:
        subprocess.run(args, check=True, cwd=self.base, capture_output=True, timeout=120,
                       **_as_pg())

    def _wait_ready(self, timeout_s: float) -> None:
        """Wait until the server accepts connections: the status line
        of ``postmaster.pid`` reads ``ready`` (what ``pg_ctl -w``
        waits for)."""
        pidfile = os.path.join(self.data, "postmaster.pid")
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.server.poll() is not None:
                raise RuntimeError(f"postgres exited with {self.server.returncode}; "
                                   f"see {self.base}/server.log")
            try:
                with open(pidfile) as f:
                    lines = f.read().splitlines()
                if len(lines) > 7 and lines[7].strip() == "ready":
                    return
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError(f"postgres not ready after {timeout_s:.0f} s")

    def connect(self):
        from etl_xlsx_potgres_spark.sinks import pgwire

        self.own_sessions += 1
        return _Closing(pgwire.connect(self.dsn))

    def query(self, sql: str) -> list[tuple]:
        with self.connect() as conn, conn.cursor() as cur:
            cur.execute(sql)
            rows = cur.fetchall()
            conn.commit()
        return rows

    def reset(self) -> None:
        with self.connect() as conn, conn.cursor() as cur:
            cur.execute(f"TRUNCATE {', '.join(TABLES)} RESTART IDENTITY CASCADE")
            conn.commit()

    def db_stats(self) -> tuple[int, int]:
        """(tup_inserted, xact_commit) of the database, the harness's
        own sessions excluded. Each session of the harness adds
        ``COMMITS_PER_SESSION`` commits, counted when it exits; so read
        until a read sees only the previous read's session as new."""
        sql = ("SELECT tup_inserted, xact_commit FROM pg_stat_database "
               "WHERE datname = current_database()")
        last = None
        for _ in range(100):
            ins, com = (int(v) for v in self.query(sql)[0])
            if last is not None and (ins, com) == (last[0], last[1] + COMMITS_PER_SESSION):
                break
            last = (ins, com)
            time.sleep(0.02)
        # every harness session but this read's own is already counted
        return ins, com - COMMITS_PER_SESSION * (self.own_sessions - 1)

    def close(self) -> None:
        if self.server is not None:
            # immediate shutdown; the postmaster exits after its backends
            self.server.send_signal(signal.SIGQUIT)
            try:
                self.server.wait(60)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()
            self.server = None
        shutil.rmtree(self.base, ignore_errors=True)


class _Closing:
    """Context manager that closes a pgwire connection on exit."""

    def __init__(self, conn) -> None:
        self.conn = conn

    def __enter__(self):
        return self.conn

    def __exit__(self, *exc) -> None:
        self.conn.close()
