"""Output check, run outside the timed region.

The first (untimed) pass of every run materializes each query's result and
checks it: an oracled query is compared with its ``registry.oracle_sql()``
statement run in DuckDB over the same parquet tables, using the repository's
own ``tools/oracle_check.compare``; a rows-only query must return at least
one row.  Every query's schema is recorded there, and each timed execution
must reproduce it.

DuckDB and the comparison run in a small pool of spawned processes while
Spark goes on to the next query; ``problems()`` waits for all of them, so
no check work overlaps a timed pass.
"""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import Future, ProcessPoolExecutor

_CON = None  # one DuckDB connection per pool process


def _open_duckdb(sf_dir: str, tmp_dir: str) -> None:
    global _CON
    import duckdb

    from tools.oracle_check import TABLES

    _CON = duckdb.connect()
    _CON.execute("SET threads TO 1")
    _CON.execute(f"SET temp_directory = '{os.path.join(tmp_dir, f'duckdb-{os.getpid()}')}'")
    for t in TABLES:
        _CON.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")


def _against_oracle(name: str, sql: str, spark_pdf) -> list[str]:
    from tools.oracle_check import compare

    return compare(spark_pdf, _CON.execute(sql).df(), name)


class OutputCheck:
    def __init__(self, sf_dir: str, oracles: dict[str, str], tmp_dir: str, workers: int) -> None:
        self.oracles = oracles
        self.schemas: dict[str, object] = {}
        self._pending: dict[str, Future | list[str]] = {}
        self._pool = ProcessPoolExecutor(
            max_workers=workers,
            mp_context=multiprocessing.get_context("spawn"),
            initializer=_open_duckdb,
            initargs=(sf_dir, tmp_dir),
        )

    def first(self, name: str, build) -> None:
        """Build and materialize ``name`` once and queue its check."""
        try:
            df = build()
            self.schemas[name] = df.schema
            sql = self.oracles.get(name)
            if sql is not None:
                self._pending[name] = self._pool.submit(
                    _against_oracle, name, sql, df.toPandas()
                )
            elif df.count() == 0:
                self._pending[name] = ["rows-only query returned no rows"]
            else:
                self._pending[name] = []
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            self._pending[name] = [f"{type(exc).__name__}: {str(exc)[:300]}"]

    def problems(self) -> dict[str, list[str]]:
        """Wait for every queued check; return the failing queries."""
        out = {}
        for name, pending in self._pending.items():
            if isinstance(pending, Future):
                try:
                    pending = pending.result()
                except Exception as exc:  # noqa: BLE001 - oracle side failed
                    pending = [f"oracle {type(exc).__name__}: {str(exc)[:300]}"]
            if pending:
                out[name] = pending
        return out

    def schema_problems(self, name: str, df) -> list[str]:
        want = self.schemas.get(name)
        if want is None or df.schema == want:
            return []
        return [f"schema drift: {df.schema.simpleString()} != {want.simpleString()}"]

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)
        # Spawning the pool also started multiprocessing's resource tracker;
        # stop it and wait for it rather than leave it to outlive the run.
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
