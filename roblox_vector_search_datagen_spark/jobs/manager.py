"""Job orchestration layer (S17 / SURVEY.md §3.3): the reference's
SQLite-backed jobManager (src/lib/jobManager.ts:46-268) over the same
store: one stdlib-sqlite3 table at `<log_dir>/jobs.db` with the
reference DDL, status CHECK constraint and indexes (sources.sqlite_jobs).
Job state is control-plane data, O(commands run), so every call is a
driver-side SQL statement and none starts a Spark job; `current()` is the
one Spark view, for the reference-format export and analytics.

Each transition is one `BEGIN IMMEDIATE` transaction: read the row, check
the move against `_ALLOWED`, UPDATE. The write lock is taken before the
read, so two threads or two processes over one directory cannot both
move a job out of `running`.

Timestamps are fixed-width '%Y-%m-%d %H:%M:%S.%f' UTC text: it sorts
chronologically and keeps microseconds (exportJobsDb truncates to the
reference's seconds).

State machine (jobManager.ts:6, 245-268):

    pending --start--> running --+--> completed (result)
                                 +--> failed    (error)
"""

from __future__ import annotations

import os
import sqlite3
import uuid
from contextlib import closing, contextmanager
from datetime import datetime, timezone
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..schemas import JOB_SCHEMA, JOB_STATUSES, local_df
from ..sources.sqlite_jobs import COLUMNS, JOBS_DDL, JOBS_INDEXES, decode_row, encode_row

_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
_SELECT = f"SELECT {', '.join(COLUMNS)} FROM jobs"
_INTO = f"INTO jobs ({', '.join(COLUMNS)}) VALUES ({', '.join('?' * len(COLUMNS))})"
_UPDATE = f"UPDATE jobs SET {', '.join(f'{c} = ?' for c in COLUMNS)} WHERE id = ?"

_ALLOWED = {
    ("pending", "running"),
    ("running", "completed"),
    ("running", "failed"),
    # progress updates keep the current status
    ("running", "running"),
    ("pending", "pending"),
}


class JobManager:
    """Job table at `<log_dir>/jobs.db`.

    `clock` is injectable so tests are deterministic; production default
    is wall-clock UTC (reference uses SQLite datetime('now'),
    jobManager.ts:74-76).
    """

    def __init__(self, spark: SparkSession, log_dir: str, clock: Callable[[], datetime] | None = None):
        self.spark = spark
        self.log_dir = log_dir
        self.db_path = os.path.join(log_dir, "jobs.db")
        self._clock = clock or (lambda: datetime.now(timezone.utc).replace(tzinfo=None))
        # jobUpdated observers (jobManager.ts:188-192 emits an
        # EventEmitter notification on every job mutation; the API's
        # long-poll endpoints hang off it). Each callback receives the
        # full post-transition row dict. Observer errors are isolated —
        # a bad listener must not fail the job transition itself.
        self._observers: list[Callable[[dict], None]] = []
        os.makedirs(log_dir, exist_ok=True)
        with self._write() as con:
            con.execute(JOBS_DDL)
            for ix in JOBS_INDEXES:
                con.execute(ix)

    # -- store primitives --------------------------------------------------

    def _connect(self) -> sqlite3.Connection:
        # autocommit mode: transactions are opened explicitly by _write
        return sqlite3.connect(self.db_path, timeout=30, isolation_level=None)

    @contextmanager
    def _write(self) -> Iterator[sqlite3.Connection]:
        """One write transaction, holding the write lock from its first
        statement to COMMIT (rolled back if the body raises)."""
        with closing(self._connect()) as con:
            con.execute("BEGIN IMMEDIATE")
            try:
                yield con
            except BaseException:
                con.execute("ROLLBACK")
                raise
            con.execute("COMMIT")

    def _select(self, where: str = "", params: tuple = ()) -> list[dict]:
        with closing(self._connect()) as con:
            return [decode_row(v) for v in con.execute(f"{_SELECT} {where}", params)]

    def current(self) -> DataFrame:
        """Every job's current row as a Spark DataFrame (JOB_SCHEMA)."""
        return local_df(self.spark, self._select(), JOB_SCHEMA)

    def seed_from(self, jobs_df: DataFrame) -> int:
        """Load a current-state snapshot (e.g. a reference jobs.db read
        through sources.sqlite_jobs); an imported row replaces the
        stored row with the same id. Returns rows imported."""
        rows = [encode_row(r.asDict(), _TS_FMT) for r in jobs_df.collect()]
        with self._write() as con:
            con.executemany(f"INSERT OR REPLACE {_INTO}", rows)
        return len(rows)

    # -- reference API surface (jobManager.ts:70-243) ----------------------

    def create_job(self, command: str) -> str:
        job_id = str(uuid.uuid4())
        row = {
            "id": job_id,
            "command": command,
            "status": "pending",
            "progress_current": None,
            "progress_total": None,
            "progress_message": None,
            "result": None,
            "error": None,
            "created_at": self._clock(),
            "started_at": None,
            "completed_at": None,
        }
        with self._write() as con:
            con.execute(f"INSERT {_INTO}", encode_row(row, _TS_FMT))
        self._notify(row)
        return job_id

    def get_job(self, job_id: str) -> dict | None:
        rows = self._select("WHERE id = ?", (job_id,))
        return rows[0] if rows else None

    def _transition(self, job_id: str, status: str | None, **updates) -> dict:
        """Move `job_id` to `status` (None keeps its current status) and
        apply `updates`, all in one write transaction."""
        if status is not None and status not in JOB_STATUSES:
            raise ValueError(f"unknown status {status!r}")
        with self._write() as con:
            found = con.execute(f"{_SELECT} WHERE id = ?", (job_id,)).fetchone()
            if found is None:
                raise KeyError(job_id)
            cur = decode_row(found)
            status = status or cur["status"]
            if (cur["status"], status) not in _ALLOWED:
                raise ValueError(f"illegal transition {cur['status']} -> {status} for {job_id}")
            nxt = {**cur, "status": status, **updates}
            con.execute(_UPDATE, (*encode_row(nxt, _TS_FMT), job_id))
        self._notify(nxt)
        return nxt

    # -- jobUpdated events (jobManager.ts:188-192) -------------------------

    def on_job_updated(self, callback: Callable[[dict], None]) -> Callable[[], None]:
        """Subscribe to every job mutation (creation + each transition,
        including progress updates). Returns an unsubscribe thunk."""
        self._observers.append(callback)
        return lambda: self._observers.remove(callback)

    def _notify(self, row: dict) -> None:
        for cb in list(self._observers):
            try:
                cb(dict(row))
            except Exception:  # noqa: BLE001 — listener bugs don't fail jobs
                pass

    def start_job(self, job_id: str) -> dict:
        return self._transition(job_id, "running", started_at=self._clock())

    def update_progress(self, job_id: str, current: int, total: int, message: str | None = None) -> dict:
        return self._transition(
            job_id,
            None,
            progress_current=current,
            progress_total=total,
            progress_message=message,
        )

    def complete_job(self, job_id: str, result: str | None = None) -> dict:
        return self._transition(job_id, "completed", result=result, completed_at=self._clock())

    def fail_job(self, job_id: str, error: str) -> dict:
        return self._transition(job_id, "failed", error=error, completed_at=self._clock())

    def run_job(self, job_id: str, fn: Callable[[], str | None]) -> dict:
        """runJob (jobManager.ts:245-268): running -> fn() -> completed
        with its result, or failed with the error message."""
        self.start_job(job_id)
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — reference stores any error
            return self.fail_job(job_id, str(e))
        return self.complete_job(job_id, result)

    # -- queries (jobManager.ts:93-102, 218-243) ---------------------------

    def list_jobs(self, limit: int = 100, offset: int = 0) -> list[dict]:
        """Newest-first page; limit clamped to the reference's 1..1000
        (jobsList.get.ts:95-100)."""
        limit = max(1, min(1000, limit))
        return self._select("ORDER BY created_at DESC, id DESC LIMIT ? OFFSET ?", (limit, offset))

    def counts_by_status(self) -> list[dict]:
        with closing(self._connect()) as con:
            rows = con.execute("SELECT status, COUNT(*) FROM jobs GROUP BY status ORDER BY status")
            return [{"status": s, "count": n} for s, n in rows]

    def delete_old_jobs(self, cutoff: datetime) -> int:
        """deleteOldJobs (jobManager.ts:209-216): drop completed/failed
        jobs created before the cutoff. Returns rows deleted."""
        with self._write() as con:
            return con.execute(
                "DELETE FROM jobs WHERE status IN ('completed', 'failed') AND created_at < ?",
                (cutoff.strftime(_TS_FMT),),
            ).rowcount
