"""SQLite interchange for the jobs table — byte-level parity with the
reference's `data/jobs.db` (src/lib/jobManager.ts:46-67: DDL, CHECK
constraint, and the three indexes), using only the stdlib sqlite3
module.

Scale rationale: jobs metadata is control-plane state — O(commands
run), not O(data). A driver-side read/write is therefore the correct
execution strategy even on a 1000-executor cluster; distributing a
few-hundred-row control table through executors would only add
overhead. This module is the interchange bridge so a reference
deployment can hand its jobs.db to this engine (or take one back)
without a conversion step; jobs.manager keeps its own store in the
same DDL.

Timestamps: the reference stores DATETIME strings via SQLite
datetime('now') — 'YYYY-MM-DD HH:MM:SS' in UTC. Spark-side the column
is a naive TIMESTAMP interpreted as UTC everywhere in this repo, so
the bridge formats/parses exactly that shape (seconds precision; the
reference never stores fractions).
"""

from __future__ import annotations

import sqlite3
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..schemas import JOB_SCHEMA, JOB_STATUSES, local_df

# reference DDL, verbatim semantics (jobManager.ts:46-60)
JOBS_DDL = """
CREATE TABLE IF NOT EXISTS jobs (
    id TEXT PRIMARY KEY,
    command TEXT NOT NULL,
    status TEXT NOT NULL CHECK (status IN ('pending', 'running', 'completed', 'failed')),
    progress_current INTEGER,
    progress_total INTEGER,
    progress_message TEXT,
    result TEXT,
    error TEXT,
    created_at DATETIME NOT NULL,
    started_at DATETIME,
    completed_at DATETIME
)
"""

JOBS_INDEXES = (
    "CREATE INDEX IF NOT EXISTS idx_jobs_status ON jobs(status)",
    "CREATE INDEX IF NOT EXISTS idx_jobs_created_at ON jobs(created_at DESC)",
    "CREATE INDEX IF NOT EXISTS idx_jobs_command ON jobs(command)",
)

COLUMNS = [f.name for f in JOB_SCHEMA.fields]
_TS_COLS = ("created_at", "started_at", "completed_at")
_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _parse_ts(v: str | None) -> datetime | None:
    if v is None:
        return None
    # jobs.manager's store keeps fractional seconds; the reference does not
    fmt = _TS_FMT + (".%f" if "." in v else "")
    return datetime.strptime(v, fmt)


def decode_row(values: tuple) -> dict:
    """A jobs-table row (COLUMNS order) as a JOB_SCHEMA dict with
    datetime timestamps."""
    rec = dict(zip(COLUMNS, values))
    for c in _TS_COLS:
        rec[c] = _parse_ts(rec[c])
    return rec


def encode_row(rec: dict, ts_fmt: str = _TS_FMT) -> tuple:
    """A JOB_SCHEMA dict as jobs-table values in COLUMNS order, with
    timestamps as `ts_fmt` text (default: the reference's seconds)."""
    return tuple(
        (None if rec[c] is None else rec[c].strftime(ts_fmt)) if c in _TS_COLS else rec[c]
        for c in COLUMNS
    )


def read_jobs_db(spark: SparkSession, db_path: str) -> DataFrame:
    """Load a reference-format jobs.db into a DataFrame with
    JOB_SCHEMA. Unknown statuses are rejected loudly rather than
    carried into the state machine."""
    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(f"SELECT {', '.join(COLUMNS)} FROM jobs").fetchall()
    finally:
        con.close()
    recs = [decode_row(row) for row in rows]
    for rec in recs:
        if rec["status"] not in JOB_STATUSES:
            raise ValueError(f"jobs.db row {rec['id']!r} has unknown status {rec['status']!r}")
    return local_df(spark, recs, JOB_SCHEMA)


def write_jobs_db(df: DataFrame, db_path: str) -> int:
    """Write a current-state jobs DataFrame (e.g. JobManager.current())
    into a reference-format jobs.db: reference DDL + indexes, one row
    per job, full-replace semantics (the reference treats jobs.db as
    the single source of truth, so a partial merge would be wrong).
    Returns the row count written."""
    rows = [encode_row(r.asDict()) for r in df.select(*COLUMNS).collect()]
    con = sqlite3.connect(db_path)
    try:
        con.execute(JOBS_DDL)
        for ix in JOBS_INDEXES:
            con.execute(ix)
        con.execute("DELETE FROM jobs")
        con.executemany(
            f"INSERT INTO jobs ({', '.join(COLUMNS)}) VALUES ({', '.join('?' * len(COLUMNS))})",
            rows,
        )
        con.commit()
    finally:
        con.close()
    return len(rows)
