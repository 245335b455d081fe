"""Correctness oracle, computed in DuckDB over the generated event log.

The expected table state after applying the log up to LSN ``L`` is, per
``(repo, path)`` key, the event with the highest LSN ≤ ``L``, dropped when
that event is a delete. States are compared as a sha256 over the sorted
``(repo, path, commit)`` triples; ``commit`` is derived from the LSN, so
it pins which event won.
"""

from __future__ import annotations

import hashlib
import os

import duckdb


def state_digest(rows) -> str:
    """sha256 over sorted (repo, path, commit) triples."""
    h = hashlib.sha256()
    for repo, path, commit in sorted(rows):
        h.update(f"{repo}\t{path}\t{commit}\n".encode())
    return h.hexdigest()


class Oracle:
    def __init__(self, log_dir: str):
        self.con = duckdb.connect()
        # nbytes: the logical size of one event over the columns every log
        # carries — the denominator of write amplification
        self.con.execute(
            """
            CREATE TABLE log AS
            SELECT lsn, op, repo, path, "commit",
                   16 + strlen(op) + strlen(repo) + strlen(path)
                   + coalesce(strlen("commit"), 0)
                   + coalesce(strlen(lang), 0)
                   + coalesce(strlen(content), 0) AS nbytes
            FROM read_parquet(?)
            """,
            [os.path.join(log_dir, "*.parquet")],
        )

    def expected_rows(self, lsn: int) -> list[tuple[str, str, str]]:
        return self.con.execute(
            """
            SELECT repo, path, "commit" FROM (
              SELECT repo, path, "commit", op,
                     row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
              FROM log WHERE lsn <= ?)
            WHERE rn = 1 AND op <> 'delete'
            """,
            [lsn],
        ).fetchall()

    def commit_at(self, lsn: int, repo: str, path: str) -> str | None:
        """The live commit of one key after LSN ``lsn``, None if absent."""
        row = self.con.execute(
            """
            SELECT op, "commit" FROM log
            WHERE repo = ? AND path = ? AND lsn <= ?
            ORDER BY lsn DESC LIMIT 1
            """,
            [repo, path, lsn],
        ).fetchone()
        if row is None or row[0] == "delete":
            return None
        return row[1]

    def event_bytes(self, lo: int, hi: int) -> int:
        """Logical bytes of the events in the LSN range (lo, hi]."""
        (n,) = self.con.execute(
            "SELECT coalesce(sum(nbytes), 0) FROM log WHERE lsn > ? AND lsn <= ?",
            [lo, hi],
        ).fetchone()
        return int(n)

    def keys_at(self, lsns: list[int]) -> list[tuple[str, str]]:
        """The (repo, path) keys of the events at the given LSNs, in order."""
        rows = dict(
            ((lsn, (repo, path)) for lsn, repo, path in self.con.execute(
                "SELECT lsn, repo, path FROM log WHERE list_contains(?, lsn)",
                [lsns],
            ).fetchall())
        )
        return [rows[lsn] for lsn in lsns if lsn in rows]

    def close(self) -> None:
        self.con.close()
