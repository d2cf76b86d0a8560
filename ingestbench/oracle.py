"""Independent last-writer-wins oracle over the generated change log.

DuckDB reads the same log parquet the pipeline ingests and computes, for
a high-water mark ``hwm``, the LWW winner per ``url`` among events with
``seq <= hwm``, ordered by (``warc_ts`` desc, ``seq`` desc). A winner
whose op is ``delete`` is not live. None of this shares code with the
engine's merge path, so an engine bug cannot hide in the oracle.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_WINNERS = """
    SELECT url, seq, op FROM log WHERE seq <= {hwm}
    QUALIFY row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) = 1
"""


class Oracle:
    def __init__(self, log_dir: str, tmp_dir: str, threads: int):
        self.log_glob = f"{log_dir}/*.parquet"
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute(
            "CREATE VIEW log AS SELECT seq, url, op, warc_ts "
            f"FROM read_parquet('{self.log_glob}')"
        )

    def close(self) -> None:
        self.con.close()

    def deleted_keys(self, hwm: int) -> list[str]:
        """Keys whose LWW winner at ``hwm`` is a tombstone, sorted."""
        rows = self.con.execute(
            f"SELECT url FROM ({_WINNERS.format(hwm=hwm)}) "
            "WHERE op = 'delete' ORDER BY url"
        ).fetchall()
        return [r[0] for r in rows]

    def slice_bytes(self, lo: int, hi: int) -> int:
        """Bytes of the change-log slice ``(lo, hi]`` as uncompressed
        column values: fixed-width part/seq/warc_ts plus the byte
        lengths of op, url, html and lang. Exact and independent of how
        the log parquet happens to be compressed."""
        (n,) = self.con.execute(
            "SELECT sum(4 + 8 + 8 + strlen(op) + strlen(url)"
            " + coalesce(octet_length(html), 0) + coalesce(strlen(lang), 0))"
            f" FROM read_parquet('{self.log_glob}') WHERE seq > {lo} AND seq <= {hi}"
        ).fetchone()
        return int(n or 0)

    def check_state(self, state: pa.Table, hwm: int) -> dict:
        """Compare the engine's live state (url, seq, text_null) with the
        oracle at ``hwm``: live-row count, an order-independent digest of
        (url, seq), and non-null text on every live row."""
        self.con.register("state", state)
        try:
            exp_n, exp_d = self.con.execute(
                f"SELECT count(*), coalesce(sum(hash(url, seq)::HUGEINT), 0) "
                f"FROM ({_WINNERS.format(hwm=hwm)}) WHERE op <> 'delete'"
            ).fetchone()
            got_n, got_d, null_text = self.con.execute(
                "SELECT count(*), coalesce(sum(hash(url, seq)::HUGEINT), 0),"
                " count(*) FILTER (WHERE text_null) FROM state"
            ).fetchone()
        finally:
            self.con.unregister("state")
        return {
            "rows_expected": int(exp_n),
            "rows_got": int(got_n),
            "count_ok": exp_n == got_n,
            "digest_ok": exp_d == got_d,
            "null_text_rows": int(null_text),
        }

    def bad_lookups(self, lookups: list[tuple]) -> int:
        """Lookups (hwm, url, returned seq or None, rows returned) that
        disagree with the oracle at their own hwm — one query for all."""
        if not lookups:
            return 0
        tbl = pa.table(
            {
                "i": pa.array(range(len(lookups)), pa.int64()),
                "hwm": pa.array([r[0] for r in lookups], pa.int64()),
                "url": pa.array([r[1] for r in lookups], pa.string()),
                "got_seq": pa.array([r[2] for r in lookups], pa.int64()),
                "n_rows": pa.array([r[3] for r in lookups], pa.int64()),
            }
        )
        self.con.register("lk", tbl)
        try:
            (bad,) = self.con.execute(
                """
                WITH cand AS (
                    SELECT lk.i, g.seq, g.op, row_number() OVER (
                        PARTITION BY lk.i ORDER BY g.warc_ts DESC, g.seq DESC) AS rn
                    FROM lk JOIN log g ON g.url = lk.url AND g.seq <= lk.hwm),
                exp AS (
                    SELECT i, CASE WHEN op = 'delete' THEN NULL ELSE seq END AS exp_seq
                    FROM cand WHERE rn = 1)
                SELECT count(*) FROM lk LEFT JOIN exp USING (i)
                WHERE lk.n_rows > 1 OR lk.got_seq IS DISTINCT FROM exp.exp_seq
                """
            ).fetchone()
        finally:
            self.con.unregister("lk")
        return int(bad)

    def bad_scans(self, scans: list[tuple]) -> int:
        """Full-state aggregates (hwm, live rows counted) that disagree
        with the oracle's live-row count at their hwm."""
        if not scans:
            return 0
        tbl = pa.table(
            {
                "hwm": pa.array([r[0] for r in scans], pa.int64()),
                "n": pa.array([r[1] for r in scans], pa.int64()),
            }
        )
        self.con.register("sc", tbl)
        try:
            (bad,) = self.con.execute(
                """
                WITH h AS (SELECT DISTINCT hwm FROM sc),
                w AS (
                    SELECT h.hwm, g.op, row_number() OVER (
                        PARTITION BY h.hwm, g.url ORDER BY g.warc_ts DESC, g.seq DESC) AS rn
                    FROM h JOIN log g ON g.seq <= h.hwm),
                e AS (
                    SELECT hwm, count(*) FILTER (WHERE op <> 'delete') AS n
                    FROM w WHERE rn = 1 GROUP BY hwm)
                SELECT count(*) FROM sc LEFT JOIN e USING (hwm)
                WHERE sc.n IS DISTINCT FROM coalesce(e.n, 0)
                """
            ).fetchone()
        finally:
            self.con.unregister("sc")
        return int(bad)
