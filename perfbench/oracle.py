"""Independent output check: a last-writer-wins oracle in DuckDB.

The generator's event log (key, cursor, lsn, delete flag, lateness, segment
— no page bytes) is written to parquet during set-up. DuckDB computes the
expected final state from it with its own window query: per url, the
event with the highest (warc_ts_us, lsn) wins, and a winning delete means
the key is absent. The engine's final state is exported next to the md5 of
the text the generator knows it must hold, and every row is compared.
"""

from __future__ import annotations

import duckdb


def connect(events_glob: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{events_glob}')")
    con.execute(
        """
        CREATE TABLE win AS
        SELECT url, warc_ts_us, lsn, is_del, lang FROM ev
        QUALIFY row_number() OVER (
            PARTITION BY url ORDER BY warc_ts_us DESC, lsn DESC) = 1
        """
    )
    return con


def compare(con: duckdb.DuckDBPyConnection, got_glob: str) -> dict:
    """Mismatch counts between the oracle and an exported final state with
    columns url, ts_us, lsn, lang, got_md5, exp_md5."""
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{got_glob}')")
    row = con.execute(
        """
        WITH live AS (SELECT * FROM win WHERE NOT is_del)
        SELECT
          count(*) FILTER (WHERE g.url IS NULL)                            AS missing_keys,
          count(*) FILTER (WHERE l.url IS NULL)                            AS extra_keys,
          count(*) FILTER (WHERE l.url IS NOT NULL AND g.url IS NOT NULL
                           AND (g.ts_us IS DISTINCT FROM l.warc_ts_us
                                OR g.lsn IS DISTINCT FROM l.lsn))          AS wrong_version,
          count(*) FILTER (WHERE g.url IS NOT NULL
                           AND g.got_md5 IS DISTINCT FROM g.exp_md5)       AS wrong_text,
          count(*) FILTER (WHERE l.url IS NOT NULL AND g.url IS NOT NULL
                           AND g.lang IS DISTINCT FROM l.lang)             AS wrong_lang,
          count(*) FILTER (WHERE l.url IS NOT NULL)                        AS expected_rows
        FROM live l FULL OUTER JOIN got g ON l.url = g.url
        """
    ).fetchone()
    dup = con.execute("SELECT count(*) - count(DISTINCT url) FROM got").fetchone()[0]
    out = dict(
        zip(
            ["missing_keys", "extra_keys", "wrong_version", "wrong_text", "wrong_lang",
             "expected_rows"],
            row,
        )
    )
    out["duplicate_keys"] = dup
    out["mismatches"] = sum(v for k, v in out.items() if k != "expected_rows")
    return out


def lang_counts(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    """Live rows per lang in the oracle's final state."""
    return dict(con.execute("SELECT lang, count(*) FROM win WHERE NOT is_del GROUP BY lang").fetchall())


def segments(con: duckdb.DuckDBPyConnection) -> dict[int, int]:
    """Events per segment id in the generated input."""
    return dict(con.execute("SELECT seg, count(*) FROM ev GROUP BY seg").fetchall())


def summary(con: duckdb.DuckDBPyConnection, where: str = "TRUE") -> dict:
    """Input properties of the events selected by `where`: what a change
    measured on this workload exercised."""
    r = con.execute(
        f"""
        WITH e AS (SELECT * FROM ev WHERE {where}),
        per_seg AS (SELECT seg, count(DISTINCT url) AS k FROM e GROUP BY seg),
        last AS (SELECT url, max(lsn) AS lsn FROM e GROUP BY url),
        late_losers AS (
            SELECT count(*) AS n FROM e JOIN last USING (url)
            JOIN win w USING (url)
            WHERE e.late AND e.lsn = last.lsn AND w.lsn <> e.lsn)
        SELECT count(*), count(DISTINCT url),
               (SELECT avg(k) FROM per_seg),
               avg(is_del::INT), avg(late::INT), avg(nonascii::INT),
               (SELECT n FROM late_losers),
               (SELECT count(*) FROM win WHERE is_del)
        FROM e
        """
    ).fetchone()
    n, keys, keys_per_seg, dele, late, nonascii, late_losers, tomb = r
    return {
        "events": n,
        "distinct_keys": keys,
        "events_per_key": round(n / keys, 3),
        "keys_per_segment": round(keys_per_seg, 2),
        "tombstone_share": round(dele, 4),
        "late_share": round(late, 4),
        "non_ascii_share": round(nonascii, 4),
        "late_events_that_must_lose": late_losers,
        "keys_ending_as_tombstones": tomb,
    }
