"""Correctness gate: the pipeline's outputs against independent answers.

Ground truth never comes from the code under test. Row counts come from
the parquet footers, per-category counts from the pandas oracle over the
generator's lines (``inputs.ground_truth``), and every summary table and
API answer from DuckDB over the sink's parquet files.
"""

from __future__ import annotations

import calendar
import datetime as dt
import glob
import os
import time

import duckdb
import pyarrow.parquet as pq

from inputs import FILTER_FIELDS, Call


class Gate:
    """Named pass/fail checks; every failure counts against the run."""

    def __init__(self):
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), "" if ok else detail))

    @property
    def failed(self) -> int:
        return sum(1 for _, ok, _ in self.checks if not ok)

    def failures(self) -> list[tuple[str, str]]:
        return [(name, detail) for name, ok, detail in self.checks if not ok]


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _sink_files(root: str) -> str:
    return _lit(os.path.join(root, "data", "*", "*", "*.parquet"))


def connect(root: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the routed sink: table ``sink`` holds every row except
    the token payload, with the ``category`` partition column read from
    the directory names. Loaded once, so each check is an in-memory query."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE sink AS SELECT * EXCLUDE (tokens) FROM read_parquet({_sink_files(root)}, "
        "hive_partitioning = true, hive_types_autocast = false)"
    )
    return con


# ---- aggregates as SQL ----------------------------------------------------

def _totals(src: str) -> str:
    return f"""
        SELECT category, count(*) AS row_count,
               count(*) FILTER (WHERE status_code >= 400) AS error_count,
               count(DISTINCT ip) AS unique_ips,
               coalesce(sum(response_size_bytes), 0) AS bytes_total,
               coalesce(floor(avg(response_time_ms) FILTER (WHERE response_time_ms > 0)
                              + 0.5)::BIGINT, 0) AS avg_response_time_ms
        FROM {src} GROUP BY category ORDER BY category"""


def _top_urls(src: str, k: int) -> str:
    return f"""
        SELECT url, domain, count(*) AS request_count,
               floor(sum(response_time_ms) / count(*) + 0.5)::BIGINT AS avg_response_time,
               sum(response_size_bytes) AS total_bytes, max(epoch_us) AS last_access_us
        FROM {src} WHERE url IS NOT NULL AND url <> '-'
        GROUP BY url, domain ORDER BY request_count DESC, url ASC LIMIT {int(k)}"""


def _top_users(src: str, k: int) -> str:
    return f"""
        SELECT username, min(ip) AS min_ip, count(*) AS request_count,
               count(DISTINCT ip) AS unique_ips,
               floor(sum(response_time_ms) / count(*) + 0.5)::BIGINT AS avg_response_time,
               sum(response_size_bytes) AS total_bytes,
               min(epoch_us) AS first_seen_us, max(epoch_us) AS last_seen_us
        FROM {src} WHERE username IS NOT NULL AND username <> '-'
        GROUP BY username ORDER BY request_count DESC, username ASC LIMIT {int(k)}"""


_STATUSES = ("SELECT DISTINCT status_code FROM sink "
             "WHERE status_code IS NOT NULL AND status_code > 0 ORDER BY 1")
_ACTIONS = ("SELECT DISTINCT action FROM sink "
            "WHERE action IS NOT NULL AND action <> '-' ORDER BY 1")


def _status_class_sql() -> str:
    from logparser_spark.oracle import STATUS_CLASS as L

    return (f"CASE WHEN status_code >= 200 AND status_code < 300 THEN '{L['2xx']}' "
            f"WHEN status_code >= 300 AND status_code < 400 THEN '{L['3xx']}' "
            f"WHEN status_code >= 400 AND status_code < 500 THEN '{L['4xx']}' "
            f"WHEN status_code >= 500 THEN '{L['5xx']}' ELSE '{L['other']}' END")


# summary table -> (columns read back from its parquet, recompute over the sink)
def _summary_sql() -> dict[str, tuple[str, str]]:
    valid = "(SELECT * FROM sink WHERE valid = 1)"
    day_us = 86_400_000_000
    return {
        "agg_sink_totals": ("*", _totals("sink")),
        "agg_status_hist": ("*", f"""
            SELECT category, {_status_class_sql()} AS status_class, count(*) AS row_count
            FROM sink WHERE valid = 1 GROUP BY 1, 2"""),
        "agg_hourly_hist": ("*", """
            WITH v AS (SELECT category, ((epoch_us // 1000000) % 86400) // 3600 AS hour
                       FROM sink WHERE valid = 1),
                 grid AS (SELECT category, h AS hour
                          FROM (SELECT DISTINCT category FROM v), range(24) t(h)),
                 cnt AS (SELECT category, hour, count(*) AS c FROM v GROUP BY 1, 2)
            SELECT grid.category, grid.hour, coalesce(cnt.c, 0) AS row_count
            FROM grid LEFT JOIN cnt USING (category, hour)"""),
        "agg_daily_rollup": ("username, status_code, epoch_us(day) AS day, request_count", f"""
            SELECT username, status_code, epoch_us // {day_us} * {day_us} AS day,
                   count(*) AS request_count
            FROM sink WHERE valid = 1 GROUP BY 1, 2, 3"""),
        "top_urls": ("*", _top_urls(valid, 100)),
        "top_users": ("*", _top_users(valid, 10)),
        "dim_statuses": ("*", _STATUSES),
        "dim_actions": ("*", _ACTIONS),
    }


# ---- load checks ------------------------------------------------------------

def check_load(gate: Gate, con, root: str, raw_dir: str, truth: dict) -> None:
    """Footer rows, per-category counts and token passthrough of a sink
    that holds exactly the rows of ``raw_dir``."""
    files = glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)
    footer_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    gate.check("load.footer_rows", footer_rows == truth["rows"],
               f"sink footers hold {footer_rows} rows, generator wrote {truth['rows']}")

    got = dict(con.execute("SELECT category, count(*) FROM sink GROUP BY 1").fetchall())
    gate.check("load.categories", got == truth["categories"],
               f"sink {got} != oracle {truth['categories']}")

    ids = truth["token_sample"]
    marks = ", ".join("?" * len(ids))
    raw_pattern = _lit(os.path.join(raw_dir, "*.parquet"))
    want = con.execute(
        f"SELECT doc_id, tokens, n_tok, source FROM read_parquet({raw_pattern}) "
        f"WHERE doc_id IN ({marks}) ORDER BY doc_id", ids).fetchall()
    have = con.execute(
        f"SELECT doc_id, tokens, n_tok, source FROM read_parquet({_sink_files(root)}) "
        f"WHERE doc_id IN ({marks}) ORDER BY doc_id", ids).fetchall()
    gate.check("load.tokens", len(want) == len(ids) and have == want,
               f"{len(have)} sink rows for {len(ids)} sampled doc_ids, "
               f"{sum(a != b for a, b in zip(have, want))} differ")


def check_summaries(gate: Gate, con, root: str) -> None:
    """Each published summary table equals its recompute over the sink
    (as a multiset of rows)."""
    for name, (cols, recompute) in _summary_sql().items():
        path = _lit(os.path.join(root, "summary", name, "*.parquet"))
        published = f"SELECT {cols} FROM read_parquet({path})"
        diff = con.execute(
            f"SELECT count(*) FROM (({published}) EXCEPT ALL ({recompute})) "
            f"UNION ALL SELECT count(*) FROM (({recompute}) EXCEPT ALL ({published}))"
        ).fetchall()
        missing, extra = diff[0][0], diff[1][0]
        gate.check(f"summary.{name}", missing == 0 and extra == 0,
                   f"{missing} published rows not recomputed, {extra} recomputed rows missing")


# ---- API answers ---------------------------------------------------------------

def _epoch_us(s: str) -> int:
    return calendar.timegm(time.strptime(s, "%Y-%m-%d %H:%M:%S")) * 1_000_000


def _facts(flt: tuple | None) -> tuple[str, list]:
    """The valid rows a LogFilter keeps, as SQL + parameters."""
    conds, params = ["valid = 1"], []
    values = dict(zip(FILTER_FIELDS, flt or (None,) * len(FILTER_FIELDS)))
    if values["time_from"]:
        conds.append("epoch_us >= ?")
        params.append(_epoch_us(values["time_from"]))
    if values["time_to"]:
        conds.append("epoch_us <= ?")
        params.append(_epoch_us(values["time_to"]))
    for col in ("ip", "username", "status_code", "action"):
        if values[col] is not None and values[col] != "":
            conds.append(f"{col} = ?")
            params.append(values[col])
    if values["search"]:
        conds.append("(contains(url, ?) OR contains(domain, ?))")
        params += [values["search"], values["search"]]
    return f"(SELECT * FROM sink WHERE {' AND '.join(conds)})", params


_LOG_COLS = ("doc_id, epoch_us AS time, ip, username, url, domain, status_code, "
             "response_time_ms, response_size_bytes, action")


def expected(con, call: Call, cursor: tuple | None = None) -> list[tuple]:
    """DuckDB's answer to an API call (cursor = (time_us, doc_id) of
    the row a keyset page resumes after)."""
    src, params = _facts(call.flt)
    p = dict(call.params)
    if call.endpoint == "statistics":
        sql = _totals(src)
    elif call.endpoint == "top_urls":
        sql = _top_urls(src, p.get("k", 100))
    elif call.endpoint == "top_users":
        sql = _top_users(src, p.get("k", 10))
    elif call.endpoint == "statuses":
        sql, params = _STATUSES, []
    elif call.endpoint == "actions":
        sql, params = _ACTIONS, []
    elif call.endpoint == "logs":
        size = p.get("size", 50)
        sql = (f"SELECT {_LOG_COLS} FROM {src} ORDER BY epoch_us DESC, doc_id "
               f"LIMIT {int(size)} OFFSET {(int(p.get('page', 1)) - 1) * int(size)}")
    elif call.endpoint == "logs_after":
        sql = (f"SELECT {_LOG_COLS} FROM {src} "
               "WHERE epoch_us < ? OR (epoch_us = ? AND doc_id > ?) "
               f"ORDER BY epoch_us DESC, doc_id LIMIT {int(p.get('size', 50))}")
        params = params + [cursor[0], cursor[0], cursor[1]]
    else:
        raise ValueError(f"unknown endpoint {call.endpoint!r}")
    return con.execute(sql, params).fetchall()


def normalize(rows) -> list[tuple]:
    """Spark rows as plain tuples; timestamps become epoch microseconds
    (pyspark hands them over as naive local-time datetimes)."""
    def plain(v):
        if isinstance(v, dt.datetime):
            return int(v.replace(microsecond=0).timestamp()) * 1_000_000 + v.microsecond
        return v

    return [tuple(plain(v) for v in row) for row in rows]


def check_calls(gate: Gate, con, answers: list[tuple[Call, tuple | None, list]]) -> None:
    """Every recorded (call, cursor, rows) equals DuckDB's answer."""
    for i, (call, cursor, rows) in enumerate(answers):
        want = expected(con, call, cursor)
        got = normalize(rows)
        gate.check(f"query.{i}.{call.endpoint}", got == want,
                   f"{call}: {len(got)} rows, DuckDB has {len(want)}; "
                   f"first difference {next(((a, b) for a, b in zip(got, want) if a != b), None)}")
