"""Independent answers the benchmark checks the program's outputs against.

Ingest outputs (the drain and the daily job) are compared with the generator's ground
truth (``gen.trace_truth``); query responses with DuckDB over the same
generated parquet the program read.  Every check returns a list of
error messages (empty when the output is right), so a caller can count
wrong outputs as failed operations.
"""

from __future__ import annotations

import duckdb

SENTINEL_PREFIX = "zzwatermark_sentinel"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def check_traces_sink(traces_dir: str, truth: dict) -> list[str]:
    """Closed traces (sentinels excluded): one session per generated trace,
    each with exactly its generated span count."""
    con = _con()
    got = dict(
        con.execute(
            f"SELECT trace_id, CAST(sum(span_count) AS BIGINT) "
            f"FROM {_glob(traces_dir)} WHERE trace_id NOT LIKE '{SENTINEL_PREFIX}%' "
            "GROUP BY trace_id HAVING count(*) = 1"
        ).fetchall()
    )
    sessions = con.execute(
        f"SELECT count(*) FROM {_glob(traces_dir)} "
        f"WHERE trace_id NOT LIKE '{SENTINEL_PREFIX}%'"
    ).fetchone()[0]
    errors = []
    if sessions != len(truth["span_counts"]):
        errors.append(
            f"closed traces {sessions} != generated {len(truth['span_counts'])}"
        )
    if got != truth["span_counts"]:
        bad = sum(1 for k, v in truth["span_counts"].items() if got.get(k) != v)
        errors.append(f"{bad} traces with wrong span count")
    return errors


def check_edges(rows: list[tuple], truth: dict, what: str) -> list[str]:
    """(parent, child, calls, errors) rows against the per-edge truth."""
    got = {(p, c): (int(n), int(e)) for p, c, n, e in rows}
    if got == truth["edges"]:
        return []
    missing = set(truth["edges"]) - set(got)
    extra = set(got) - set(truth["edges"])
    wrong = sum(
        1 for k in set(got) & set(truth["edges"]) if got[k] != truth["edges"][k]
    )
    return [
        f"{what}: {len(missing)} edges missing, {len(extra)} extra, "
        f"{wrong} with wrong counts"
    ]


def link_rows_by_edge(links_dir: str) -> list[tuple]:
    """Per-trace link rows of the streaming links sink, merged per edge."""
    return _con().execute(
        f"SELECT parent, child, count(*), sum(CAST(is_error AS BIGINT)) "
        f"FROM {_glob(links_dir)} GROUP BY parent, child"
    ).fetchall()


def store_links_by_edge(path: str) -> list[tuple]:
    """The dependency_links store holds one row per (minute, edge)."""
    return _con().execute(
        f"SELECT parent, child, sum(call_count), sum(error_count) "
        f"FROM {_glob(path)} GROUP BY parent, child"
    ).fetchall()


def count_rows(path: str, real_traces: bool = False) -> int:
    """Rows of a parquet dataset; ``real_traces`` leaves out sentinels."""
    where = f"WHERE trace_id NOT LIKE '{SENTINEL_PREFIX}%'" if real_traces else ""
    return _con().execute(f"SELECT count(*) FROM {_glob(path)} {where}").fetchone()[0]


def merged_links(path: str) -> list[tuple]:
    return _con().execute(
        f"SELECT parent, child, call_count, error_count FROM {_glob(path)}"
    ).fetchall()


def trace_span_counts(path: str) -> dict:
    """aggregate_traces output: trace_id -> span_count, with the span array
    length required to agree with span_count."""
    rows = _con().execute(
        f"SELECT trace_id, span_count, len(spans) FROM {_glob(path)}"
    ).fetchall()
    return {t: (n if n == m else -1) for t, n, m in rows}


# Query responses ---------------------------------------------------------------


class QueryOracle:
    """DuckDB over the generated spans parquet, answering the sampled
    requests the same way the Zipkin API defines them."""

    def __init__(self, spans_path: str):
        self.con = _con()
        self.con.execute(
            f"CREATE VIEW spans AS SELECT * FROM read_parquet('{spans_path}')"
        )

    def _q(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def answer(self, kind: str, args: dict):
        return getattr(self, kind)(**args)

    def find_traces(self, service=None, span_name=None, annotation=None,
                    min_duration=None, max_duration=None, end_ts=0,
                    lookback=0, limit=10):
        conds, params = ["true"], []
        for col, val in (("local_service", service), ("name", span_name)):
            if val is not None:
                conds.append(f"{col} = ?")
                params.append(val)
        if min_duration is not None:
            conds.append("duration >= ?")
            params.append(min_duration)
        if max_duration is not None:
            conds.append("duration <= ?")
            params.append(max_duration)
        for key, value in (annotation or {}).items():
            col = {"environment": "env", "k": "tag_k"}.get(key)
            if key == "error":
                conds.append("is_error" if value in ("", "true") else "false")
            elif col is None:
                conds.append("false")
            elif value == "":
                conds.append(f"{col} IS NOT NULL")
            else:
                conds.append(f"{col} = ?")
                params.append(value)
        lo, hi = (end_ts - lookback) * 1000, end_ts * 1000
        rows = self._q(
            f"""
            WITH m AS (SELECT DISTINCT trace_id FROM spans WHERE {' AND '.join(conds)}),
                 s AS (SELECT trace_id, count(*) AS n, min(timestamp) AS ts
                       FROM spans GROUP BY trace_id)
            SELECT s.trace_id, s.n, s.ts FROM s JOIN m USING (trace_id)
            WHERE s.ts BETWEEN {lo} AND {hi}
            ORDER BY s.ts DESC, s.trace_id LIMIT {int(limit)}
            """,
            params,
        )
        return [tuple(r) for r in rows]

    def get_trace(self, trace_id):
        return sorted(
            r[0] for r in self._q("SELECT id FROM spans WHERE trace_id = ?", [trace_id])
        )

    def trace_many(self, trace_ids):
        ids = ",".join(f"'{t}'" for t in trace_ids)
        return sorted(
            tuple(r)
            for r in self._q(
                f"SELECT trace_id, count(*), min(timestamp) FROM spans "
                f"WHERE trace_id IN ({ids}) GROUP BY trace_id"
            )
        )

    def service_names(self):
        return [
            r[0]
            for r in self._q(
                "SELECT DISTINCT local_service FROM spans "
                "WHERE local_service IS NOT NULL ORDER BY 1 LIMIT 1000"
            )
        ]

    def _names(self, col, service):
        return sorted(
            r[0]
            for r in self._q(
                f"SELECT DISTINCT {col} FROM spans WHERE local_service = ? "
                f"AND {col} IS NOT NULL",
                [service],
            )
        )

    def span_names(self, service):
        return self._names("name", service)

    def remote_service_names(self, service):
        return self._names("remote_service", service)

    def autocomplete_values(self, key):
        col = {"environment": "env", "k": "tag_k"}[key]
        return sorted(
            r[0] for r in self._q(f"SELECT DISTINCT {col} FROM spans WHERE {col} IS NOT NULL")
        )

    def dependencies(self, end_ts, lookback):
        lo, hi = (end_ts - lookback) * 1000, end_ts * 1000
        return sorted(
            tuple(r)
            for r in self._q(
                f"""
                SELECT p.local_service, c.local_service, count(*),
                       sum(CAST(c.is_error AS BIGINT))
                FROM spans c JOIN spans p
                  ON c.trace_id = p.trace_id AND c.parent_id = p.id
                WHERE c.timestamp BETWEEN {lo} AND {hi}
                GROUP BY 1, 2
                """
            )
        )


def normalize_response(kind: str, rows: list) -> object:
    """Spark Row lists -> the shape :class:`QueryOracle` returns."""
    if kind == "find_traces":
        return [(r["trace_id"], r["span_count"], r["trace_timestamp"]) for r in rows]
    if kind == "get_trace":
        return sorted(r["id"] for r in rows)
    if kind == "trace_many":
        return sorted((r["trace_id"], r["span_count"], r["trace_timestamp"]) for r in rows)
    if kind == "service_names":
        return [r["service_name"] for r in rows]
    if kind in ("span_names", "remote_service_names", "autocomplete_values"):
        col = {"span_names": "names", "remote_service_names": "remote_services",
               "autocomplete_values": "tag_values"}[kind]
        return sorted(v for r in rows for v in r[col].split(",")) if rows else []
    if kind == "dependencies":
        return sorted(
            (r["parent"], r["child"], r["call_count"], r["error_count"]) for r in rows
        )
    raise ValueError(kind)
