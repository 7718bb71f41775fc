"""Self-tests of the benchmark (no Spark): generator determinism, ground
truth against a DuckDB recount, the checks catching a planted wrong
answer, and the printed metric names matching BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracle
import run
import tracer
import workloads

SMALL = gen.TraceParams(n_spans=1600)


def _link_rows(rows):
    by_key = {(r["trace_id"], r["id"]): r for r in rows}
    out = []
    for r in rows:
        p = by_key.get((r["trace_id"], r["parent_id"]))
        if p is not None:
            out.append({"trace_id": r["trace_id"], "parent": p["local_service"],
                        "child": r["local_service"], "is_error": r["is_error"],
                        "timestamp": r["timestamp"]})
    return out


def test_generator_is_deterministic_per_seed():
    a, b, c = (gen.generate_traces(s, SMALL) for s in (5, 5, 6))
    assert a == b
    assert a != c
    fa = gen.arrival_files(a, 500, 5)
    assert fa == gen.arrival_files(b, 500, 5)


def test_arrival_files_are_time_ordered_and_complete():
    rows = gen.generate_traces(3, SMALL)
    files = gen.arrival_files(rows, 400, 3)
    for earlier, later in zip(files, files[1:]):
        assert max(r["timestamp"] for r in earlier) <= min(r["timestamp"] for r in later)
    assert sorted(r["id"] for f in files for r in f) == sorted(r["id"] for r in rows)
    # some spans are out of order inside a file
    assert any(
        f != sorted(f, key=lambda r: (r["timestamp"], r["id"])) for f in files
    )


def test_traces_fit_well_inside_the_session_gap():
    rows = gen.generate_traces(4, SMALL)
    lo, hi = {}, {}
    for r in rows:
        t = r["trace_id"]
        lo[t] = min(lo.get(t, r["timestamp"]), r["timestamp"])
        hi[t] = max(hi.get(t, r["timestamp"]), r["timestamp"] + r["duration"])
    assert max(hi[t] - lo[t] for t in lo) < workloads.GAP_US / 2


def test_truth_matches_duckdb_recount(tmp_path):
    rows = gen.generate_traces(7, SMALL)
    path = str(tmp_path / "spans.parquet")
    workloads.write_spans(rows, path)
    truth = gen.trace_truth(rows)
    con = duckdb.connect()
    counts = dict(con.execute(
        f"SELECT trace_id, count(*) FROM '{path}' GROUP BY 1").fetchall())
    assert counts == truth["span_counts"]
    edges = con.execute(
        f"""SELECT p.local_service, c.local_service, count(*),
                   sum(CAST(c.is_error AS BIGINT))
            FROM '{path}' c JOIN '{path}' p
              ON c.trace_id = p.trace_id AND c.parent_id = p.id
            GROUP BY 1, 2""").fetchall()
    assert oracle.check_edges(edges, truth, "recount") == []
    assert truth["n_spans"] == len(rows)


def test_staged_records_decode_to_the_generated_spans():
    from zipkin_storage_kafka_spark.functions.proto import (
        decode_span_list,
        encode_span_list,
    )

    rows = gen.generate_traces(8, gen.TraceParams(n_spans=200))
    records = gen.group_records(rows)
    decoded = [s for rec in records
               for s in decode_span_list(encode_span_list([gen.to_wire(r) for r in rec]))]
    assert sorted((s["trace_id"], s["id"], s["parent_id"]) for s in decoded) == sorted(
        (r["trace_id"], r["id"], r["parent_id"]) for r in rows
    )


def test_dropped_link_row_fails_the_check(tmp_path):
    rows = gen.generate_traces(9, SMALL)
    truth = gen.trace_truth(rows)
    links = _link_rows(rows)
    for name, subset in (("all", links), ("dropped", links[1:])):
        d = tmp_path / name / "epoch=0"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(subset), str(d / "part-0.parquet"))
    ok = oracle.check_edges(oracle.link_rows_by_edge(str(tmp_path / "all")), truth, "links")
    bad = oracle.check_edges(oracle.link_rows_by_edge(str(tmp_path / "dropped")), truth, "links")
    assert ok == []
    assert bad and "wrong counts" in bad[0]


def test_missing_trace_fails_the_sink_check(tmp_path):
    rows = gen.generate_traces(10, SMALL)
    truth = gen.trace_truth(rows)
    sessions = [{"trace_id": t, "span_count": n} for t, n in truth["span_counts"].items()]
    sessions.append({"trace_id": oracle.SENTINEL_PREFIX + "_1", "span_count": 1})
    for name, subset in (("all", sessions), ("short", sessions[1:])):
        d = tmp_path / name / "epoch=0"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(subset), str(d / "part-0.parquet"))
    assert oracle.check_traces_sink(str(tmp_path / "all"), truth) == []
    assert oracle.check_traces_sink(str(tmp_path / "short"), truth)


def test_query_oracle_agrees_with_a_python_recount(tmp_path):
    rows = gen.generate_traces(11, SMALL)
    path = str(tmp_path / "spans.parquet")
    workloads.write_spans(rows, path)
    ora = oracle.QueryOracle(path)
    t = rows[0]["trace_id"]
    assert ora.get_trace(t) == sorted(r["id"] for r in rows if r["trace_id"] == t)
    assert ora.service_names() == sorted({r["local_service"] for r in rows})
    end = (gen.DAY_START_US + gen.DAY_US) // 1000
    deps = ora.dependencies(end, gen.DAY_US // 1000)
    assert oracle.check_edges(deps, gen.trace_truth(rows), "deps") == []
    hits = ora.find_traces(service="svc-00", end_ts=end, lookback=gen.DAY_US // 1000)
    assert len(hits) == 10
    assert [h[2] for h in hits] == sorted((h[2] for h in hits), reverse=True)


def test_printed_metric_names_are_in_the_spec():
    with open(run.SPEC) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    assert sorted(e2e) == sorted(run.E2E_METRICS)
    assert sorted(per_layer) == sorted(
        workloads.layer_metric_names() + run.runner_layer_metrics()
    )
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    units = {n: "s" for n in e2e}
    line = run.result_line({"cpu_ms_per_item": 1.5}, units, attempted=3, failed=0)
    assert set(line["metrics"]) == set(e2e) and line["correct"]
    assert not run.result_line({}, units, attempted=3, failed=1)["correct"]
    with pytest.raises(ValueError):
        run.result_line({"not_in_spec": 1.0}, units, attempted=1, failed=0)


def test_self_time_subtracts_children():
    tr = tracer.Tracer(enabled=True)
    with tr.span("bench:pass") as root:
        with tr.span("operators:a") as a:
            pass
        with tr.span("operators:b") as b:
            pass
    self_s = tr.self_seconds()
    assert self_s["operators"] == pytest.approx(a.seconds + b.seconds)
    assert self_s["bench"] == pytest.approx(root.seconds - a.seconds - b.seconds)
    assert {s.parent for s in (a, b)} == {root.sid}


def test_runner_refuses_a_directory_without_the_program(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "ingest", "--seed", "1", "--seconds", "1"]) != 0
    assert os.listdir(tmp_path) == []


def test_tail_percentile_leaves_ten_samples_beyond():
    tail = run.tail_percentile([float(i) for i in range(1, 51)])
    assert tail == {"pct": 80.0, "ms": 40.0, "beyond": 10}
