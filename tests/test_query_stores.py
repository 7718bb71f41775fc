"""SpanStore served from its stores (plans/query_api.py) answers exactly what
the per-request plans it replaced answered.

``_Reference`` below keeps those plans inline: every name request
re-aggregated the spans, ``get_traces`` filtered spans and semi-joined the
summaries, ``get_traces_by_ids`` re-ran ``aggregate_traces``.  Each
``SpanStore`` method must return the same rows and the same schema (column
names, types, nullability) on the scalar fixture, a seeded generated day,
unknown keys, empty results and the disabled capabilities.  The store
lifecycle (one build per store under concurrent first calls, one shared
cached trace table, ``close()``) is pinned at the end.
"""

from __future__ import annotations

import random
import sys
import threading

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.zipkin import normalize_trace_id
from zipkin_storage_kafka_spark.operators import (
    aggregate_traces,
    autocomplete_tags,
    dependency_links,
    merge_links,
    remote_service_names,
    service_names,
    span_names,
    trace_summaries,
)
from zipkin_storage_kafka_spark.plans import query_api
from zipkin_storage_kafka_spark.plans.query_api import QueryRequest, SpanStore
from zipkin_storage_kafka_spark.streaming.jobs import SPANS_STREAM_SCHEMA

MICROS = 1_000_000
DAY_START_US = 1_700_006_400 * MICROS  # a UTC midnight
DAY_US = 86_400 * MICROS
END_TS_MS = (DAY_START_US + DAY_US) // 1000


class _Reference:
    """The per-request plans SpanStore used before it kept stores (scalar
    layout; the three enabled flags)."""

    def __init__(self, spans, links=None, summaries=None,
                 trace_search_enabled=True, trace_by_id_query_enabled=True,
                 dependency_query_enabled=True,
                 keys=query_api.DEFAULT_AUTOCOMPLETE_KEYS):
        self.spans = spans
        self.links = links if links is not None else dependency_links(spans)
        self.summaries = (
            summaries if summaries is not None else trace_summaries(spans)
        )
        self.trace_search = trace_search_enabled
        self.trace_by_id = trace_by_id_query_enabled
        self.dependency, self.keys = dependency_query_enabled, keys

    @staticmethod
    def _matches(r: QueryRequest):
        cond = F.lit(True)
        if r.service_name:
            cond &= F.col("local_service") == r.service_name
        if r.remote_service_name:
            cond &= F.col("remote_service") == r.remote_service_name
        if r.span_name:
            cond &= F.col("name") == r.span_name
        if r.min_duration is not None:
            cond &= F.col("duration") >= r.min_duration
        if r.max_duration is not None:
            cond &= F.col("duration") <= r.max_duration
        for key, value in r.annotation_query.items():
            kcol = {
                "environment": F.col("env"),
                "k": F.col("tag_k"),
                "error": F.when(F.col("is_error"), F.lit("true")),
            }.get(key, F.lit(None).cast("string"))
            cond &= kcol.isNotNull() if value == "" else kcol == value
        return cond

    def get_traces(self, r: QueryRequest):
        if not self.trace_search:
            return self.summaries.limit(0)
        ids = self.spans.filter(self._matches(r)).select("trace_id").distinct()
        out = self.summaries.join(ids, "trace_id", "left_semi")
        if r.end_ts > 0:
            out = out.filter(F.col("trace_timestamp").between(
                (r.end_ts - r.lookback) * 1000, r.end_ts * 1000))
        return out.orderBy(
            F.col("trace_timestamp").desc(), F.col("trace_id")
        ).limit(r.limit)

    def get_trace(self, trace_id):
        if not self.trace_by_id:
            return self.spans.limit(0)
        return self.spans.withColumn(
            "trace_id", normalize_trace_id(F.col("trace_id"))
        ).filter(F.col("trace_id") == normalize_trace_id(F.lit(trace_id)))

    def get_traces_by_ids(self, ids):
        if not self.trace_by_id:
            return aggregate_traces(self.spans).limit(0)
        return aggregate_traces(self.spans.filter(F.col("trace_id").isin(ids[:1000])))

    def get_service_names(self):
        return service_names(self.spans).orderBy("service_name").limit(1000)

    def get_span_names(self, svc):
        return span_names(self.spans).filter(F.col("service_name") == svc)

    def get_remote_service_names(self, svc):
        return remote_service_names(self.spans).filter(F.col("service_name") == svc)

    def get_dependencies(self, end_ts, lookback):
        if not self.dependency:
            return merge_links(self.links).limit(0)
        in_range = self.links.filter(F.col("timestamp").between(
            (end_ts - lookback) * 1000, end_ts * 1000))
        return merge_links(in_range).orderBy("parent", "child").limit(1000)

    def get_autocomplete_keys(self):
        return (autocomplete_tags(self.spans, keys=self.keys).select("tag_key")
                .orderBy("tag_key").limit(1000))

    def get_autocomplete_values(self, key):
        return autocomplete_tags(self.spans, keys=self.keys).filter(
            F.col("tag_key") == key)


# Methods whose result order is defined (the rest are compared as sets).
_ORDERED = {"get_traces", "get_service_names", "get_autocomplete_keys",
            "get_dependencies"}


def _assert_same(method: str, got: DataFrame, want: DataFrame) -> None:
    assert got.schema == want.schema, (method, got.schema, want.schema)
    got_rows, want_rows = got.collect(), want.collect()
    if method not in _ORDERED:
        got_rows, want_rows = sorted(got_rows), sorted(want_rows)
    assert got_rows == want_rows, method


def _check(store: SpanStore, ref: _Reference, method: str, *args) -> None:
    _assert_same(method, getattr(store, method)(*args), getattr(ref, method)(*args))


def _span(trace_id, sid, ts_us, parent=None, svc="svc_a", name="op_a",
          kind="CLIENT", remote=None, env=None, error=False, dur=1000, k="1"):
    return Row(
        trace_id=trace_id, id=sid, parent_id=parent, kind=kind, name=name,
        timestamp=ts_us, duration=dur, local_service=svc,
        remote_service=remote, tag_k=k, env=env, is_error=error,
    )


@pytest.fixture(scope="module")
def scalar_spans(spark):
    """The fixture of test_reference_fixtures.py: a two-span client/server
    trace and a newer single error span."""
    base = 1_700_000_000 * MICROS
    return spark.createDataFrame([
        _span("000000000000000a", "1", base, svc="svc_a", name="op_a",
              remote="svc_b", env="dev"),
        _span("000000000000000a", "2", base + 10, parent="1", svc="svc_b",
              name="op_b", kind="SERVER"),
        _span("000000000000000b", "3", base + 120 * MICROS, svc="svc_c",
              name="op_c", kind=None, error=True, dur=50_000),
    ], SPANS_STREAM_SCHEMA)


def generated_day(seed: int, n_traces: int) -> list[Row]:
    """Seeded traces over one day: 6 services, 4 span names, sparse tags,
    nullable remote services, durations and names, and pairs of traces
    starting at the same microsecond (ties on trace_timestamp)."""
    rng = random.Random(seed)
    services = [f"svc_{i}" for i in range(6)]
    rows = []
    start = DAY_START_US
    for t in range(n_traces):
        trace_id = f"{rng.getrandbits(64):016x}"
        if t % 7 != 1:  # every 7th trace starts with the previous one
            start = DAY_START_US + rng.randrange(DAY_US)
        parent = None
        for s in range(rng.randint(1, 5)):
            sid = f"{t:08x}{s:08x}"
            rows.append(_span(
                trace_id, sid, start + s * 1000 + (rng.randrange(500) if s else 0),
                parent=parent,
                svc=rng.choice(services + [None]) if s else rng.choice(services),
                name=rng.choice(["get", "put", "scan", "ping", None]),
                kind=rng.choice(["CLIENT", "SERVER", None]),
                remote=rng.choice([None, None, *services]),
                env=rng.choice([None, "dev", "prod", "staging"]),
                error=rng.random() < 0.15,
                dur=rng.choice([None, rng.randrange(1, 300_000)]),
                k=rng.choice([None, "1", "2", "3"]),
            ))
            parent = sid
    return rows


@pytest.fixture(scope="module")
def day_rows():
    return generated_day(11, 60)


@pytest.fixture(scope="module")
def day_spans(spark, day_rows):
    return spark.createDataFrame(day_rows, SPANS_STREAM_SCHEMA)


def _day_requests(rows: list[Row]) -> list[QueryRequest]:
    """Every find-traces flavour of the UI: service, service + span name,
    tag (environment, k, bare error), service + duration bounds, remote
    service, none; three lookbacks; plus no time range."""
    svc = rows[0].local_service
    name = next(r.name for r in rows if r.local_service == svc and r.name)
    out = []
    for lookback in (3_600_000, 6 * 3_600_000, 24 * 3_600_000):
        window = dict(end_ts=END_TS_MS, lookback=lookback)
        out += [
            QueryRequest(service_name=svc, **window),
            QueryRequest(service_name=svc, span_name=name, **window),
            QueryRequest(annotation_query={"environment": "prod"}, **window),
            QueryRequest(annotation_query={"k": "2"}, **window),
            QueryRequest(annotation_query={"error": ""}, **window),
            QueryRequest(service_name=svc, min_duration=10_000,
                         max_duration=200_000, **window),
            QueryRequest(remote_service_name="svc_3", **window),
            QueryRequest(limit=1000, **window),
        ]
    out += [
        QueryRequest(limit=1000),
        QueryRequest(annotation_query={"environment": "dev", "k": "1"}, limit=5),
        QueryRequest(annotation_query={"no.such.key": ""}, end_ts=END_TS_MS),
        QueryRequest(service_name="svc_0", span_name="scan", limit=3),
    ]
    return out


def test_parity_scalar_fixture(scalar_spans):
    store, ref = SpanStore(scalar_spans), _Reference(scalar_spans)
    base_ms = 1_700_000_000_000
    for request in (
        QueryRequest(service_name="svc_a", end_ts=base_ms + 600_000, lookback=3_600_000),
        QueryRequest(end_ts=base_ms + 600_000, lookback=3_600_000, limit=1),
        QueryRequest(service_name="svc_c", min_duration=10_000),
        QueryRequest(annotation_query={"environment": "dev"}),
        QueryRequest(annotation_query={"error": ""}),
    ):
        _check(store, ref, "get_traces", request)
    _check(store, ref, "get_traces_by_ids", ["000000000000000a", "000000000000000b"])
    _check(store, ref, "get_trace", "a")
    _check(store, ref, "get_service_names")
    _check(store, ref, "get_autocomplete_keys")
    for svc in ("svc_a", "svc_b", "svc_c"):
        _check(store, ref, "get_span_names", svc)
        _check(store, ref, "get_remote_service_names", svc)
    for key in ("environment", "k"):
        _check(store, ref, "get_autocomplete_values", key)
    _check(store, ref, "get_dependencies", base_ms + 600_000, 3_600_000)
    store.close()


def test_parity_generated_day(day_rows, day_spans):
    rows = day_rows
    summaries = trace_summaries(day_spans)
    links = dependency_links(day_spans)
    store = SpanStore(day_spans, links=links, summaries=summaries)
    ref = _Reference(day_spans, links=links, summaries=summaries)
    for request in _day_requests(rows):
        _check(store, ref, "get_traces", request)
    trace_ids = sorted({r.trace_id for r in rows})
    _check(store, ref, "get_traces_by_ids", trace_ids[:7] + ["ffffffffffffffff"])
    _check(store, ref, "get_traces_by_ids", trace_ids)
    _check(store, ref, "get_trace", trace_ids[3])
    _check(store, ref, "get_service_names")
    _check(store, ref, "get_autocomplete_keys")
    for svc in sorted({r.local_service for r in rows if r.local_service}):
        _check(store, ref, "get_span_names", svc)
        _check(store, ref, "get_remote_service_names", svc)
    for key in ("environment", "k"):
        _check(store, ref, "get_autocomplete_values", key)
    for lookback in (3_600_000, 24 * 3_600_000):
        _check(store, ref, "get_dependencies", END_TS_MS, lookback)
    store.close()


def test_parity_unknown_keys_and_empty_results(day_spans):
    store, ref = SpanStore(day_spans), _Reference(day_spans)
    _check(store, ref, "get_span_names", "no_such_service")
    _check(store, ref, "get_remote_service_names", "no_such_service")
    _check(store, ref, "get_autocomplete_values", "no.such.key")
    _check(store, ref, "get_traces", QueryRequest(service_name="no_such_service"))
    _check(store, ref, "get_traces", QueryRequest(end_ts=1, lookback=1))
    _check(store, ref, "get_traces_by_ids", [])
    _check(store, ref, "get_trace", "ffffffffffffffff")
    _check(store, ref, "get_dependencies", 1, 1)
    store.close()
    # no spans at all: every store is empty
    empty = day_spans.limit(0)
    store, ref = SpanStore(empty), _Reference(empty)
    for method in ("get_service_names", "get_autocomplete_keys"):
        _check(store, ref, method)
    _check(store, ref, "get_span_names", "svc_0")
    _check(store, ref, "get_traces", QueryRequest())
    _check(store, ref, "get_traces_by_ids", ["0"])
    store.close()


@pytest.mark.parametrize("flag", [
    "trace_search_enabled", "trace_by_id_query_enabled", "dependency_query_enabled",
])
def test_parity_disabled_flags(day_rows, day_spans, flag):
    store = SpanStore(day_spans, **{flag: False})
    ref = _Reference(day_spans, **{flag: False})
    _check(store, ref, "get_traces", QueryRequest(limit=1000))
    _check(store, ref, "get_traces_by_ids", sorted({r.trace_id for r in day_rows}))
    _check(store, ref, "get_trace", day_rows[0].trace_id)
    _check(store, ref, "get_dependencies", END_TS_MS, DAY_US // 1000)
    _check(store, ref, "get_service_names")
    store.close()


# -- lifecycle --------------------------------------------------------------


def _counting(monkeypatch, owner, name: str) -> list[int]:
    calls = []
    original = getattr(owner, name)

    def counted(*args, **kwargs):
        calls.append(1)
        return original(*args, **kwargs)

    monkeypatch.setattr(owner, name, counted)
    return calls


def test_concurrent_first_calls_build_each_store_once(day_spans, monkeypatch):
    """Clients racing on a new store's first calls (more threads than
    cores, a short switch interval) build each store exactly once and all
    get the same answers."""
    name_builds = _counting(monkeypatch, SpanStore, "_build_name_stores")
    trace_builds = _counting(monkeypatch, query_api, "_trace_spans")
    store = SpanStore(day_spans)
    n = 6
    start = threading.Barrier(n, timeout=60)
    results, errors = {}, []

    def client(ix: int) -> None:
        try:
            start.wait()
            if ix % 2:
                results[ix] = (store.get_span_names("svc_0").collect(),
                               store.get_traces_by_ids(["0"]).collect())
            else:
                results[ix] = (store.get_service_names().collect(),
                               store.get_traces(QueryRequest(limit=3)).collect())
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(name_builds) == 1
    assert len(trace_builds) == 1
    assert len({repr(results[i]) for i in range(0, n, 2)}) == 1
    assert len({repr(results[i]) for i in range(1, n, 2)}) == 1
    assert len(results[0][1]) == 3
    store.close()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_stores_share_one_cached_trace_table_and_close_releases_it(spark, day_spans):
    summaries = trace_summaries(day_spans)
    before = _persistent_rdds(spark)
    first = SpanStore(day_spans, summaries=summaries)
    second = SpanStore(day_spans, summaries=summaries)
    want = first.get_traces(QueryRequest(limit=1000)).collect()
    assert second.get_traces(QueryRequest(limit=1000)).collect() == want
    assert _persistent_rdds(spark) == before + 1
    tables = [s._traces[0] for s in (first, second)]
    assert all(t.storageLevel.useMemory for t in tables)

    first.close()
    assert _persistent_rdds(spark) == before
    assert not any(t.storageLevel.useMemory for t in tables)
    # the closed store rebuilds on next use and answers the same
    assert first.get_traces(QueryRequest(limit=1000)).collect() == want
    first.close()
    second.close()
