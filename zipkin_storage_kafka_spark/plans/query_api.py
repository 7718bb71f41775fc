"""The query API surface — every query the reference can answer
(SURVEY.md section 2.11; reference KafkaSpanStore.java:64-127 and
KafkaStorageHttpService.java).

The reference answers UI reads from stores its topology keeps up to date
(TraceStorageTopology.java: traces-by-id, span names, remote service names,
autocomplete tags) and ``KafkaSpanStore`` reads them by key.  ``SpanStore``
does the same: it builds the stores once from the spans and serves every
name and trace-search request from them, instead of re-aggregating spans
per request.

Name stores (service list capped at 1000, span names per service, remote
service names per service, tag values per configured autocomplete key) are
Python dicts in the driver, built together by one Spark job over the spans.
They are bounded by the number of distinct names, not by span count, like
the reference's in-memory stores.  The name methods return a local relation
(physical plan ``LocalTableScan``): ``collect()`` runs no Spark job.

The trace store is one persisted trace-keyed table: the ``summaries``
columns joined with the trace's spans as one array of span structs (sorted
like ``aggregate_traces``).  ``get_traces`` is one shuffle-free stage over
it — ``exists(spans, matches)`` plus the time range, then top-k — and
``get_traces_by_ids`` is a filter on it.  ``get_trace`` and
``get_dependencies`` remain plans over the spans and link rows.

Contract:

- Each store is built lazily on first use, once per ``SpanStore``, under a
  lock.  It is a snapshot: spans appended to the input afterwards are not
  seen until a new ``SpanStore`` is made.
- ``persist()`` is deduplicated per plan by Spark's CacheManager, so two
  ``SpanStore``\\s over the same DataFrames share one cached trace table.
- ``close()`` unpersists the trace table — for every store sharing it; a
  store used after that re-derives the table per request, or rebuilds it
  if it was the one closed.
- ``get_service_names``, ``get_span_names``, ``get_remote_service_names``,
  ``get_autocomplete_keys`` and ``get_autocomplete_values`` return
  DataFrames over already-collected rows; the other methods return lazy
  plans.  Disabled capabilities return an empty DataFrame of the right
  schema without building a store.
- Both span layouts are served: the scalar columns of
  ``sources.spans`` and the canonical nested layout (endpoint structs,
  ``tags`` map, ``annotations`` array).  ``summaries`` are expected to
  cover the spans' traces, as ``trace_summaries(spans)`` (the default)
  does.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.zipkin import normalize_trace_id
from zipkin_storage_kafka_spark.operators import (
    dependency_links,
    merge_links,
    trace_summaries,
)
from zipkin_storage_kafka_spark.operators.trace_aggregation import aggregate_traces

# Result caps, mirroring the reference
# (KafkaSpanStore.java:130,321, KafkaAutocompleteTags.java:27,
#  KafkaStorageHttpService.java:198-199,278).
NAMES_LIMIT = 1000
DEPENDENCIES_LIMIT = 1000
AUTOCOMPLETE_LIMIT = 1000
TRACE_MANY_LIMIT = 1000
DEFAULT_QUERY_LIMIT = 10
DEFAULT_LOOKBACK_MS = 86_400_000

# The reference's autoCompleteKeys is BUILDER config
# (KafkaStorageBuilder.java autocompleteKeys / zipkin2 StorageComponent
# .Builder#autocompleteKeys), not a constant; this default matches the
# testdata's two whitelisted tag keys.
DEFAULT_AUTOCOMPLETE_KEYS = ("environment", "k")

# Tag keys the scalar layout carries as columns.
_SCALAR_TAG_COLUMNS = {"environment": "env", "k": "tag_k"}

# Name-store entry kinds: (kind, key, value) rows of the build job.
_SERVICE, _SPAN_NAME, _REMOTE_SERVICE, _TAG = range(4)

# (column, nullable) of each name method's result, as the index operators
# (operators/indexes.py) type them.
_SERVICE_NAMES_SCHEMA = (("service_name", True),)
_SPAN_NAMES_SCHEMA = (("service_name", True), ("names", False))
_REMOTE_SERVICE_NAMES_SCHEMA = (("service_name", True), ("remote_services", False))
_TAG_KEYS_SCHEMA = (("tag_key", False),)
_TAG_VALUES_SCHEMA = (("tag_key", False), ("tag_values", False))

# aggregate_traces columns, kept in the trace table under a "_" prefix.
_TRACE_COLUMNS = ("spans", "trace_timestamp", "span_count")


@dataclass(frozen=True)
class QueryRequest:
    """zipkin2 QueryRequest (built at KafkaStorageHttpService.java:203-214).

    ``end_ts`` / ``lookback`` are epoch / delta MILLIS as in the reference;
    ``min_duration`` / ``max_duration`` are MICROS.
    ``annotation_query`` maps tag key -> value, with "" meaning
    key-exists (the bare-key form of the query string).
    """

    service_name: str | None = None
    remote_service_name: str | None = None
    span_name: str | None = None
    annotation_query: dict[str, str] = field(default_factory=dict)
    min_duration: int | None = None
    max_duration: int | None = None
    end_ts: int = 0
    lookback: int = DEFAULT_LOOKBACK_MS
    limit: int = DEFAULT_QUERY_LIMIT


def _span_matches(
    request: QueryRequest, field: Callable[[str], Column], nested: bool
) -> Column:
    """Single-span conjunct of QueryRequest.test: service + span name +
    remote service + duration + annotation conditions must co-occur on ONE
    span (public zipkin2 semantics; applied at
    KafkaStorageHttpService.java:228).

    ``field(name)`` returns one span field: ``F.col`` for a row per span,
    ``s.getField`` for a span struct ``s`` of the trace table's array.

    On the canonical nested span shape (``tags`` map + ``annotations``
    array + endpoint structs, as produced by ``spans_with_nested`` / the
    JSON and PROTO3 decoders) any tag key works via
    ``element_at(tags, key)``, and a bare key (value == "") matches
    zipkin2's annotationQuery rule — an annotation whose *value* equals the
    key, OR a tag with that key present.  On the flattened oracle-test
    projection (scalar columns) the testdata's three tag columns map back
    to their keys.
    """
    if nested:
        svc = field("local_endpoint")["service_name"]
        rsvc = field("remote_endpoint")["service_name"]
    else:
        svc = field("local_service")
        rsvc = field("remote_service")
    cond = F.lit(True)
    if request.service_name:
        cond = cond & (svc == request.service_name)
    if request.remote_service_name:
        cond = cond & (rsvc == request.remote_service_name)
    if request.span_name:
        cond = cond & (field("name") == request.span_name)
    if request.min_duration is not None:
        cond = cond & (field("duration") >= request.min_duration)
    if request.max_duration is not None:
        cond = cond & (field("duration") <= request.max_duration)
    for key, value in request.annotation_query.items():
        if nested:
            tag_val = F.element_at(field("tags"), F.lit(key))
            if value == "":
                ann_hit = F.exists(
                    field("annotations"), lambda a: a["value"] == F.lit(key)
                )
                cond = cond & (tag_val.isNotNull() | ann_hit)
            else:
                cond = cond & (tag_val == value)
        else:
            if key in _SCALAR_TAG_COLUMNS:
                kcol = field(_SCALAR_TAG_COLUMNS[key])
            elif key == "error":
                kcol = F.when(field("is_error"), F.lit("true"))
            else:
                kcol = F.lit(None).cast("string")
            cond = cond & (kcol.isNotNull() if value == "" else (kcol == value))
    return cond


def _nulls_first(x: Column, y: Column) -> Column:
    """-1/0/1 comparison of two values, NULL lowest."""
    return (
        F.when(x.isNull() & y.isNull(), 0)
        .when(x.isNull(), -1)
        .when(y.isNull(), 1)
        .when(x < y, -1)
        .when(x > y, 1)
        .otherwise(0)
    )


def _trace_spans(spans: DataFrame, nested: bool) -> DataFrame:
    """``aggregate_traces`` for either layout.  A nested span struct holds a
    map, which is not orderable, so its array is sorted by (timestamp, id)
    with a comparator."""
    if not nested:
        return aggregate_traces(spans)
    rest = [c for c in spans.columns if c not in ("trace_id", "timestamp", "id")]
    span = F.struct("timestamp", "id", *rest)

    def by_timestamp_then_id(a: Column, b: Column) -> Column:
        ts = _nulls_first(a["timestamp"], b["timestamp"])
        return F.when(ts != 0, ts).otherwise(_nulls_first(a["id"], b["id"]))

    return spans.groupBy("trace_id").agg(
        F.array_sort(F.collect_list(span), by_timestamp_then_id).alias("spans"),
        F.min("timestamp").alias("trace_timestamp"),
        F.count(F.lit(1)).alias("span_count"),
    )


@dataclass(frozen=True)
class _NameStores:
    """The four name stores, with the two keyless answers prebuilt."""

    service_names: DataFrame
    span_names: dict[str, str]
    remote_service_names: dict[str, str]
    tag_values: dict[str, str]
    autocomplete_keys: DataFrame


class SpanStore:
    """Facade over a spans DataFrame, answering the reference's query API
    from stores built on first use (see the module docstring).

    Feature flags mirror the reference's enabled-flag short circuits
    (P5 — KafkaSpanStore.java:65-78,121-126): a disabled capability returns
    an empty DataFrame with the right schema rather than raising.
    """

    def __init__(
        self,
        spans: DataFrame,
        *,
        links: DataFrame | None = None,
        summaries: DataFrame | None = None,
        trace_search_enabled: bool = True,
        trace_by_id_query_enabled: bool = True,
        dependency_query_enabled: bool = True,
        autocomplete_keys: tuple[str, ...] = DEFAULT_AUTOCOMPLETE_KEYS,
    ) -> None:
        self.spans = spans
        self.autocomplete_keys = tuple(autocomplete_keys)
        # Optional pre-materialized link rows / trace rollups (the
        # reference's zipkin-dependency and zipkin-traces stores); derived
        # from spans when absent.
        self._links = links
        self._summaries = summaries
        self.trace_search_enabled = trace_search_enabled
        self.trace_by_id_query_enabled = trace_by_id_query_enabled
        self.dependency_query_enabled = dependency_query_enabled
        self._nested = "tags" in spans.columns
        self._names: _NameStores | None = None
        self._names_lock = threading.Lock()
        # (persisted trace table, summaries columns in their order)
        self._traces: tuple[DataFrame, list[str]] | None = None
        self._traces_lock = threading.Lock()

    # -- stores --
    def _summary_table(self) -> DataFrame:
        if self._summaries is not None:
            return self._summaries
        spans = self.spans
        if self._nested:
            spans = spans.select(
                "trace_id", "parent_id", "name", "timestamp", "duration",
                F.col("local_endpoint.service_name").alias("local_service"),
                F.map_contains_key("tags", "error").alias("is_error"),
            )
        return trace_summaries(spans)

    def _trace_table(self) -> tuple[DataFrame, list[str]]:
        """The persisted trace store: trace_id, the ``_``-prefixed
        ``aggregate_traces`` columns, then the summaries columns."""
        if self._traces is None:
            with self._traces_lock:
                if self._traces is None:
                    summaries = self._summary_table()
                    spans = _trace_spans(self.spans, self._nested).select(
                        "trace_id", *[F.col(c).alias(f"_{c}") for c in _TRACE_COLUMNS]
                    )
                    table = spans.join(summaries, "trace_id").persist()
                    table.count()
                    self._traces = (table, summaries.columns)
        return self._traces

    def _name_stores(self) -> _NameStores:
        if self._names is None:
            with self._names_lock:
                if self._names is None:
                    self._names = self._build_name_stores()
        return self._names

    def _build_name_stores(self) -> _NameStores:
        """All four name stores from one job: each span emits its
        (kind, key, value) entries, Spark deduplicates them, the driver
        groups and sorts them."""
        if self._nested:
            svc = F.col("local_endpoint.service_name")
            rsvc = F.col("remote_endpoint.service_name")
        else:
            svc = F.col("local_service")
            rsvc = F.col("remote_service")

        def entry(kind: int, key: Column, value: Column) -> Column:
            return F.struct(
                F.lit(kind).alias("kind"), key.alias("key"), value.alias("value")
            )

        entries = F.array(
            entry(_SERVICE, F.lit(""), svc),
            entry(_SPAN_NAME, svc, F.col("name")),
            entry(_REMOTE_SERVICE, svc, rsvc),
            *[
                entry(_TAG, F.lit(k), F.col(_SCALAR_TAG_COLUMNS[k]))
                for k in self.autocomplete_keys
                if not self._nested and k in _SCALAR_TAG_COLUMNS
            ],
        )
        if self._nested:
            keys = list(self.autocomplete_keys)
            tags = F.map_filter("tags", lambda k, _: k.isin(keys))
            entries = F.concat(
                entries,
                F.transform(
                    F.map_entries(tags), lambda e: entry(_TAG, e["key"], e["value"])
                ),
            )
        rows = (
            self.spans.select(F.explode(entries).alias("e"))
            .select("e.*")
            .filter(F.col("key").isNotNull() & F.col("value").isNotNull())
            .distinct()
            .collect()
        )
        by_kind: dict[int, dict[str, set[str]]] = {k: {} for k in range(4)}
        for kind, key, value in rows:
            by_kind[kind].setdefault(key, set()).add(value)

        def joined(kind: int) -> dict[str, str]:
            return {k: ",".join(sorted(v)) for k, v in by_kind[kind].items()}

        services = sorted(by_kind[_SERVICE].get("", ()))[:NAMES_LIMIT]
        tag_values = joined(_TAG)
        return _NameStores(
            service_names=self._local(_SERVICE_NAMES_SCHEMA, [(s,) for s in services]),
            span_names=joined(_SPAN_NAME),
            remote_service_names=joined(_REMOTE_SERVICE),
            tag_values=tag_values,
            autocomplete_keys=self._local(
                _TAG_KEYS_SCHEMA, [(k,) for k in sorted(tag_values)[:AUTOCOMPLETE_LIMIT]]
            ),
        )

    def _local(
        self, schema: tuple[tuple[str, bool], ...], rows: list[tuple[str, ...]]
    ) -> DataFrame:
        """String ``rows`` as a local relation with ``schema``'s columns and
        nullability.  Values travel as parameter markers, never as SQL
        text.  A last row holds NULL in every nullable column (a column of
        an inline table is nullable iff one of its values is) and LIMIT
        drops it; both fold into the LocalTableScan."""
        args: dict[str, str] = {}
        tuples = []
        for i, row in enumerate(rows):
            for j, value in enumerate(row):
                args[f"v{i}_{j}"] = value
            tuples.append(", ".join(f":v{i}_{j}" for j in range(len(row))))
        tuples.append(
            ", ".join("CAST(NULL AS STRING)" if null else "''" for _, null in schema)
        )
        values = ", ".join(f"({t})" for t in tuples)
        names = ", ".join(name for name, _ in schema)
        return self.spans.sparkSession.sql(
            f"SELECT * FROM VALUES {values} AS t({names}) LIMIT {len(rows)}",
            args=args,
        )

    def _lookup(
        self, schema: tuple[tuple[str, bool], ...], store: dict[str, str], key: str
    ) -> DataFrame:
        return self._local(schema, [(key, store[key])] if key in store else [])

    def close(self) -> None:
        """Unpersist the trace table (shared by every store over the same
        DataFrames); this store rebuilds it on next use."""
        with self._traces_lock:
            if self._traces is not None:
                self._traces[0].unpersist()
                self._traces = None

    # -- find traces (GET /traces — KafkaStorageHttpService.java:189-241) --
    def get_traces(self, request: QueryRequest) -> DataFrame:
        """Trace summaries matching the request, newest first, limited.

        Plan shape: one stage over the trace table — a trace qualifies when
        one of its spans matches every condition and its root timestamp is
        in range — then top-k.  The reference's limit-BEFORE-sort scan
        quirk (KafkaStorageHttpService.java:229-234) is deliberately not
        replicated (SURVEY section 7 risk 5): we take a correct top-k, which
        TakeOrderedAndProject executes without a global sort.
        """
        if not self.trace_search_enabled:
            return self._summary_table().limit(0)
        table, columns = self._trace_table()
        nested = self._nested
        cond = F.exists(
            "_spans", lambda s: _span_matches(request, s.getField, nested)
        )
        if request.end_ts > 0:
            lo_us = (request.end_ts - request.lookback) * 1000
            hi_us = request.end_ts * 1000
            cond = cond & F.col("trace_timestamp").between(lo_us, hi_us)
        return (
            table.filter(cond)
            .select(*columns)
            .orderBy(F.col("trace_timestamp").desc(), F.col("trace_id"))
            .limit(request.limit)
        )

    # -- one trace (GET /traces/{id} — :243-266) --
    def get_trace(self, trace_id: str) -> DataFrame:
        if not self.trace_by_id_query_enabled:
            return self.spans.limit(0)
        normalized = self.spans.withColumn(
            "trace_id", normalize_trace_id(F.col("trace_id"))
        )
        return normalized.filter(
            F.col("trace_id") == normalize_trace_id(F.lit(trace_id))
        )

    # -- many traces (GET /traceMany — :268-290; id cap 1000 at :278) --
    def get_traces_by_ids(self, trace_ids: list[str]) -> DataFrame:
        """``aggregate_traces`` rows of the given traces, from the trace
        table."""
        if not self.trace_by_id_query_enabled:
            return _trace_spans(self.spans, self._nested).limit(0)
        table, _ = self._trace_table()
        ids = trace_ids[:TRACE_MANY_LIMIT]
        return table.filter(F.col("trace_id").isin(ids)).select(
            "trace_id", *[F.col(f"_{c}").alias(c) for c in _TRACE_COLUMNS]
        )

    # -- names (GET /serviceNames... — :98-163) --
    def get_service_names(self) -> DataFrame:
        return self._name_stores().service_names

    def get_span_names(self, service_name: str) -> DataFrame:
        return self._lookup(
            _SPAN_NAMES_SCHEMA, self._name_stores().span_names, service_name
        )

    def get_remote_service_names(self, service_name: str) -> DataFrame:
        return self._lookup(
            _REMOTE_SERVICE_NAMES_SCHEMA,
            self._name_stores().remote_service_names,
            service_name,
        )

    # -- dependencies (GET /dependencies — :69-96) --
    def get_dependencies(self, end_ts: int, lookback: int) -> DataFrame:
        """Link counters over [end_ts - lookback, end_ts] (millis), merged
        per (parent, child) — reference range-scans 1-min buckets then
        DependencyLinker.merge (KafkaStorageHttpService.java:80-87)."""
        links = (
            self._links
            if self._links is not None
            else dependency_links(self.spans)
        )
        if not self.dependency_query_enabled:
            return merge_links(links).limit(0)
        lo_us = (end_ts - lookback) * 1000
        hi_us = end_ts * 1000
        in_range = links.filter(F.col("timestamp").between(lo_us, hi_us))
        return (
            merge_links(in_range)
            .orderBy("parent", "child")
            .limit(DEPENDENCIES_LIMIT)
        )

    # -- autocomplete (GET /autocompleteTags... — :165-187,292-309) --
    def get_autocomplete_keys(self) -> DataFrame:
        """Configured keys with at least one value, sorted.  On the scalar
        layout only the keys it carries as columns (``environment``,
        ``k``) have values."""
        return self._name_stores().autocomplete_keys

    def get_autocomplete_values(self, key: str) -> DataFrame:
        return self._lookup(_TAG_VALUES_SCHEMA, self._name_stores().tag_values, key)

    # -- instances metadata (GET /instances — KafkaStorageHttpService.java:
    #    311-326).  The scatter-gather topology dissolves in Spark; the
    #    analog is executor introspection. --
    def get_instances(self) -> list[dict]:
        sc = self.spans.sparkSession.sparkContext
        return [
            {
                "app_id": sc.applicationId,
                "master": sc.master,
                "executors": sc.defaultParallelism,
            }
        ]
