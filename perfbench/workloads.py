"""The benchmark workloads.

Each workload drives the package only through its public functions, on
inputs made by :mod:`gen` from the run's seed.  A workload has

- ``prepare()``: generate and stage inputs, build what the timed work
  reads;
- ``warmup()``: one untimed operation so JIT, code generation and the
  Python worker pool are warm before timing;
- ``run_pass(traced)``: one unit of work from input to complete result,
  timed, with its output checked afterwards (outside the timing);
- ``layer_metrics()``: the per-layer numbers, from traced passes only.

The query workload is a closed loop instead of passes (``run_clients``).
"""

from __future__ import annotations

import glob
import importlib
import itertools
import os
import re
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

SPANS_ARROW_SCHEMA = pa.schema(
    [
        (c, pa.int64() if c in ("timestamp", "duration")
         else pa.bool_() if c == "is_error" else pa.string())
        for c in gen.SCALAR_COLUMNS
    ]
)
GAP_US = 60_000_000  # the reference's 1-minute trace timeout
STREAM_MTIME0 = 1_000_000_000


def write_spans(rows: list[dict], path: str) -> None:
    pq.write_table(
        pa.Table.from_pylist(
            [{c: r[c] for c in gen.SCALAR_COLUMNS} for r in rows],
            schema=SPANS_ARROW_SCHEMA,
        ),
        path,
    )


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(np.percentile(np.asarray(xs, dtype=float), q))


_EXCHANGE = re.compile(r"(?m)^[\s:+\-|]*(?:\*\(\d+\)\s)?(?:Broadcast)?Exchange\b")


def exchanges(df) -> int:
    """Exchange nodes in the physical plan Spark chose for ``df``."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))


def run_parallel(fns, workers: int = 4) -> list:
    """Run zero-argument callables on a thread pool and return their
    results, re-raising the first failure.  Used in set-up only: the
    driver-side planning and code generation of independent plans
    overlap, which shortens set-up without changing what gets warm."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(f) for f in fns]
        return [f.result() for f in futures]


class Context:
    """What every workload gets from the runner."""

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.listener = None  # BatchProgress, traced runs only


class Pass:
    """Outcome of one timed unit of work."""

    def __init__(self, seconds: float, items: int, attempted: int, errors: list[str]):
        self.seconds = seconds
        self.items = items
        self.attempted = attempted
        self.errors = errors


# ingest ------------------------------------------------------------------------


class Ingest:
    """Write side: PROTO3 records -> decode -> trace sessions + link sink
    -> query stores, over a backlog of time-ordered arrival files, then
    the daily dependency/analytics job over the ingested spans."""

    name = "ingest"
    LAYER_METRICS = (
        "sources.proto_to_spans.s",
        "functions.proto.decode_us_per_span",
        "streaming.run_aggregation_pipeline.s",
        "streaming.batches",
        "streaming.batch_ms_p50",
        "streaming.batch_ms_p90",
        "streaming.add_batch_ms_p50",
        "streaming.state_rows_max",
        "streaming.state_bytes_max",
        "streaming.closed_traces",
        "streaming.link_rows",
        "plans.materialize.materialize_stores.s",
        "plans.materialize.bytes_per_span",
        "plans.materialize.files",
    )
    OPERATOR_FIELDS = ("s", "jobs", "tasks", "exchanges")
    # The daily job: (operators module, function, input).  Each call reads
    # parquet (the ingested spans, or the links the ``dependency_links``
    # call wrote) and writes its complete result to parquet.
    DAILY_CALLS = (
        ("trace_aggregation", "aggregate_traces", "spans"),
        ("trace_aggregation", "trace_summaries", "spans"),
        ("dependency_links", "dependency_links", "spans"),
        ("dependency_links", "merge_links", "links"),
        ("dependency_links", "windowed_link_counters", "links"),
        ("dependency_links", "dependency_links_tree", "spans"),
        ("trace_aggregation", "critical_paths", "spans"),
        ("trace_aggregation", "self_time_by_service", "spans"),
    )
    # Arrival files of 5000 spans, 2 minutes of traffic each: one
    # micro-batch per file, so the per-batch cost is paid N_FILES times.
    N_FILES = 6
    SPANS_PER_FILE = 5000
    PARAMS = gen.TraceParams(
        n_spans=N_FILES * SPANS_PER_FILE, window_us=N_FILES * 120_000_000
    )
    WARM_PARAMS = gen.TraceParams(n_spans=300, window_us=120_000_000)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_pass = 0
        self.traced: list[dict] = []

    def _stage(self, rows: list[dict], spans_per_file: int, arr_dir: str) -> list[str]:
        """Write the spans as PROTO3 arrival files: one ListOfSpans record
        per trace per file, files in time order."""
        from zipkin_storage_kafka_spark.functions.proto import encode_span_list

        files = gen.arrival_files(rows, spans_per_file, self.ctx.seed)
        shutil.rmtree(arr_dir, ignore_errors=True)
        os.makedirs(arr_dir)
        paths = []
        for i, f in enumerate(files):
            values = [
                encode_span_list([gen.to_wire(s) for s in rec])
                for rec in gen.group_records(f)
            ]
            paths.append(os.path.join(arr_dir, f"{i:05d}.parquet"))
            pq.write_table(pa.table({"value": pa.array(values, pa.binary())}), paths[-1])
        return paths

    def prepare(self) -> None:
        rows = gen.generate_traces(self.ctx.seed, self.PARAMS)
        self.paths = self._stage(
            rows, self.SPANS_PER_FILE, os.path.join(self.ctx.work, "arrivals")
        )
        self.max_ts = max(r["timestamp"] for r in rows)
        self.truth = gen.trace_truth(rows)

    def warmup(self) -> None:
        """Each stage once on a tiny input of its own, the four at once
        (a full-size pass as warm-up would add a whole pass to every
        run's set-up)."""
        # First imports of the package on several threads at once can
        # deadlock on its circular imports: import everything here first.
        for module in (
            "sources.proto_spans", "streaming.jobs", "plans.materialize",
            *{f"operators.{m}" for m, _, _ in self.DAILY_CALLS},
        ):
            importlib.import_module(f"zipkin_storage_kafka_spark.{module}")
        rows = gen.generate_traces(self.ctx.seed + 7, self.WARM_PARAMS)
        wdir = os.path.join(self.ctx.work, "ingest-warm")
        paths = self._stage(rows, len(rows), os.path.join(wdir, "arrivals"))
        staged = os.path.join(wdir, "staged")
        os.makedirs(staged)
        write_spans(rows, os.path.join(staged, "00000.parquet"))
        os.utime(os.path.join(staged, "00000.parquet"), (STREAM_MTIME0, STREAM_MTIME0))
        write_sentinels(staged, max(r["timestamp"] for r in rows), STREAM_MTIME0)
        out = {k: os.path.join(wdir, k) for k in ("traces", "links", "ckpt", "stores", "daily")}
        run_parallel([
            lambda: self._decode(paths, os.path.join(wdir, "decode")),
            lambda: self._aggregate(staged, out),
            lambda: self._materialize(staged, out),
            lambda: self._daily_job(staged, out["daily"], None),
        ])
        shutil.rmtree(wdir)

    def _decode(self, paths: list[str], pdir: str) -> str:
        """Decode each arrival file into one stream input file, replayed
        in arrival order (file mtime)."""
        from zipkin_storage_kafka_spark.sources.proto_spans import proto_to_spans

        spark = self.ctx.spark
        in_dir = os.path.join(pdir, "in")
        os.makedirs(in_dir)
        for i, path in enumerate(paths):
            with self.ctx.tracer.span("sources:proto_to_spans"):
                decoded = proto_to_spans(spark.read.parquet(path))
                tmp = os.path.join(pdir, f"decoded-{i}")
                to_stream_layout(decoded).coalesce(1).write.parquet(tmp)
            [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
            dst = os.path.join(in_dir, f"{i:05d}.parquet")
            os.rename(part, dst)
            os.utime(dst, (STREAM_MTIME0 + i, STREAM_MTIME0 + i))
            shutil.rmtree(tmp)
        return in_dir

    def _aggregate(self, in_dir: str, out: dict) -> None:
        from zipkin_storage_kafka_spark.streaming.jobs import run_aggregation_pipeline

        with self.ctx.tracer.span("streaming:run_aggregation_pipeline"):
            run_aggregation_pipeline(
                self.ctx.spark, in_dir, out["traces"], out["links"], out["ckpt"]
            )

    def _read_spans(self, in_dir: str):
        """The ingested spans: the stream input, sentinels excluded."""
        from pyspark.sql import functions as F

        from zipkin_storage_kafka_spark.streaming.jobs import SPANS_STREAM_SCHEMA

        return (
            self.ctx.spark.read.schema(SPANS_STREAM_SCHEMA)
            .parquet(in_dir)
            .filter(~F.col("trace_id").startswith(oracle.SENTINEL_PREFIX))
        )

    def _materialize(self, in_dir: str, out: dict) -> None:
        from zipkin_storage_kafka_spark.plans.materialize import materialize_stores

        with self.ctx.tracer.span("plans.materialize:materialize_stores"):
            materialize_stores(self.ctx.spark, self._read_spans(in_dir), out["stores"])

    def _daily_job(self, in_dir: str, ddir: str, stats: dict | None) -> None:
        os.makedirs(ddir)
        for module, fn, source in self.DAILY_CALLS:
            # by module path: the operators package re-exports functions
            # under the module names
            op = getattr(
                importlib.import_module(f"zipkin_storage_kafka_spark.operators.{module}"), fn
            )
            with self.ctx.tracer.span(f"operators:{module}.{fn}") as sp:
                if source == "spans":
                    src = self._read_spans(in_dir)
                else:
                    src = self.ctx.spark.read.parquet(os.path.join(ddir, "dependency_links"))
                df = op(src)
                df.write.mode("overwrite").parquet(os.path.join(ddir, fn))
            if stats is not None:
                stats[f"{module}.{fn}"] = (sp, exchanges(df))

    def _drain(self, pdir: str, stats: dict | None) -> dict:
        """Records -> stream input -> traces + links sinks -> query stores
        -> the daily job's outputs."""
        out = {k: os.path.join(pdir, k) for k in ("traces", "links", "ckpt", "stores", "daily")}
        in_dir = self._decode(self.paths, pdir)
        write_sentinels(in_dir, self.max_ts, STREAM_MTIME0 + len(self.paths))
        self._aggregate(in_dir, out)
        self._materialize(in_dir, out)
        self._daily_job(in_dir, out["daily"], stats)
        return out

    def run_pass(self, traced: bool) -> Pass:
        self.n_pass += 1
        pdir = os.path.join(self.ctx.work, f"ingest-{self.n_pass}")
        n_spans_before = len(self.ctx.tracer.spans)
        stats: dict | None = {} if traced else None
        t0 = time.perf_counter()
        with self.ctx.tracer.span("bench:ingest_pass", request=f"pass-{self.n_pass}"):
            out = self._drain(pdir, stats)
        seconds = time.perf_counter() - t0
        errors = self.check(out)
        if traced:
            self.traced.append({**self._pass_layers(out, n_spans_before), "daily": stats})
        shutil.rmtree(pdir)
        # the drain and each daily-job call are operations
        return Pass(seconds, self.truth["n_spans"], 1 + len(self.DAILY_CALLS), errors)

    def check(self, out: dict) -> list[str]:
        errors = oracle.check_traces_sink(out["traces"], self.truth)
        errors += oracle.check_edges(
            oracle.link_rows_by_edge(out["links"]), self.truth, "links sink"
        )
        errors += oracle.check_edges(
            oracle.store_links_by_edge(os.path.join(out["stores"], "dependency_links")),
            self.truth,
            "dependency_links store",
        )
        daily = out["daily"]
        errors += oracle.check_edges(
            oracle.merged_links(os.path.join(daily, "merge_links")), self.truth, "merge_links"
        )
        got = oracle.trace_span_counts(os.path.join(daily, "aggregate_traces"))
        if got != self.truth["span_counts"]:
            bad = sum(1 for k, v in self.truth["span_counts"].items() if got.get(k) != v)
            errors.append(f"aggregate_traces: {bad} traces wrong or missing")
        return errors

    def _pass_layers(self, out: dict, n_spans_before: int) -> dict:
        spans = self.ctx.tracer.spans[n_spans_before:]
        pipe = [s for s in spans if s.name == "streaming:run_aggregation_pipeline"]
        # The pass started exactly one streaming query: the last one.
        lst = self.ctx.listener
        run_id = lst.run_ids[-1]
        lst.wait_terminated(run_id)
        progress = [p for p in lst.progress if p["run_id"] == run_id]
        # Its jobs run in the query's thread under the run id's job group.
        pipe[0].attrs["extra_groups"] = [run_id]
        stores = out["stores"]
        files = glob.glob(os.path.join(stores, "**", "*.parquet"), recursive=True)
        return {
            "sources.proto_to_spans.s": sum(
                s.seconds for s in spans if s.name == "sources:proto_to_spans"
            ),
            "streaming.run_aggregation_pipeline.s": sum(s.seconds for s in pipe),
            "streaming.batches": len(progress),
            "streaming.batch_ms_p50": median(p["trigger_ms"] for p in progress),
            "streaming.batch_ms_p90": percentile([p["trigger_ms"] for p in progress], 90),
            "streaming.add_batch_ms_p50": median(p["add_batch_ms"] for p in progress),
            "streaming.state_rows_max": max((p["state_rows"] for p in progress), default=0),
            "streaming.state_bytes_max": max((p["state_bytes"] for p in progress), default=0),
            "streaming.closed_traces": oracle.count_rows(out["traces"], real_traces=True),
            "streaming.link_rows": oracle.count_rows(out["links"]),
            "plans.materialize.materialize_stores.s": sum(
                s.seconds for s in spans if s.name == "plans.materialize:materialize_stores"
            ),
            "plans.materialize.bytes_per_span": sum(os.path.getsize(f) for f in files)
            / self.truth["n_spans"],
            "plans.materialize.files": len(files),
        }

    def decode_us_per_span(self) -> float:
        """Driver-side ``decode_span_list`` over a fixed sample of the
        staged records (the first 200), median of 5 timings."""
        from zipkin_storage_kafka_spark.functions.proto import decode_span_list

        values = pq.read_table(self.paths[0]).column("value").to_pylist()[:200]
        n = sum(len(decode_span_list(v)) for v in values)
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            for v in values:
                decode_span_list(v)
            times.append(time.perf_counter() - t0)
        return median(times) / n * 1e6

    def layer_metrics(self) -> dict:
        out = {
            k: median(p[k] for p in self.traced)
            for k in (self.traced[0] if self.traced else {})
            if k != "daily"
        }
        for module, fn, _ in self.DAILY_CALLS:
            key = f"{module}.{fn}"
            rows = [p["daily"][key] for p in self.traced]
            values = {
                "s": [sp.seconds for sp, _ in rows],
                "jobs": [sp.attrs.get("jobs", 0) for sp, _ in rows],
                "tasks": [sp.attrs.get("tasks", 0) for sp, _ in rows],
                "exchanges": [x for _, x in rows],
            }
            for f in self.OPERATOR_FIELDS:
                out[f"operators.{key}.{f}"] = median(values[f])
        out["functions.proto.decode_us_per_span"] = self.decode_us_per_span()
        return out


def to_stream_layout(decoded):
    """Decoded spans (``sources.proto_spans.DECODED_SCHEMA``) -> the scalar
    ``SPANS_STREAM_SCHEMA`` columns the aggregation stream reads."""
    from pyspark.sql import functions as F

    return decoded.select(
        "trace_id", "id", "parent_id", "kind", "name", "timestamp", "duration",
        "local_service", "remote_service",
        F.element_at("tags", F.lit("k")).alias("tag_k"),
        F.element_at("tags", F.lit("environment")).alias("env"),
        F.map_contains_key("tags", "error").alias("is_error"),
    )


def write_sentinels(in_dir: str, max_ts: int, mtime: int) -> None:
    """Two flush spans 2x and 4x the trace gap past the last event, the
    pipe-then-advance choreography the pipeline's own staging uses: the
    watermark passes every real session, and the second absorbs the
    one-batch eviction lag."""
    for seq in (1, 2):
        path = os.path.join(in_dir, f"sentinel{seq}.parquet")
        row = {c: None for c in gen.SCALAR_COLUMNS}
        row.update(
            trace_id=f"{oracle.SENTINEL_PREFIX}_{seq}", id=f"s{seq}", name="flush",
            timestamp=max_ts + 2 * seq * GAP_US, duration=1,
            local_service="zzwatermark_sentinel_svc", is_error=False,
        )
        pq.write_table(pa.Table.from_pylist([row], schema=SPANS_ARROW_SCHEMA), path)
        os.utime(path, (mtime + seq, mtime + seq))


# query ---------------------------------------------------------------------------

QUERY_KINDS = (
    "find_traces", "get_trace", "trace_many", "service_names", "span_names",
    "remote_service_names", "autocomplete_values", "dependencies",
)
# Request mix per block of 27: find_traces in each of its 4 flavours
# (service, service + span name, tag, service + duration bounds) twice,
# then the rest.  Kinds are interleaved evenly over the block and each
# client sends the block in a fixed rotation, so any run, however short,
# sees the same proportions; the seed picks every request's parameters.
QUERY_BLOCK_COUNTS = (
    ("find_traces", 8), ("get_trace", 6), ("trace_many", 2), ("service_names", 2),
    ("span_names", 2), ("remote_service_names", 2), ("autocomplete_values", 2),
    ("dependencies", 3),
)


def _interleave(counts) -> list[str]:
    """Smooth weighted round robin: each kind spread evenly over the block."""
    total = sum(n for _, n in counts)
    credit = {k: 0 for k, _ in counts}
    out = []
    for _ in range(total):
        for k, n in counts:
            credit[k] += n
        pick = max(counts, key=lambda kn: credit[kn[0]])[0]
        credit[pick] -= total
        out.append(pick)
    return out


def _block() -> tuple:
    kinds = _interleave(QUERY_BLOCK_COUNTS)
    flavours = itertools.count()
    return tuple((k, next(flavours) % 4 if k == "find_traces" else None) for k in kinds)


QUERY_BLOCK = _block()
NAME_KINDS = ("service_names", "span_names", "remote_service_names", "autocomplete_values")
LOOKBACKS_MS = (3_600_000, 6 * 3_600_000, 24 * 3_600_000)


class Query:
    """Zipkin UI traffic: a closed loop of 2 clients (threads sharing one
    SparkSession) sending a seeded request mix to a ``SpanStore``."""

    name = "query"
    LAYER_FIELDS = ("build_ms_p50", "exec_ms_p50", "jobs", "tasks", "rows")
    CLIENTS = 2
    PARAMS = gen.TraceParams(n_spans=22000)
    SAMPLES_PER_KIND = 3  # responses per kind per client checked by DuckDB

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_prep = 0
        self.store = None
        self._persisted = []

    def prepare(self) -> None:
        from zipkin_storage_kafka_spark.operators import dependency_links, trace_summaries
        from zipkin_storage_kafka_spark.plans.query_api import SpanStore

        spark = self.ctx.spark
        for df in self._persisted:
            df.unpersist()
        self.n_prep += 1
        self.rows = gen.generate_traces(self.ctx.seed, self.PARAMS)
        self.path = os.path.join(self.ctx.work, f"query-spans-{self.n_prep}.parquet")
        write_spans(self.rows, self.path)
        spans = spark.read.parquet(self.path).persist()
        links = dependency_links(spans).persist()
        summaries = trace_summaries(spans).persist()
        spans.count()
        run_parallel([links.count, summaries.count])
        self._persisted = [summaries, links, spans]
        # Wired like plans/registry.py: scalar spans + links + summaries.
        self.store = SpanStore(spans, links=links, summaries=summaries)
        self._index_inputs()

    def _index_inputs(self) -> None:
        rows = self.rows
        self.services = sorted({r["local_service"] for r in rows})
        self.names_by_service: dict[str, list[str]] = {}
        for r in rows:
            self.names_by_service.setdefault(r["local_service"], []).append(r["name"])
        for s, names in self.names_by_service.items():
            self.names_by_service[s] = sorted(set(names))
        starts: dict[str, int] = {}
        for r in rows:
            starts[r["trace_id"]] = min(starts.get(r["trace_id"], r["timestamp"]), r["timestamp"])
        self.traces_by_age = sorted(starts, key=lambda t: (starts[t], t))
        self.end_ts_ms = (gen.DAY_START_US + gen.DAY_US) // 1000
        self.k_values = sorted({r["tag_k"] for r in rows if r["tag_k"] is not None})

    def _recent_trace(self, rng) -> str:
        n = len(self.traces_by_age)
        back = min(n - 1, int(rng.exponential(n / 8)))
        return self.traces_by_age[n - 1 - back]

    def _service(self, rng) -> str:
        # hot service first, then a Zipf tail over the rest
        i = min(len(self.services) - 1, int(rng.zipf(1.5)) - 1)
        return self.services[i]

    def requests(self, rng, offset: int):
        """Endless request stream: QUERY_BLOCK rotated by ``offset``, with
        parameters drawn from ``rng``."""
        n = len(QUERY_BLOCK)
        for i in itertools.count(offset):
            yield self.request(rng, *QUERY_BLOCK[i % n])

    def request(self, rng, kind: str, flavour: int | None) -> tuple[str, dict]:
        if kind == "find_traces":
            args = {"end_ts": self.end_ts_ms,
                    "lookback": LOOKBACKS_MS[int(rng.integers(0, 3))], "limit": 10}
            svc = self._service(rng)
            if flavour == 0:
                args["service"] = svc
            elif flavour == 1:
                args["service"] = svc
                names = self.names_by_service[svc]
                args["span_name"] = names[int(rng.integers(0, len(names)))]
            elif flavour == 2:
                args["annotation"] = [
                    {"environment": gen.ENVS[int(rng.integers(0, 3))]},
                    {"k": self.k_values[int(rng.integers(0, min(5, len(self.k_values))))]},
                    {"error": ""},
                ][int(rng.integers(0, 3))]
            else:
                args["service"] = svc
                args["min_duration"] = int(rng.integers(1_000, 200_000))
                args["max_duration"] = args["min_duration"] * 20
            return kind, args
        if kind == "get_trace":
            return kind, {"trace_id": self._recent_trace(rng)}
        if kind == "trace_many":
            return kind, {"trace_ids": sorted({self._recent_trace(rng) for _ in range(5)})}
        if kind in ("span_names", "remote_service_names"):
            return kind, {"service": self._service(rng)}
        if kind == "autocomplete_values":
            return kind, {"key": ("environment", "k")[int(rng.integers(0, 2))]}
        if kind == "dependencies":
            return kind, {"end_ts": self.end_ts_ms,
                          "lookback": LOOKBACKS_MS[int(rng.integers(0, 3))]}
        return kind, {}

    def build(self, kind: str, args: dict):
        from zipkin_storage_kafka_spark.plans.query_api import QueryRequest

        s = self.store
        if kind == "find_traces":
            return s.get_traces(
                QueryRequest(
                    service_name=args.get("service"),
                    span_name=args.get("span_name"),
                    annotation_query=args.get("annotation") or {},
                    min_duration=args.get("min_duration"),
                    max_duration=args.get("max_duration"),
                    end_ts=args["end_ts"], lookback=args["lookback"], limit=args["limit"],
                )
            )
        if kind == "get_trace":
            return s.get_trace(args["trace_id"])
        if kind == "trace_many":
            return s.get_traces_by_ids(args["trace_ids"])
        if kind == "service_names":
            return s.get_service_names()
        if kind == "span_names":
            return s.get_span_names(args["service"])
        if kind == "remote_service_names":
            return s.get_remote_service_names(args["service"])
        if kind == "autocomplete_values":
            return s.get_autocomplete_values(args["key"])
        return s.get_dependencies(args["end_ts"], args["lookback"])

    def warmup(self) -> None:
        """One request of every (kind, flavour), several at once."""
        rng = np.random.default_rng([self.ctx.seed, 99])
        reqs = [self.request(rng, k, f) for k, f in dict.fromkeys(QUERY_BLOCK)]
        run_parallel([lambda r=r: self.build(*r).collect() for r in reqs])

    def run_clients(self, seconds: float, trace_mode: bool) -> dict:
        """Closed loop for ``seconds``.  In trace mode client 1 traces every
        request and client 0 none, both sending the same request sequence
        for at least one whole block, so every kind has traced samples and
        traced and untraced latencies come from the same window."""
        tr = self.ctx.tracer
        deadline = time.perf_counter() + seconds
        results: list[list[dict]] = [[] for _ in range(self.CLIENTS)]
        failures: list[BaseException] = []

        def client(ix: int) -> None:
            seq = 0 if trace_mode else ix
            stream = self.requests(
                np.random.default_rng([self.ctx.seed, seq]), seq * len(QUERY_BLOCK) // self.CLIENTS
            )
            traced = trace_mode and ix == 1
            i = 0
            while time.perf_counter() < deadline or (trace_mode and i < len(QUERY_BLOCK)):
                kind, args = next(stream)
                i += 1
                rec = {"kind": kind, "args": args, "traced": traced, "error": None}
                tr.set_thread_enabled(traced)
                t0 = time.perf_counter()
                try:
                    with tr.span("bench:request", request=f"c{ix}-{i}") as root:
                        with tr.span(f"plans.query_api:{kind}") as sp:
                            df = self.build(kind, args)
                            t1 = time.perf_counter()
                            rows = df.collect()
                    t2 = time.perf_counter()
                    rec.update(seconds=t2 - t0, build=t1 - t0, exec=t2 - t1,
                               rows=rows, n_rows=len(rows), span=sp, root=root)
                except Exception as exc:  # counted as a failed request
                    rec.update(seconds=time.perf_counter() - t0, error=repr(exc))
                results[ix].append(rec)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.CLIENTS)]
        t_start = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 120)
            if t.is_alive():
                failures.append(TimeoutError("client did not finish"))
        elapsed = time.perf_counter() - t_start
        tr.set_thread_enabled(None)
        return {"results": results, "elapsed": elapsed, "failures": failures}

    def check(self, results: list[list[dict]]) -> list[str]:
        """Compare a sample of every op's responses with DuckDB; wrong
        responses are marked on the record."""
        ora = oracle.QueryOracle(self.path)
        errors = []
        for recs in results:
            taken: dict[str, int] = {}
            for rec in recs:
                if rec["error"] is not None:
                    continue
                k = rec["kind"]
                if taken.get(k, 0) >= self.SAMPLES_PER_KIND:
                    continue
                taken[k] = taken.get(k, 0) + 1
                want = ora.answer(k, rec["args"])
                got = oracle.normalize_response(k, rec["rows"])
                if got != want:
                    rec["error"] = f"wrong {k} response for {rec['args']}"
                    errors.append(rec["error"])
        return errors

    def layer_metrics(self, results: list[list[dict]]) -> dict:
        recs = [r for rs in results for r in rs if r["traced"] and r["error"] is None]
        out = {}
        for kind in QUERY_KINDS:
            rs = [r for r in recs if r["kind"] == kind]
            base = f"plans.query_api.{kind}"
            values = {
                "build_ms_p50": [r["build"] * 1e3 for r in rs],
                "exec_ms_p50": [r["exec"] * 1e3 for r in rs],
                "jobs": [r["span"].attrs.get("jobs", 0) for r in rs],
                "tasks": [r["span"].attrs.get("tasks", 0) for r in rs],
                "rows": [r["n_rows"] for r in rs],
            }
            for f in self.LAYER_FIELDS:
                out[f"{base}.{f}"] = median(values[f])
        return out


WORKLOADS = {w.name: w for w in (Ingest, Query)}


def layer_metric_names() -> list[str]:
    """Every per-layer metric a workload can report (the runner adds
    ``session.get_spark.s``, the ``self_s.*`` and ``trace.*`` metrics)."""
    names = list(Ingest.LAYER_METRICS)
    for kind in QUERY_KINDS:
        names += [f"plans.query_api.{kind}.{f}" for f in Query.LAYER_FIELDS]
    for module, fn, _ in Ingest.DAILY_CALLS:
        names += [f"operators.{module}.{fn}.{f}" for f in Ingest.OPERATOR_FIELDS]
    return names
