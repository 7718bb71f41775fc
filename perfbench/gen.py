"""Seeded input generators for the benchmark, with their ground truth.

Zipkin-shaped traces: a span tree per trace with a heavy-tailed span
count, bounded depth and fan-out, one hot service, a fixed set of span
names per service, low-cardinality tags, a small error share, and every
span of a trace within ``TraceParams.max_trace_ms`` of its root (far
inside the 1-minute session gap).

Everything here is pure Python + numpy: the program under test sees only
the files written from these rows, never this module.
"""

from __future__ import annotations

import dataclasses
from collections import Counter, defaultdict

import numpy as np

# 2024-03-01T00:00:00Z in epoch micros: the generated "day".
DAY_START_US = 1_709_251_200_000_000
DAY_US = 86_400_000_000
BACKENDS = ("mysql", "redis", "kafka", "s3", "memcached")
ENVS = ("prod", "staging", "dev")
ENV_WEIGHTS = (0.7, 0.2, 0.1)


@dataclasses.dataclass(frozen=True)
class TraceParams:
    """Knobs of the trace generator (see perfbench/README.md)."""

    n_spans: int = 11000  # total, fixed so every seed gives the same volume
    n_services: int = 16
    hot_service_share: float = 0.4  # share of root spans on svc-00
    names_per_service: int = 6
    spans_mu: float = 1.4  # log-normal spans per trace: exp(N(mu, sigma))
    spans_sigma: float = 0.8
    max_spans: int = 60
    max_depth: int = 6
    max_fanout: int = 5
    leaf_client_share: float = 0.2  # CLIENT leaf spans calling a backend
    tag_k_cardinality: int = 40
    tag_k_share: float = 0.6
    error_share: float = 0.03
    max_trace_ms: int = 8_000
    start_us: int = DAY_START_US
    window_us: int = DAY_US  # root timestamps are uniform over this window


def _hex16(rng: np.random.Generator, n: int) -> list[str]:
    # Non-zero 64-bit ids as 16 lowercase hex chars.
    vals = rng.integers(1, 2**63 - 1, size=n, dtype=np.int64)
    return [f"{int(v):016x}" for v in vals]


def service_name(i: int) -> str:
    return f"svc-{i:02d}"


def _service_weights(p: TraceParams) -> np.ndarray:
    # One hot service (svc-00); the rest share the remainder Zipf-style.
    rest = 1.0 / np.arange(1, p.n_services)
    rest = rest / rest.sum() * (1.0 - p.hot_service_share)
    return np.concatenate([[p.hot_service_share], rest])


def generate_traces(seed: int, p: TraceParams = TraceParams()) -> list[dict]:
    """Span rows in the scalar ``SPANS_STREAM_SCHEMA`` layout plus a
    ``tags`` dict (the wire form), ordered by trace then creation."""
    rng = np.random.default_rng(seed)
    weights = _service_weights(p)
    # Spans per trace until n_spans are reached; the last trace is cut to fit.
    sizes = np.clip(
        np.rint(np.exp(rng.normal(p.spans_mu, p.spans_sigma, p.n_spans))),
        1,
        p.max_spans,
    ).astype(int)
    n_traces = int(np.searchsorted(np.cumsum(sizes), p.n_spans)) + 1
    sizes = sizes[:n_traces]
    sizes[-1] -= int(sizes.sum()) - p.n_spans
    trace_ids = _hex16(rng, n_traces)
    span_ids = _hex16(rng, p.n_spans)
    starts = p.start_us + rng.integers(
        0, max(1, p.window_us - p.max_trace_ms * 1000), n_traces
    )
    total = p.n_spans
    # Per-span draws made up front (one vectorised call each).
    svc_draw = rng.choice(p.n_services, size=total, p=weights)
    env_draw = rng.choice(len(ENVS), size=total, p=ENV_WEIGHTS)
    name_draw = rng.integers(0, p.names_per_service, size=total)
    k_draw = rng.zipf(1.6, size=total) % p.tag_k_cardinality
    k_present = rng.random(total) < p.tag_k_share
    err_draw = rng.random(total) < p.error_share
    leaf_draw = rng.random(total) < p.leaf_client_share
    backend_draw = rng.integers(0, len(BACKENDS), size=total)
    recent_draw = rng.random(total) < 0.6
    geo_draw = rng.geometric(0.5, size=total) - 1
    pick_draw = rng.random(total)
    ts_draw = rng.random(total)
    dur_draw = rng.uniform(0.05, 0.45, size=total)
    root_durs = rng.integers(2_000, p.max_trace_ms * 1000, size=n_traces)
    rows: list[dict] = []
    sid = 0
    for t in range(n_traces):
        # per-span: [service index, depth, children, timestamp, duration, is_client]
        nodes: list[list[int]] = []
        base = len(rows)
        for i in range(int(sizes[t])):
            if i == 0:
                svc, depth, ts, dur, parent = (
                    int(svc_draw[sid]), 0, int(starts[t]), int(root_durs[t]), None
                )
                kind, remote = "SERVER", None
            else:
                open_nodes = [
                    j for j, nd in enumerate(nodes)
                    if nd[1] < p.max_depth and nd[2] < p.max_fanout and not nd[5]
                ]
                if not open_nodes:
                    break
                # favour recent spans so traces grow deep as well as wide
                if recent_draw[sid]:
                    parent = open_nodes[max(0, len(open_nodes) - 1 - int(geo_draw[sid]))]
                else:
                    parent = open_nodes[int(pick_draw[sid] * len(open_nodes))]
                pnode = nodes[parent]
                pnode[2] += 1
                depth = pnode[1] + 1
                ts = pnode[3] + int(ts_draw[sid] * (pnode[4] // 2))
                dur = max(1, int(pnode[4] * dur_draw[sid]))
                if leaf_draw[sid]:
                    svc, kind = pnode[0], "CLIENT"
                    remote = BACKENDS[int(backend_draw[sid])]
                else:
                    svc, kind = int(svc_draw[sid]), "SERVER"
                    remote = service_name(pnode[0])
            nodes.append([svc, depth, 0, ts, dur, kind == "CLIENT"])
            tags = {"environment": ENVS[int(env_draw[sid])]}
            if k_present[sid]:
                tags["k"] = str(int(k_draw[sid]))
            is_error = bool(err_draw[sid])
            if is_error:
                tags["error"] = "500"
            rows.append(
                {
                    "trace_id": trace_ids[t],
                    "id": span_ids[sid],
                    "parent_id": None if parent is None else rows[base + parent]["id"],
                    "kind": kind,
                    "name": f"op{int(name_draw[sid])}-{service_name(svc)}",
                    "timestamp": ts,
                    "duration": dur,
                    "local_service": service_name(svc),
                    "remote_service": remote,
                    "tag_k": tags.get("k"),
                    "env": tags["environment"],
                    "is_error": is_error,
                    "tags": tags,
                }
            )
            sid += 1
    return rows


SCALAR_COLUMNS = (
    "trace_id", "id", "parent_id", "kind", "name", "timestamp", "duration",
    "local_service", "remote_service", "tag_k", "env", "is_error",
)


def to_wire(span: dict) -> dict:
    """Scalar row -> the SPAN_SCHEMA dict ``functions.proto`` encodes."""
    return {
        "trace_id": span["trace_id"],
        "parent_id": span["parent_id"],
        "id": span["id"],
        "kind": span["kind"],
        "name": span["name"],
        "timestamp": span["timestamp"],
        "duration": span["duration"],
        "local_endpoint": {"service_name": span["local_service"]},
        "remote_endpoint": (
            {"service_name": span["remote_service"]}
            if span["remote_service"] else None
        ),
        "annotations": [],
        "tags": span["tags"],
        "debug": None,
        "shared": None,
    }


def arrival_files(
    rows: list[dict], spans_per_file: int, seed: int, out_of_order: float = 0.3
) -> list[list[dict]]:
    """Chop spans into time-ordered arrival files: every span of file i is
    no later than any span of file i+1 (so none is late under a zero
    watermark delay), while inside a file ``out_of_order`` of the spans
    are swapped to random positions."""
    rng = np.random.default_rng(seed + 1)
    ordered = sorted(rows, key=lambda r: (r["timestamp"], r["id"]))
    files = [
        ordered[i : i + spans_per_file]
        for i in range(0, len(ordered), spans_per_file)
    ]
    for f in files:
        n = len(f)
        for a in np.flatnonzero(rng.random(n) < out_of_order):
            b = int(rng.integers(0, n))
            f[a], f[b] = f[b], f[a]
    return files


def group_records(file_rows: list[dict]) -> list[list[dict]]:
    """One ListOfSpans record per trace present in the file, as a
    collector's span batch would be (KafkaSpanConsumer groups by trace)."""
    by_trace: dict[str, list[dict]] = defaultdict(list)
    for r in file_rows:
        by_trace[r["trace_id"]].append(r)
    return list(by_trace.values())


# Ground truth ----------------------------------------------------------------


def trace_truth(rows: list[dict]) -> dict:
    """Independent recount of what the trace pipeline must produce: span
    count per trace, and (parent service, child service) -> [calls, errors]
    over parent/child span pairs of one trace (the chain-model links)."""
    span_counts = Counter(r["trace_id"] for r in rows)
    by_key = {(r["trace_id"], r["id"]): r for r in rows}
    edges: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
    for r in rows:
        if r["parent_id"] is None:
            continue
        parent = by_key.get((r["trace_id"], r["parent_id"]))
        if parent is None:
            continue
        e = edges[(parent["local_service"], r["local_service"])]
        e[0] += 1
        e[1] += int(r["is_error"])
    return {
        "span_counts": dict(span_counts),
        "edges": {k: tuple(v) for k, v in edges.items()},
        "n_spans": len(rows),
    }
