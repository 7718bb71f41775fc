"""Trace-storage benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is a report with sample counts,
percentiles and the error ratio.  Exit status is 0 only when every
operation succeeded and every checked output was correct.

See perfbench/README.md for the workloads, metrics and checks.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# A capped driver heap (the program's default is 16g): with the default the
# JVM grows to 5.5 GB resident on the query workload, most of it garbage
# not yet collected, on hosts where memory is shared; every workload's live
# data fits in 2g.
DRIVER_MEMORY = "2g"
# Gated: set-up time and CPU time per item.  Wall time per unit and items
# per second are on the report line only: on a host whose other guests
# take CPU away (steal), they spread by more than any allowed bound.
E2E_METRICS = ("setup_s", "cpu_ms_per_item")


def runner_layer_metrics() -> list[str]:
    """Per-layer metrics the runner itself adds to a workload's own."""
    from tracer import LAYERS

    return [
        "session.get_spark.s", "process.peak_rss_mb", "trace.overhead_s", "trace.overhead_pct",
    ] + [
        f"self_s.{layer}" for layer in LAYERS
    ]


def metric_specs() -> tuple[dict, dict]:
    with open(SPEC) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def isolate(run_dir: str) -> dict:
    """Per-run scratch directories inside the checkout, exported before the
    JVM and its Python workers start so every temporary file lands there.
    Environment overrides of the session's configuration are dropped, so
    the run measures what ``session.get_spark`` ships, but for the driver
    heap (``DRIVER_MEMORY``)."""
    dirs = {k: os.path.join(run_dir, k) for k in ("cache", "local", "tmp", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_CACHE_DIR=dirs["cache"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM, its Python daemon and workers), including the exited
    children they have waited for.  Time the machine gave to other guests
    (steal) is not in it, unlike wall time."""
    me = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # exited while we looked
            continue
        fields = data[data.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time

    def ours(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(t for pid, t in ticks.items() if ours(pid)) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args, dirs: dict) -> tuple[dict, dict, dict, list | None]:
    """Returns (metrics, report, outcome, spans of a traced run)."""
    import workloads as W
    from tracer import Tracer, batch_listener

    from zipkin_storage_kafka_spark.session import get_spark

    trace_mode = bool(args.trace)
    tracer = Tracer(enabled=False)  # switched on for traced passes only
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_mode:  # keep every job's status for the per-span counts
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    session_ready = time.perf_counter() - PROCESS_START
    tracer.bind(spark)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ctx = W.Context(spark, tracer, dirs["work"], args.seed)
    wl = W.WORKLOADS[args.workload](ctx)
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        # process start to the first timed operation, set up once, cold
        setup_s = time.perf_counter() - PROCESS_START
        if trace_mode:
            ctx.listener = batch_listener()
            spark.streams.addListener(ctx.listener)
        ticks0 = cpu_ticks()
        if args.workload == "query":
            measured = measure_query(wl, args.seconds, trace_mode)
        else:
            measured = measure_passes(wl, args.seconds, trace_mode)
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        tracer.resolve_counts()
        layers = layer_metrics(wl, tracer, measured, session_s) if trace_mode else {}
    finally:
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        stop_spark(spark)
    metrics = {"setup_s": setup_s, "cpu_ms_per_item": measured["cpu_ms_per_item"]}
    layers["process.peak_rss_mb"] = rss_mb
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "session_s": session_ready,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "peak_rss_mb": rss_mb,
        **measured["report"],
        # share of the machine's CPU time taken by other guests while measuring
        "steal_pct": 100.0 * steal / max(1, total),
        "error_ratio": measured["failed"] / max(1, measured["attempted"]),
        "errors": measured["errors"][:10],
    }
    spans = tracer.as_dicts() if trace_mode else None
    return (layers if trace_mode else metrics), report, measured, spans


def measure_passes(wl, seconds: float, trace_mode: bool) -> dict:
    """As many whole back-to-back passes as fit in ``seconds``, at least
    one.  In trace mode passes alternate untraced/traced, at least two
    (untraced, then traced), for the tracing overhead."""
    passes, kinds = [], []
    t0 = time.perf_counter()
    while True:
        traced = trace_mode and len(passes) % 2 == 1
        wl.ctx.tracer.enabled = traced
        c0 = tree_cpu_s()
        passes.append(wl.run_pass(traced))
        passes[-1].cpu_s = tree_cpu_s() - c0
        kinds.append(traced)
        typical = statistics.median(p.seconds for p in passes)
        fits = time.perf_counter() - t0 + typical <= seconds
        if not fits and (not trace_mode or len(passes) >= 2):
            break
    wl.ctx.tracer.enabled = False
    elapsed = time.perf_counter() - t0
    plain = [p for p, k in zip(passes, kinds) if not k]
    traced = [p for p, k in zip(passes, kinds) if k]
    errors = [e for p in passes for e in p.errors]
    wall_s = statistics.median(p.seconds for p in plain)
    out = {
        "wall_s": wall_s,
        "cpu_ms_per_item": 1e3 * sum(p.cpu_s for p in plain) / sum(p.items for p in plain),
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(p.attempted for p in passes if p.errors),
        "errors": errors,
        "report": {
            "wall_s": wall_s,
            "items_per_s": sum(p.items for p in plain) / sum(p.seconds for p in plain),
            "passes": len(plain),
            "pass_s": [round(p.seconds, 4) for p in plain],
            "pass_cpu_s": [round(p.cpu_s, 3) for p in plain],
            "items_per_pass": plain[0].items,
            "measured_s": elapsed,
        },
    }
    if traced:
        out["traced_wall_s"] = statistics.median(p.seconds for p in traced)
        out["report"]["traced_pass_s"] = [round(p.seconds, 4) for p in traced]
    out["traced_units"] = len(traced)
    return out


def measure_query(wl, seconds: float, trace_mode: bool) -> dict:
    import workloads as W

    c0 = tree_cpu_s()
    res = wl.run_clients(seconds, trace_mode)
    loop_cpu_s = tree_cpu_s() - c0
    recs = [r for rs in res["results"] for r in rs]
    errors = [repr(f) for f in res["failures"]]
    errors += [r["error"] for r in recs if r["error"] is not None]
    errors += wl.check(res["results"])
    ok = [r for r in recs if r["error"] is None and not r["traced"]]
    lat = [r["seconds"] for r in ok]
    by_kind = {
        k: [r["seconds"] * 1e3 for r in ok if r["kind"] == k] for k in W.QUERY_KINDS
    }
    names = [x for k in W.NAME_KINDS for x in by_kind[k]]
    lat_ms = [x * 1e3 for x in lat]
    report = {
        "requests": len(ok),
        "query_p50_ms": W.median(lat_ms),
        "query_p90_ms": W.percentile(lat_ms, 90),
        "beyond_p90": sum(1 for x in lat_ms if x > W.percentile(lat_ms, 90)),
        "tail": tail_percentile(lat_ms),
        "find_traces_p50_ms": W.median(by_kind["find_traces"]),
        "get_trace_p50_ms": W.median(by_kind["get_trace"]),
        "dependencies_p50_ms": W.median(by_kind["dependencies"]),
        "names_p50_ms": W.median(names),
        "wall_s": statistics.median(lat),
        "items_per_s": len(ok) / res["elapsed"],
        "samples_by_kind": {k: len(v) for k, v in by_kind.items()},
        "measured_s": res["elapsed"],
    }
    traced = [r["seconds"] for r in recs if r["traced"] and r["error"] is None]
    out = {
        "wall_s": statistics.median(lat),
        # both clients' requests share the CPU time; the traced run has no
        # end-to-end metrics, so its mix of traced requests does not matter
        "cpu_ms_per_item": loop_cpu_s * 1e3 / max(1, len(recs)),
        "attempted": len(recs),
        "failed": sum(1 for r in recs if r["error"] is not None) + len(res["failures"]),
        "errors": [e for e in errors if e],
        "report": report,
        "results": res["results"],
        "traced_units": len(traced),
    }
    if traced:
        out["traced_wall_s"] = statistics.median(traced)
    return out


def tail_percentile(xs: list[float], beyond: int = 10) -> dict:
    """The highest percentile with at least ``beyond`` samples above it."""
    xs = sorted(xs)
    if len(xs) <= beyond:
        return {"pct": None, "ms": None, "beyond": len(xs)}
    return {"pct": 100.0 * (len(xs) - beyond) / len(xs), "ms": xs[-beyond - 1],
            "beyond": beyond}


def layer_metrics(wl, tracer, measured: dict, session_s: float) -> dict:
    if wl.name == "query":
        out = wl.layer_metrics(measured["results"])
    else:
        out = wl.layer_metrics()
    out["session.get_spark.s"] = session_s
    units = max(1, measured["traced_units"])
    for layer, s in tracer.self_seconds().items():
        out[f"self_s.{layer}"] = s / units
    if "traced_wall_s" in measured:
        over = measured["traced_wall_s"] - measured["wall_s"]
        out["trace.overhead_s"] = over
        out["trace.overhead_pct"] = 100.0 * over / measured["wall_s"]
    return out


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> dict:
    """The final JSON object: exactly the metrics of ``units`` (a name ->
    unit map from BENCHMARK.json).  A name the spec does not list is a
    bug in the benchmark, so it raises instead of being printed."""
    unknown = set(metrics) - set(units)
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # A layer this workload never enters did no work there: report 0.
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()
        },
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # Fail fast, before any set-up, when the program is not beside us.
    if not os.path.isdir(os.path.join(ROOT, "zipkin_storage_kafka_spark")):
        print(f"error: no zipkin_storage_kafka_spark package in {ROOT}", file=sys.stderr)
        return 2
    e2e, per_layer = metric_specs()
    sys.path[:0] = [ROOT, HERE]
    # Scratch stays inside the checkout (a benchmark run may write nowhere
    # else) in one hidden directory, removed when the run ends.
    base = os.path.join(ROOT, ".bench_tmp")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    dirs = isolate(run_dir)
    try:
        metrics, report, measured, spans = run(args, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    result = result_line(
        metrics, per_layer if args.trace else e2e, measured["attempted"], measured["failed"]
    )
    if spans is not None:
        print(json.dumps({"spans": spans}))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
