"""Property-based tests (hypothesis) — randomized invariants the reference's
test suite lacks (SURVEY section 5 'not present' row).

Strategy: generate small random span corpora ONCE per property run as a
DataFrame, then assert engine invariants that must hold for every input:

- trace aggregation partitions spans exactly (no loss, no duplication)
- dependency link counts conserve child-span parent edges
- Trace.merge (dedup) is idempotent
- normalize_trace_id is idempotent and produces canonical form
- find_traces results are always within the requested time range + limit,
  newest first, and each has a span matching every condition
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.zipkin import normalize_trace_id
from zipkin_storage_kafka_spark.operators import (
    aggregate_traces,
    dependency_links,
    merge_links,
)
from zipkin_storage_kafka_spark.operators.trace_aggregation import (
    merge_trace_spans,
)
from zipkin_storage_kafka_spark.streaming.jobs import SPANS_STREAM_SCHEMA

MICROS = 1_000_000

span_strategy = st.fixed_dictionaries(
    {
        "trace_n": st.integers(0, 4),
        "id_n": st.integers(1, 8),
        "parent_n": st.one_of(st.none(), st.integers(1, 8)),
        "ts_off": st.integers(0, 120),
        "svc_n": st.integers(0, 3),
        "error": st.booleans(),
    }
)


def _rows(specs):
    rows = []
    for i, s in enumerate(specs):
        rows.append(
            Row(
                trace_id=f"{s['trace_n']:016x}",
                id=f"{s['id_n']:016x}",
                parent_id=(
                    f"{s['parent_n']:016x}" if s["parent_n"] is not None else None
                ),
                kind=None,
                name=f"op_{i % 3}",
                timestamp=(1_700_000_000 + s["ts_off"]) * MICROS,
                duration=1000,
                local_service=f"svc_{s['svc_n']}",
                remote_service=None,
                tag_k=None,
                env=None,
                is_error=s["error"],
            )
        )
    return rows


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(specs=st.lists(span_strategy, min_size=1, max_size=20))
def test_aggregation_partitions_spans_exactly(spark, specs):
    df = spark.createDataFrame(_rows(specs), SPANS_STREAM_SCHEMA)
    traces = aggregate_traces(df).collect()
    total = sum(t["span_count"] for t in traces)
    assert total == len(specs)
    for t in traces:
        assert len(t["spans"]) == t["span_count"]
        # array sorted by (timestamp, id)
        keys = [(s["timestamp"], s["id"]) for s in t["spans"]]
        assert keys == sorted(keys)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(specs=st.lists(span_strategy, min_size=1, max_size=20))
def test_link_count_conservation(spark, specs):
    """Total call_count == number of (child, parent-present-in-trace)
    span pairs; error_count <= call_count."""
    df = spark.createDataFrame(_rows(specs), SPANS_STREAM_SCHEMA)
    links = merge_links(dependency_links(df)).collect()
    # independent python-side count over the same specs
    by_trace: dict[str, dict[str, int]] = {}
    for s in specs:
        by_trace.setdefault(f"{s['trace_n']:016x}", {})
    # ids may duplicate within a trace: every row joins to every matching id
    rows = _rows(specs)
    expected = 0
    for child in rows:
        if child.parent_id is None:
            continue
        expected += sum(
            1
            for p in rows
            if p.trace_id == child.trace_id and p.id == child.parent_id
        )
    assert sum(l["call_count"] for l in links) == expected
    assert all(0 <= l["error_count"] <= l["call_count"] for l in links)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(specs=st.lists(span_strategy, min_size=1, max_size=16))
def test_trace_merge_idempotent(spark, specs):
    df = spark.createDataFrame(_rows(specs), SPANS_STREAM_SCHEMA)
    once = merge_trace_spans(aggregate_traces(df))
    twice = merge_trace_spans(once)
    a = {r["trace_id"]: [s["id"] for s in r["spans"]] for r in once.collect()}
    b = {r["trace_id"]: [s["id"] for s in r["spans"]] for r in twice.collect()}
    assert a == b
    # dedup: span ids unique per (trace, id) after merge
    for ids in a.values():
        assert len(ids) == len(set(ids))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    raw=st.text(
        alphabet="0123456789abcdefABCDEF", min_size=1, max_size=32
    )
)
def test_normalize_trace_id_idempotent(spark, raw):
    df = spark.createDataFrame([Row(t=raw)])
    once = df.select(normalize_trace_id("t").alias("n"))
    twice = once.select(normalize_trace_id("n").alias("n"))
    v1 = once.first()["n"]
    v2 = twice.first()["n"]
    assert v1 == v2
    assert len(v1) in (16, 32)
    assert v1 == v1.lower()
    assert v1.endswith(raw.lower())


def test_minhash_rowwise_equals_grouped(spark, sf_dir):
    """The zero-shuffle rowwise MinHash projection produces bit-identical
    (doc_id, band, bucket) triples to the explode+groupBy formulation."""
    from zipkin_storage_kafka_spark.operators import dedup as dd
    from zipkin_storage_kafka_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    grouped = dd.minhash_buckets(dd.shingles(docs))
    rowwise = dd.minhash_buckets_rowwise(docs)
    assert grouped.exceptAll(rowwise).count() == 0
    assert rowwise.exceptAll(grouped).count() == 0


def test_critical_path_equals_chain_sum_on_derived_spans(spark, sf_dir):
    """The event-derived span forest is a per-trace CHAIN, so the critical
    path must equal the trace's total duration sum exactly — an invariant
    over every trace at once."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        critical_paths,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    spans = spans_from_events(spark, sf_dir)
    sums = spans.groupBy("trace_id").agg(
        F.sum(F.coalesce("duration", F.lit(0))).alias("dur_sum")
    )
    joined = critical_paths(spans).join(sums, "trace_id")
    mismatches = joined.filter(
        F.col("critical_path_us") != F.col("dur_sum")
    ).count()
    assert mismatches == 0
    assert joined.count() > 0


def test_self_time_conserves_to_root_durations(spark, sf_dir):
    """Global conservation: summing self time over all services must equal
    the sum of ROOT span durations (every child's duration is subtracted
    from its parent exactly once in a forest where every non-root's parent
    exists)."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        self_time_by_service,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    spans = spans_from_events(spark, sf_dir)
    total_self = (
        self_time_by_service(spans).agg(F.sum("self_time_us")).collect()[0][0]
    )
    root_dur = (
        spans.filter(F.col("parent_id").isNull())
        .agg(F.sum(F.coalesce("duration", F.lit(0))))
        .collect()[0][0]
    )
    assert total_self == root_dur


def test_pagerank_mass_bounds(spark, sf_dir):
    """Total rank mass never exceeds the scale (dangling mass only leaks
    out) and never drops below the undamped floor N * ((1-d)/N)."""
    from zipkin_storage_kafka_spark.operators import (
        dependency_links as dl_rows,
    )
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        merge_links,
        service_pagerank,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    links = merge_links(dl_rows(spans_from_events(spark, sf_dir)))
    ranks = service_pagerank(links)
    n = ranks.count()
    total = ranks.agg(F.sum("rank_micro")).collect()[0][0]
    assert n > 0
    assert total <= 1_000_000
    assert total >= n * ((1_000_000 - 850_000) // n)


def test_salted_join_equivalence(spark, sf_dir):
    """Salting must not change join results: spans joined to a per-service
    dim via salted_join == the plain equi-join, row for row."""
    from zipkin_storage_kafka_spark.operators.skew import salted_join
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    spans = spans_from_events(spark, sf_dir).filter(
        F.col("local_service").isNotNull()
    )
    dim = (
        spans.groupBy("local_service")
        .agg(F.count(F.lit(1)).alias("svc_total"))
    )
    plain = spans.join(dim, "local_service").select(
        "local_service", "id", "svc_total"
    )
    salted = salted_join(
        spans, dim, on="local_service", salt_src="id"
    ).select("local_service", "id", "svc_total")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_equivalence_column_src_with_nulls(spark):
    """The Column-input salt path must keep NULL-salt_src rows (coalesce)
    and handle hash()==Integer.MIN_VALUE (pmod, not abs-%): equivalence to
    the plain join must hold row for row including NULL salt sources."""
    from zipkin_storage_kafka_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("k1", "a"), ("k1", None), ("k2", "b"), ("k2", None), ("k1", "c")],
        "k string, tag string",
    )
    dim = spark.createDataFrame([("k1", 10), ("k2", 20)], "k string, v int")
    plain = left.join(dim, "k").select("k", "tag", "v")
    salted = salted_join(left, dim, on="k", salt_src=F.col("tag")).select(
        "k", "tag", "v"
    )
    key = lambda r: (r[0], r[1] or "", r[2])
    assert sorted(plain.collect(), key=key) == sorted(
        salted.collect(), key=key
    )


def test_substring_duplication_hand_fixture(spark):
    """Hand-computed windows (no oracle in the loop — guards against the
    both-engines-no-op failure mode): 26-char doc has 7 20-char windows,
    23-char doc has 4; exactly the position-1 window string is shared."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        substring_duplication,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz"),
            (2, "abcdefghijklmnopqrstXYZ"),
            (3, "short"),  # < window: contributes nothing
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_duplication(docs, window=20).collect()
    }
    assert set(out) == {1, 2}
    assert (out[1]["n_windows"], out[1]["n_dup"]) == (7, 1)
    assert (out[2]["n_windows"], out[2]["n_dup"]) == (4, 1)
    assert out[1]["dup_rate"] == 1 / 7
    # intra-doc repetition also counts as duplication (corpus-wide >= 2)
    rep = spark.createDataFrame(
        [(9, "xxxxxxxxxxxxxxxxxxxxx")],  # 21 chars -> 2 identical windows
        "doc_id long, text string",
    )
    r = substring_duplication(rep, window=20).collect()[0]
    assert (r["n_windows"], r["n_dup"], r["dup_rate"]) == (2, 2, 1.0)


def test_substring_duplication_hash_flavors_agree(spark, sf_dir):
    """The xxhash64 scale path changes key width only: per-doc rates must
    be identical to the md5 oracle flavor on real data."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        substring_duplication,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    md5_rows = {
        r["doc_id"]: (r["n_windows"], r["n_dup"])
        for r in substring_duplication(docs, hash_fn="md5").collect()
    }
    xx_rows = {
        r["doc_id"]: (r["n_windows"], r["n_dup"])
        for r in substring_duplication(docs, hash_fn="xxhash64").collect()
    }
    assert md5_rows == xx_rows


def test_basket_lift_flavors_agree(spark, sf_dir):
    """All three basket_lift flavors (array / selfjoin / bitmask) must
    produce identical rows on a real distinct membership relation — the
    bitmask flavor (r13) packs item sets into int64 masks and must not
    change a single support/lift value; the rank-indexed bit order must
    reproduce the other flavors' item_a < item_b orientation."""
    from pyspark.sql import functions as F

    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        basket_lift,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    member = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    outs = {
        fl: {
            tuple(r)
            for r in basket_lift(
                member, "l_orderkey", "p_brand", flavor=fl
            ).collect()
        }
        for fl in ("array", "selfjoin", "bitmask")
    }
    assert outs["array"] == outs["selfjoin"] == outs["bitmask"]
    assert outs["bitmask"]  # non-vacuous


def test_latency_percentiles_approx_mode_within_bound(spark, sf_dir):
    """The approx flavor (approx_percentile, no per-group sort) must land
    within the sketch's rank-error bound of the exact flavor, and exact
    stays the oracle default."""
    from zipkin_storage_kafka_spark.plans.registry import (
        q_latency_percentiles,
    )

    exact = {
        r["local_service"]: r
        for r in q_latency_percentiles(spark, sf_dir, mode="exact").collect()
    }
    approx = {
        r["local_service"]: r
        for r in q_latency_percentiles(spark, sf_dir, mode="approx").collect()
    }
    assert set(exact) == set(approx)
    for svc, er in exact.items():
        ar = approx[svc]
        assert ar["n_spans"] == er["n_spans"]
        for q in ("p50", "p95", "p99"):
            # approx_percentile returns an actual data value near the
            # requested rank; allow 25% relative slack (tiny per-service
            # groups at test sf make rank error coarse)
            assert abs(ar[q] - er[q]) <= 0.25 * max(er[q], 1.0), (svc, q)


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h, seed):
    """encode->decode is the identity for ANY (h, w, 3) uint8 image —
    all padding residues, degenerate 1-pixel rows/columns included."""
    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


def test_giant_trace_hot_key_aggregation(spark):
    """Hot-key robustness: one 50k-span trace among 200 normal traces.
    The per-trace aggregation and the dependency self-join must stay
    correct (span_count, link call totals) — the single giant group is
    the skew shape AQE/salting exist for; this pins that the operators
    are semantically safe under it."""
    from pyspark.sql import functions as F

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        dependency_links,
    )
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_summaries,
    )

    n_giant, n_normal = 50_000, 200
    giant = spark.range(n_giant).select(
        F.lit("giant").alias("trace_id"),
        F.format_string("g%08x", "id").alias("id"),
        F.when(F.col("id") > 0, F.format_string("g%08x", F.col("id") - 1))
        .alias("parent_id"),
        F.lit(None).cast("string").alias("kind"),
        F.lit("op").alias("name"),
        (F.lit(1_700_000_000_000_000) + F.col("id")).alias("timestamp"),
        F.lit(10).alias("duration"),
        F.concat(F.lit("svc"), (F.col("id") % 5).cast("string")).alias(
            "local_service"
        ),
        F.lit(None).cast("string").alias("remote_service"),
        F.lit(None).cast("string").alias("tag_k"),
        F.lit(None).cast("string").alias("env"),
        F.lit(False).alias("is_error"),
    )
    normal = spark.range(n_normal).select(
        F.format_string("t%04x", "id").alias("trace_id"),
        F.format_string("n%08x", "id").alias("id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(None).cast("string").alias("kind"),
        F.lit("op").alias("name"),
        (F.lit(1_700_000_000_000_000) + F.col("id")).alias("timestamp"),
        F.lit(10).alias("duration"),
        F.lit("svcn").alias("local_service"),
        F.lit(None).cast("string").alias("remote_service"),
        F.lit(None).cast("string").alias("tag_k"),
        F.lit(None).cast("string").alias("env"),
        F.lit(False).alias("is_error"),
    )
    spans = giant.unionByName(normal)
    summaries = {
        r["trace_id"]: r for r in trace_summaries(spans).collect()
    }
    assert len(summaries) == n_normal + 1
    assert summaries["giant"]["span_count"] == n_giant
    # the giant trace is a chain across svc0..svc4: every child span is
    # one call edge (dependency_links emits one row per call)
    assert dependency_links(spans).count() == n_giant - 1


@given(
    n=st.integers(min_value=1, max_value=500),
    ch=st.integers(min_value=1, max_value=4),
    sr=st.sampled_from([4000, 8000, 11025, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(n, ch, sr, seed):
    """encode->decode is the identity for ANY (n, ch) int16 clip at any
    rate — full sample range including -32768, every channel count."""
    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    smp = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int64).astype(
        np.int16
    )
    arr, out_sr = decode_wav(encode_wav(smp, sr))
    assert out_sr == sr
    assert np.array_equal(arr, smp)


@given(
    texts=st.lists(
        st.text(
            alphabet=list("ab the of xyz"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=12,
    ),
    n_sources=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=99),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sampling_operator_invariants(spark, texts, n_sources, seed):
    """Invariants of the corpus-assembly operators on ARBITRARY tiny
    corpora (empty strings, whitespace runs, single docs included):
    quota respects the per-source cap; global_shuffle is a permutation
    with contiguous per-shard positions; curriculum phases partition the
    corpus with sizes differing by at most 1."""
    from zipkin_storage_kafka_spark.operators import text_analysis as ta

    docs = spark.createDataFrame(
        [
            (i, t, "en", f"src{i % n_sources}", len(t))
            for i, t in enumerate(texts)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    n = len(texts)

    quota = ta.quota_sample(docs, per_source=2).toPandas()
    assert (quota.groupby("source").size() <= 2).all()

    shuf = ta.global_shuffle(docs, seed=seed).toPandas()
    assert sorted(shuf["doc_id"]) == list(range(n))
    for _, grp in shuf.groupby("shard"):
        assert sorted(grp["position"]) == list(range(1, len(grp) + 1))

    cur = ta.curriculum_order(docs).toPandas()
    assert sorted(cur["doc_id"]) == list(range(n))
    sizes = cur.groupby("phase").size()
    assert sizes.max() - sizes.min() <= 1


@given(
    seed=st.integers(min_value=0, max_value=2**31),
    shift=st.integers(min_value=0, max_value=55),
    w=st.integers(min_value=8, max_value=32),
    h=st.integers(min_value=8, max_value=32),
)
@settings(max_examples=60, deadline=None)
def test_ahash_brightness_shift_invariance_property(seed, shift, w, h):
    """aHash is bit-invariant under any constant brightness shift that
    doesn't wrap (pixels capped at 200, shift <= 55): the mean moves
    with the pixels so every threshold decision is preserved — the
    property that makes it a NEAR-dup fingerprint.  Also: every band
    fits 16 bits and the four bands carry all 64 grid bits."""
    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import ahash_bands

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 201, size=(h, w, 3), dtype=np.uint8)
    base = ahash_bands(px)
    shifted = ahash_bands((px.astype(np.int64) + shift).astype(np.uint8))
    assert base == shifted
    assert all(0 <= b < 2**16 for b in base)


@given(
    seed=st.integers(min_value=0, max_value=2**31),
    n=st.integers(min_value=2, max_value=200),
    ch=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=60, deadline=None)
def test_pcm_features_match_reference_property(seed, n, ch):
    """pcm_channel_features equals an independent per-channel reference
    (float RMS, explicit crossing loop) on random int16 blocks —
    including extreme values where a float32 square would overflow
    (int16 min squared needs int64)."""
    import math

    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import (
        pcm_channel_features,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
    arr[0, :] = -32768  # force the extreme into every example
    got = pcm_channel_features(arr)
    for c in range(ch):
        v = [int(x) for x in arr[:, c]]
        rms_ref = math.sqrt(sum(x * x for x in v) / n)
        cross_ref = sum(
            1 for a, b in zip(v, v[1:]) if (a >= 0) != (b >= 0)
        )
        gc, grms, gcross, gzcr = got[c]
        assert gc == c and gcross == cross_ref
        assert grms == rms_ref
        assert gzcr == cross_ref / (n - 1)


@settings(deadline=None, max_examples=40)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(1, 6),
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    fps=st.integers(1, 60),
)
def test_frv_codec_roundtrip_property(seed, n, w, h, fps):
    """encode_frv -> decode_frv is the identity for ANY (n, h, w, 3)
    uint8 frame stack and fps — header fields and every byte survive."""
    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import (
        decode_frv,
        encode_frv,
    )

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    back, back_fps = decode_frv(encode_frv(frames, fps))
    assert back_fps == fps
    assert back.shape == frames.shape
    assert (back == frames).all()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(st.integers(1, 5000), min_size=5, max_size=40),
    k=st.integers(1, 6),
)
def test_priority_sample_matches_python_recompute(spark, weights, k):
    """For any weight vector, priority sampling selects exactly the
    python-recomputed top-k (by w*2^32 div u, doc_id tiebreak) when
    n > k, and every est_weight = max(w, tau) with tau the (k+1)-th
    priority."""
    import hashlib

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        priority_sample,
    )

    if len(weights) <= k:
        return
    docs = spark.createDataFrame(
        [(i, "x", "en", "s", w) for i, w in enumerate(weights)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in priority_sample(docs, k=k).collect()}

    def pri(i, w):
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 1
        return (w * 4294967296) // u

    ranked = sorted(
        ((pri(i, w), -i) for i, w in enumerate(weights)), reverse=True
    )
    want = {-nid for _, nid in ranked[:k]}
    tau = ranked[k][0]
    assert set(out) == want
    for i in want:
        assert out[i]["est_weight"] == max(weights[i], tau)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    baskets=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from("abcde")),
        min_size=1,
        max_size=40,
    )
)
def test_basket_lift_conserves_support(spark, baskets):
    """For any membership multiset: pair support never exceeds either
    marginal, marginals never exceed the basket total, and
    lift_micro == floor(pair*N*1e6/(a*b)) exactly."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        basket_lift,
    )

    member = spark.createDataFrame(
        sorted(set(baskets)), "bk int, it string"
    )
    n_total = len({b for b, _ in set(baskets)})
    out = basket_lift(member, "bk", "it").collect()
    for r in out:
        assert r["pair_baskets"] <= min(r["a_baskets"], r["b_baskets"])
        assert max(r["a_baskets"], r["b_baskets"]) <= n_total
        assert r["lift_micro"] == (
            r["pair_baskets"] * n_total * 1_000_000
        ) // (r["a_baskets"] * r["b_baskets"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    noise=st.lists(
        st.text(alphabet="abcdefgh ", min_size=12, max_size=40),
        min_size=2,
        max_size=4,
    ),
    run=st.text(alphabet="xyzuvw", min_size=11, max_size=24),
)
def test_winnowing_guarantee_property(spark, noise, run):
    """The Schleimer guarantee, randomized: any two docs sharing a
    substring of length >= gram + window - 1 (= 11) MUST share at
    least one selected fingerprint (min_shared=1 to test the raw
    guarantee).  Noise docs use a disjoint alphabet so cross-matches
    can't confound the assertion."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnowing_pairs,
    )

    rows = [Row(doc_id=1, text=noise[0] + run), Row(doc_id=2, text=run + noise[1])]
    rows += [
        Row(doc_id=10 + i, text=t) for i, t in enumerate(noise)
    ]
    docs = spark.createDataFrame(rows)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnowing_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    counts=st.lists(st.integers(min_value=0, max_value=9), min_size=2, max_size=24),
)
def test_cusum_matches_bruteforce(spark, counts):
    """cusum_changepoint equals the plain-python argmax of
    |n*prefix - t*T| over 1 <= t < n (earliest tie) on an arbitrary
    integer series."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    if sum(counts) == 0 or counts[0] == 0 or counts[-1] == 0:
        counts = [1] + counts + [1]  # pin lo/hi so the spine is the list

    rows = []
    for m, c in enumerate(counts):
        rows += [("t", datetime.fromtimestamp(
            (5000 + m) * 60, tz=timezone.utc).replace(tzinfo=None))] * c
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = an.cusum_changepoint(spark, "ignored").collect()[0]

    n, total = len(counts), sum(counts)
    best = None
    prefix = 0
    for t in range(1, n):
        prefix += counts[t - 1]
        s = abs(n * prefix - t * total)
        if best is None or s > best[0]:
            best = (s, t)
    assert (out["s_abs_max"], out["change_minute_ms"]) == (
        best[0], (5000 + best[1] - 1) * 60_000,
    )
    assert out["n_minutes"] == n and out["total_events"] == total


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    baskets=st.lists(
        st.lists(st.integers(min_value=1, max_value=8), min_size=1, max_size=4),
        min_size=1,
        max_size=8,
    ),
)
def test_item_neighbors_jaccard_matches_bruteforce(spark, baskets):
    """Every reported jaccard_micro equals the exact set-Jaccard of
    the two items' basket sets computed in plain python, and rank
    ordering matches the (jaccard desc, pair desc, neighbor asc)
    sort."""
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    member = {(o, p) for o, items in enumerate(baskets) for p in items}
    li = spark.createDataFrame(
        [Row(l_orderkey=o, l_partkey=p) for o, p in member]
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: li):
        rows = an.item_neighbors(spark, "ignored", k=3).collect()

    of_item: dict[int, set] = {}
    for o, p in member:
        of_item.setdefault(p, set()).add(o)
    for r in rows:
        a, b = of_item[r["part_key"]], of_item[r["neighbor_key"]]
        inter = len(a & b)
        assert inter == r["pair_baskets"] > 0
        assert r["jaccard_micro"] == (inter * 1_000_000) // len(a | b)
    for key in {r["part_key"] for r in rows}:
        mine = sorted(
            (r for r in rows if r["part_key"] == key),
            key=lambda r: r["rank"],
        )
        expect = sorted(
            mine,
            key=lambda r: (-r["jaccard_micro"], -r["pair_baskets"],
                           r["neighbor_key"]),
        )
        assert [r["neighbor_key"] for r in mine] == [
            r["neighbor_key"] for r in expect
        ]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=600),
            st.integers(min_value=0, max_value=600),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_open_orders_prefix_sum_matches_python(spark, iv):
    """The two-level distributed prefix sum equals a plain python
    running total over random [start, end] intervals — including
    intervals spanning the div-256 bucket boundary."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    iv = [(s, max(s, e)) for s, e in iv]

    def _t(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    orders = spark.createDataFrame(
        [(i, _t(s)) for i, (s, _) in enumerate(iv)],
        "o_orderkey long, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(i, _t(e)) for i, (_, e) in enumerate(iv)],
        "l_orderkey long, l_shipdate timestamp",
    )

    def fake_load(s, d, name):
        return {"orders": orders, "lineitem": lineitem}[name]

    with mock.patch.object(tables, "load_table", fake_load):
        out = {
            r["day_ms"] // 86_400_000: r["open_orders"]
            for r in an.open_orders_timeline(spark, "ignored").collect()
        }

    from collections import Counter

    opened = Counter(s for s, _ in iv)
    closed = Counter(e + 1 for _, e in iv)
    days = sorted(set(opened) | set(closed))
    run = 0
    expect = {}
    for d in days:
        run += opened.get(d, 0) - closed.get(d, 0)
        expect[d] = run
    assert out == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "hot", "d"]),
        min_size=1,
        max_size=60,
    ),
)
def test_shuffle_key_skew_matches_python(spark, keys):
    """Every skew-audit stat equals a plain python recompute on a
    random key multiset."""
    from collections import Counter

    from zipkin_storage_kafka_spark.operators.skew import shuffle_key_skew

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    r = shuffle_key_skew(df, ["k"]).collect()[0]
    c = Counter(keys)
    n_keys, total, mx = len(c), sum(c.values()), max(c.values())
    hot = sum(1 for v in c.values() if v * n_keys > 10 * total)
    assert (
        r["n_keys"], r["total_rows"], r["max_rows"],
        r["top1_share_micro"], r["skew_vs_mean_micro"], r["hot_keys_10x"],
    ) == (
        n_keys, total, mx,
        (mx * 1_000_000) // total,
        (mx * n_keys * 1_000_000) // total,
        hot,
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    budget=st.integers(min_value=1, max_value=500),
)
def test_semantic_audit_members_matches_python(spark, counts, budget):
    """semantic_audit_members = per-cell md5-order cap at
    m = isqrt(2*budget), then the exclusive-prefix cell walk on the
    CAPPED pair counts — byte-identical to a plain python model, and
    the audited pair mass never exceeds ~2x the budget."""
    import hashlib
    import math

    from zipkin_storage_kafka_spark.operators.similarity import (
        semantic_audit_members,
    )

    rows = [
        (label * 1000 + i, label)
        for label, c in enumerate(counts)
        for i in range(c)
    ]
    assign = spark.createDataFrame(rows, "vec_id long, label int")
    got = sorted(
        (r["vec_id"], r["label"])
        for r in semantic_audit_members(assign, budget).collect()
    )
    m = math.isqrt(2 * budget)
    capped = {}
    for label, c in enumerate(counts):
        ids = sorted(
            (label * 1000 + i for i in range(c)),
            key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v),
        )[:m]
        capped[label] = ids
    ordered = sorted(capped, key=lambda lb: (len(capped[lb]), lb))
    expect, before, audited_pairs = [], 0, 0
    for label in ordered:
        c = len(capped[label])
        if before < budget:
            expect.extend((v, label) for v in capped[label])
            audited_pairs += c * (c - 1) // 2
        before += c * (c - 1) // 2
    assert got == sorted(expect)
    assert got  # the smallest cell is always audited
    assert audited_pairs <= 2 * budget + m * (m - 1) // 2


# -- plan-audit windowspec parser (r12: the gating rule's tokenizer) -----

_paren_atom = st.text(
    alphabet="abcxyz0123456789#_ $",
    min_size=1,
    max_size=8,
).map(lambda s: s.strip() or "x")


@st.composite
def _balanced_exprs(draw, depth=2):
    """A top-level argument: atoms optionally wrapped in nested
    parenthesized calls, possibly containing commas INSIDE the parens."""
    if depth == 0:
        return draw(_paren_atom)
    inner = draw(
        st.lists(_balanced_exprs(depth=depth - 1), min_size=1, max_size=3)
    )
    name = draw(_paren_atom)
    wrap = draw(st.booleans())
    return f"{name}({', '.join(inner)})" if wrap else draw(_paren_atom)


@given(st.lists(_balanced_exprs(), min_size=1, max_size=5))
@settings(deadline=None, max_examples=200)
def test_spec_args_recovers_toplevel_args(args):
    """_spec_args must split a windowspecdefinition argument list on
    TOP-LEVEL commas only, for any nesting of balanced parens — the
    [^)]* regex it replaced truncated at the first nested ')'."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import _spec_args

    plan = "windowspecdefinition(" + ", ".join(args) + "), trailing junk"
    got = _spec_args(plan, len("windowspecdefinition("))
    assert got == args


_literal_atom = st.sampled_from(
    ["'('", "')'", "','", "'a,b'", "'(('", "'it''s'", "x", "col#12"]
)


@st.composite
def _quoted_exprs(draw, depth=2):
    """Like _balanced_exprs but the leaves can be single-quoted string
    literals holding parens/commas/escaped quotes — the plan text shape
    ADVICE r12 #3 flagged (substring(x, '(', 1))."""
    if depth == 0:
        return draw(_literal_atom)
    inner = draw(
        st.lists(_quoted_exprs(depth=depth - 1), min_size=1, max_size=3)
    )
    name = draw(_paren_atom)
    wrap = draw(st.booleans())
    return f"{name}({', '.join(inner)})" if wrap else draw(_literal_atom)


@given(st.lists(_quoted_exprs(), min_size=1, max_size=5))
@settings(deadline=None, max_examples=200)
def test_spec_args_ignores_quoted_literals(args):
    """Parens and commas INSIDE single-quoted plan literals must not
    unbalance the scan or split an arg (ADVICE r12 #3); Spark escapes
    an embedded quote by doubling it, which the scanner treats as
    close-then-reopen — net effect identical."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import _spec_args

    plan = "windowspecdefinition(" + ", ".join(args) + "), trailing junk"
    got = _spec_args(plan, len("windowspecdefinition("))
    assert got == args


search_span_strategy = st.fixed_dictionaries(
    {
        "trace_n": st.integers(0, 7),
        "ts_off": st.integers(0, 7200),
        "svc_n": st.integers(0, 2),
        "name_n": st.integers(0, 2),
        "duration": st.one_of(st.none(), st.integers(1, 5000)),
        "env": st.sampled_from([None, "dev", "prod"]),
        "tag_k": st.sampled_from([None, "1", "2"]),
        "error": st.booleans(),
    }
)
search_request_strategy = st.fixed_dictionaries(
    {
        "service_name": st.one_of(st.none(), st.sampled_from(["svc_0", "svc_1", "svc_9"])),
        "span_name": st.one_of(st.none(), st.sampled_from(["op_0", "op_1"])),
        "annotation_query": st.sampled_from(
            [{}, {"environment": "dev"}, {"k": "2"}, {"error": ""}, {"k": ""}]
        ),
        "min_duration": st.one_of(st.none(), st.integers(1, 5000)),
        "max_duration": st.one_of(st.none(), st.integers(1, 5000)),
        "end_off": st.integers(0, 7200),
        "lookback_s": st.integers(0, 7200),
        "limit": st.integers(1, 5),
    }
)


def _search_rows(specs):
    return [
        Row(
            trace_id=f"{s['trace_n']:016x}",
            id=f"{i:016x}",
            parent_id=None,
            kind=None,
            name=f"op_{s['name_n']}",
            timestamp=(1_700_000_000 + s["ts_off"]) * MICROS,
            duration=s["duration"],
            local_service=f"svc_{s['svc_n']}",
            remote_service=None,
            tag_k=s["tag_k"],
            env=s["env"],
            is_error=s["error"],
        )
        for i, s in enumerate(specs)
    ]


def _span_matches_request(span: Row, q: dict) -> bool:
    """zipkin2 QueryRequest.test's single-span conjunct, in Python."""
    tags = {"environment": span.env, "k": span.tag_k,
            "error": "true" if span.is_error else None}
    return (
        (q["service_name"] is None or span.local_service == q["service_name"])
        and (q["span_name"] is None or span.name == q["span_name"])
        and (q["min_duration"] is None
             or (span.duration is not None and span.duration >= q["min_duration"]))
        and (q["max_duration"] is None
             or (span.duration is not None and span.duration <= q["max_duration"]))
        and all(
            tags.get(k) is not None if v == "" else tags.get(k) == v
            for k, v in q["annotation_query"].items()
        )
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    specs=st.lists(search_span_strategy, min_size=1, max_size=24),
    queries=st.lists(search_request_strategy, min_size=1, max_size=4),
)
def test_find_traces_in_range_limited_sorted_and_matching(spark, specs, queries):
    """get_traces against a brute-force recompute: every result is inside
    [end_ts - lookback, end_ts], at most ``limit`` come back, newest first
    with ties broken by trace_id, and each is a trace with at least one
    span matching every condition — and no better trace is left out."""
    from zipkin_storage_kafka_spark.plans.query_api import QueryRequest, SpanStore

    rows = _search_rows(specs)
    spans_by_trace: dict[str, list[Row]] = {}
    for r in rows:
        spans_by_trace.setdefault(r.trace_id, []).append(r)
    start = {t: min(s.timestamp for s in ss) for t, ss in spans_by_trace.items()}
    store = SpanStore(spark.createDataFrame(rows, SPANS_STREAM_SCHEMA))
    try:
        for q in queries:
            end_ts = 1_700_000_000_000 + q["end_off"] * 1000
            lookback = q["lookback_s"] * 1000
            request = QueryRequest(
                service_name=q["service_name"],
                span_name=q["span_name"],
                annotation_query=q["annotation_query"],
                min_duration=q["min_duration"],
                max_duration=q["max_duration"],
                end_ts=end_ts,
                lookback=lookback,
                limit=q["limit"],
            )
            got = [
                (r["trace_id"], r["trace_timestamp"])
                for r in store.get_traces(request).collect()
            ]
            lo_us, hi_us = (end_ts - lookback) * 1000, end_ts * 1000
            assert len(got) <= q["limit"]
            assert all(lo_us <= ts <= hi_us for _, ts in got)
            assert got == sorted(got, key=lambda g: (-g[1], g[0]))
            for trace_id, ts in got:
                assert ts == start[trace_id]
                assert any(_span_matches_request(s, q) for s in spans_by_trace[trace_id])
            want = sorted(
                (
                    (t, ts)
                    for t, ts in start.items()
                    if lo_us <= ts <= hi_us
                    and any(_span_matches_request(s, q) for s in spans_by_trace[t])
                ),
                key=lambda g: (-g[1], g[0]),
            )[: q["limit"]]
            assert got == want
    finally:
        store.close()
