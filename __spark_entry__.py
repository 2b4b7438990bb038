"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive value hash).  ``scripts/check_parity.py`` and
``tests/test_gate_tail_parity.py`` run the same comparison over every
entry.

Engine code lives in ``eventhub_to_timescale_spark/``; this module only
adapts it to the driver's (spark, sf_dir) calling convention. The
time-series queries (Q1–Q9 from SURVEY.md §2.3) run over the EAV
``conditions`` view of the ``events`` table; the ingest queries
exercise the full envelope→converter→sink pipeline on deterministically
synthesized publisher messages.
"""

from __future__ import annotations

import os
import sys

# the engine package lives beside this file; make its import robust to
# whatever cwd/sys.path the driver process uses
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)
# Python workers (the pandas UDFs of q6_asap_smooth/q6_lttb_downsample)
# import the package too but never see this process's sys.path; a JVM
# launched after this import hands PYTHONPATH on to them
if _HERE not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_HERE, os.environ.get("PYTHONPATH")) if p
    )

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Fixed query window covering the synthetic events range (2024-01-01 ..
# 2024-01-30) at every scale factor.
START = datetime(2024, 1, 1)
END = datetime(2024, 1, 31)
DAY_START = datetime(2024, 1, 5)
DAY_END = datetime(2024, 1, 6)

_SQL_START = "TIMESTAMP '2024-01-01 00:00:00'"
_SQL_END = "TIMESTAMP '2024-01-31 00:00:00'"


def _conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.sources.testdata import events_as_conditions

    return events_as_conditions(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Q1 tumbling-window average on sf0.001; driver checks rows>0."""
    return _q1(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Q1–Q9 wrappers
# ---------------------------------------------------------------------------


def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import aggregated_by_interval

    df = aggregated_by_interval(
        _conditions(spark, sf_dir), "user_7", "value", START, END, 21600
    )
    return df.select("time", F.round("avg_value", 6).alias("avg_value"))


def _q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import aggregated_data

    df = aggregated_data(_conditions(spark, sf_dir), "user_3", "value", START, END, 200)
    return df.select("time", F.round("avg_value", 6).alias("avg_value"))


def _q3_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import aggregated_by_day

    return aggregated_by_day(_conditions(spark, sf_dir), "user_3", "value", START, END)


def _q3_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import aggregated_by_day

    df = aggregated_by_day(
        _conditions(spark, sf_dir), "user_3", "value", DAY_START, DAY_END
    )
    return df.select("time", F.round("avg_value", 6).alias("avg_value"))


def _q4_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import most_frequent_value

    return most_frequent_value(
        _conditions(spark, sf_dir), "user_5", "event_type", START, END
    )


def _q5_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeweight import time_weighted_average

    df = time_weighted_average(
        _conditions(spark, sf_dir), "user_7", "value", START, END, "locf", 360
    )
    return df.select(
        "dt", F.round("time_weighted_value", 6).alias("time_weighted_value")
    )


def _q5_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeweight import time_weighted_average

    df = time_weighted_average(
        _conditions(spark, sf_dir), "user_7", "value", START, END, "linear", 360
    )
    return df.select(
        "dt", F.round("time_weighted_value", 6).alias("time_weighted_value")
    )


def _q6_asap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.asap import asap_smooth

    # user_8 / resolution 16: at sf0.01 the ACF-guided window search
    # actually selects w=4 (not the w=1 fallback) AND the stride
    # downsample fires, so the oracle exercises every code path
    return asap_smooth(
        _conditions(spark, sf_dir), "user_8", "value", START, END, resolution=16
    )


def _q6_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.asap import lttb_downsample

    # resolution 24 < grid size at every sf → the triangle-area pick
    # sequence genuinely runs (at 200 it was a passthrough)
    return lttb_downsample(
        _conditions(spark, sf_dir), "user_7", "value", START, END, resolution=24
    )


def _q6_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.asap import moving_average_smooth

    return moving_average_smooth(
        _conditions(spark, sf_dir), "user_7", "value", START, END,
        resolution=360, window_k=2,
    )


def _q1_all_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import time_slice
    from eventhub_to_timescale_spark.functions.scalars import epoch_bucket

    cond = _conditions(spark, sf_dir)
    sliced = time_slice(cond, None, "value", START, END)
    return (
        sliced.groupBy(
            "measurement_subject",
            epoch_bucket(F.col("timestamp"), 21600).alias("time"),
        )
        .agg(F.round(F.avg("measurement_number"), 6).alias("avg_value"))
        .orderBy("measurement_subject", "time")
    )


def _dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    return embedding_near_duplicates(_embs(spark, sf_dir), threshold=0.3)


def _q7_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import unique_subjects

    return unique_subjects(_conditions(spark, sf_dir), "event_type", START, END)


def _q8_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import changed_rows

    return changed_rows(_conditions(spark, sf_dir), None, "event_type", START, END)


def _q9_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.timeseries import state_intervals

    df = state_intervals(
        _conditions(spark, sf_dir), None, "event_type", START, END, close_at=END
    )
    return df.select(
        "time", F.col("timeEnd").alias("time_end"), "measurement_subject", "value"
    )


def _q8_changes_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key scale path for Q8 (chunked lag);
    row-identical to q8_changed_rows, so it shares that oracle.
    Gates the DEFAULT call (r14): chunk_seconds="auto" sizes the
    chunk from the CMS subject-skew profile (r13 verdict ask #3) —
    balanced data degenerates to one chunk; the boundary-repair
    machinery is exercised by the width-parameterized property tests
    in tests/test_queries.py."""
    from eventhub_to_timescale_spark.operators.timeseries import (
        changed_rows_salted,
    )

    return changed_rows_salted(
        _conditions(spark, sf_dir), None, "event_type", START, END,
    )


def _q9_intervals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key scale path for Q9; shares q9_state_intervals' oracle.
    Gates the DEFAULT call (r14): chunk_seconds="auto" — see
    _q8_changes_salted."""
    from eventhub_to_timescale_spark.operators.timeseries import (
        state_intervals_salted,
    )

    df = state_intervals_salted(
        _conditions(spark, sf_dir), None, "event_type", START, END,
        close_at=END,
    )
    return df.select(
        "time", F.col("timeEnd").alias("time_end"), "measurement_subject", "value"
    )


# ---------------------------------------------------------------------------
# Ingest pipeline (envelope → converter → conditions pivot)
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "events")


def _ingest_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _conditions(spark, sf_dir)


def _ingest_glow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.sources.synth import events_to_glow_envelopes

    env = parse_envelope(events_to_glow_envelopes(_events(spark, sf_dir)))
    wide = records_to_conditions(glow_to_records(env), with_unique_id=False)
    return wide.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_number",
    )


def _ingest_homie(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.homie import homie_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.sources.synth import events_to_homie_envelopes

    env = parse_envelope(events_to_homie_envelopes(_events(spark, sf_dir)))
    wide = records_to_conditions(homie_to_records(env), with_unique_id=False)
    return wide.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_number",
        "measurement_string",
    )


def _ingest_emon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.emon import emon_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.sources.synth import events_to_emon_envelopes

    env = parse_envelope(events_to_emon_envelopes(_events(spark, sf_dir)))
    wide = records_to_conditions(emon_to_records(env), with_unique_id=False)
    return wide.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_number",
        "measurement_string",
    )


def _ingest_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.ingest.bmw import bmw_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.sources.synth import events_to_bmw_messages

    wide = records_to_conditions(
        bmw_to_records(events_to_bmw_messages(_events(spark, sf_dir))),
        with_unique_id=False,
    )
    return wide.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_number",
        "measurement_string",
        "measurement_bool",
        "measurement_location",
        "correlation_id",
    )


def _ingest_records_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 sink wire format fed back through the S3 source with
    strict JSON-Schema validation: every 10th message smuggles an
    undeclared field and must land in dead letters
    (additionalProperties: false, reference timeseries.json:78)."""
    from eventhub_to_timescale_spark.ingest.records import (
        parse_record_messages,
        validate_records,
    )
    from eventhub_to_timescale_spark.sources.synth import (
        events_to_record_messages,
    )

    wire = events_to_record_messages(_events(spark, sf_dir))
    valid, _rejects = validate_records(parse_record_messages(wire), strict=True)
    return valid.select(
        "timestamp",
        "measurement_subject",
        F.col("measurement_value").cast("double").alias("measurement_number"),
        "correlation_id",
    )


def _ingest_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less publisher through the arbitrary-depth dynamic
    flatten (reference create_record_recursive + recursively
    deserialize, timeseries.py:43-98 / helpers.py:112-127): depth-3
    nested payload incl. a JSON-encoded-string subtree, no declared
    struct anywhere."""
    from eventhub_to_timescale_spark.ingest.dynamic import dynamic_to_records
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.sources.synth import (
        events_to_dynamic_envelopes,
    )

    env = parse_envelope(events_to_dynamic_envelopes(_events(spark, sf_dir)))
    recs = dynamic_to_records(env, "dyn", ignore_keys=("ignoreme",))
    wide = records_to_conditions(recs, with_unique_id=False)
    return wide.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_number",
        "measurement_string",
        "measurement_bool",
    )


def _ingest_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three MQTT publishers routed through one unioned DAG; grades
    the router + every converter at once (record counts per
    publisher/measurement)."""
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.router import route_to_records
    from eventhub_to_timescale_spark.sources.synth import (
        events_to_emon_envelopes,
        events_to_glow_envelopes,
        events_to_homie_envelopes,
    )

    ev = _events(spark, sf_dir)
    raw = (
        events_to_glow_envelopes(ev)
        .unionByName(events_to_homie_envelopes(ev))
        .unionByName(events_to_emon_envelopes(ev))
    )
    recs = route_to_records(parse_envelope(raw))
    return (
        recs.groupBy("measurement_publisher", "measurement_of")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("measurement_publisher", "measurement_of")
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.sources.testdata import load_table

    # single-file test parquet = one input partition; spread the
    # hash-heavy per-document work across all cores
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def _dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first survivor set over the MinHash near-dup pairs — the
    operator a training-corpus pipeline actually ends with. Uses the
    persisted production path: one scan of documents feeds both the
    pair subplan and the survivor anti-join, and the banded-signature
    frame is computed once."""
    from eventhub_to_timescale_spark.operators.dedup import minhash_keep_first

    docs = _docs(spark, sf_dir)
    return (
        minhash_keep_first(
            docs, num_hashes=12, bands=6, shingle_n=3,
            jaccard_threshold=0.5, persist=True,
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def _dedup_stream_neardup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep-first verdict frame (doc_id, dup_of) — the
    BATCH TWIN of the streaming MinHash-band seen-set dedup
    (streaming/neardup.py, the near-dup upgrade of the reference's
    exact-key ingest dedup, bmw_to_timescale/duplicate_check.py:45-96).
    tests/test_streaming_neardup.py proves the streaming operator
    converges row-identically to this frame on a doc_id-ordered
    replay; this gated entry is its driver-witnessed oracle surface."""
    from eventhub_to_timescale_spark.operators.dedup import (
        minhash_dup_verdicts,
    )

    return minhash_dup_verdicts(_docs(spark, sf_dir))


def _events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed first-order Markov transition matrix over
    per-user event sequences (ts-ordered, event_id-tiebroken, the same
    sequence order as the reference's timestamp-ordered processing in
    shared_code/timeseries.py): one user_id-partitioned lag window,
    one bounded-key groupBy, broadcast totals — no collect, no global
    sort. See operators/markov.py."""
    from eventhub_to_timescale_spark.operators.markov import (
        markov_transitions,
    )

    return markov_transitions(_events(spark, sf_dir))


def _events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival gap statistics + Goh-Barabasi
    burstiness from EXACT int64 millisecond moments (sum, sum-of-
    squares) — the doubles are a pure function of the data, no float
    summation-order dependence. See operators/markov.py."""
    from eventhub_to_timescale_spark.operators.markov import (
        interarrival_stats,
    )

    return interarrival_stats(_events(spark, sf_dir))


def _layout_range_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundaries per event_type: NTILE
    equal-count tiles with exact per-tile counts and value spans —
    the split points a 100 TB writer hands to a range partitioner.
    See operators/layout.py:range_partition_profile (incl. the
    GK-sketch swap-in note for a single dominant type)."""
    from eventhub_to_timescale_spark.operators.layout import (
        range_partition_profile,
    )

    return range_partition_profile(_events(spark, sf_dir))


def _sample_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold CV assignment with exact per-cell balance
    (salted-md5 deal order, round-robin within each lang stratum),
    summarized per (stratum, fold) cell — floor/ceil(n/k) everywhere,
    the guarantee hash-mod folding can't give. See
    operators/sampling.py:cv_fold_assign."""
    from eventhub_to_timescale_spark.operators.sampling import (
        cv_fold_assign,
    )

    docs = _docs(spark, sf_dir)
    folds = cv_fold_assign(docs)
    return (
        folds.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("stratum", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("stratum", "fold")
    )


def _mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) near-duplicate image pairs: REAL BMP
    decode → 9x8 nearest-neighbor resize → integer luma → 64-bit
    gradient hash in one Arrow mapInPandas pass, then a pigeonhole-
    lossless banded Hamming equi-join (8 byte-bands > max_distance 6,
    so banding ≡ all-pairs, which is what the oracle computes
    analytically from the closed-form synthetic pixels). See
    operators/multimodal.py:dhash_images/phash_neardup_pairs.

    DEFAULT-CALL args (r12 verdict ask #1): the corpus now PLANTS
    distance-<=3 near-pairs (imagecodec.py NEARDUP_MOD: doc_id = 1
    mod 37 renders the parent's image with 3 forced-white dHash
    sample pixels), so the scale-safe default config — t=3, auto
    4x16-bit bands, 65 536 buckets/band — is exactly the plan this
    gate witnesses.  The byte-band form (75 s at sf1, exp 1.99) is
    retired from the registry; its banding-≡-all-pairs losslessness
    stays pinned by tests/test_phash.py against brute force."""
    from eventhub_to_timescale_spark.operators.multimodal import (
        dhash_images,
        document_image_blobs,
        phash_neardup_pairs,
    )

    blobs = document_image_blobs(_docs(spark, sf_dir))
    return phash_neardup_pairs(dhash_images(blobs))


def _events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust per-type stats: value clipped at the
    ceil(q*n)-th ORDER STATISTICS of integer cents (no interpolated
    percentiles — order statistics are actual data points, exact in
    both engines), then an exact-integer clipped mean. See
    operators/winsorize.py."""
    from eventhub_to_timescale_spark.operators.winsorize import (
        winsorized_stats,
    )

    return winsorized_stats(_events(spark, sf_dir))


def _events_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k activity cross-correlation between event-type pairs:
    dense-grid bucket counts, five exact int64 sums, Pearson r from
    one final double division — raw events touched once by a map-side
    count, the lag self-join runs on the bucket-aggregated frame
    only. See operators/xcorr.py."""
    from eventhub_to_timescale_spark.operators.xcorr import (
        activity_xcorr,
    )

    return activity_xcorr(_events(spark, sf_dir))


def _mm_phash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first verdicts over the dHash banded Hamming join —
    linear output (≤1 row per doc) where the pair frame is density-
    bound; the scale-path consumer of mm_phash_neardup. See
    operators/multimodal.py:phash_dup_verdicts.  Default-call args
    for the same reason as _mm_phash_neardup (planted near-pairs;
    the default t=3 / 16-bit-band config is the gated plan)."""
    from eventhub_to_timescale_spark.operators.multimodal import (
        dhash_images,
        document_image_blobs,
        phash_dup_verdicts,
    )

    blobs = document_image_blobs(_docs(spark, sf_dir))
    return phash_dup_verdicts(dhash_images(blobs))


def _events_basket_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket PMI over sessionized activity: distinct event
    types per (user, session) basket, exact co-occurrence counts, one
    log of an exact-integer ratio — the order-free complement of the
    journey trigrams. See operators/basket.py."""
    from eventhub_to_timescale_spark.operators.basket import basket_pmi

    return basket_pmi(_events(spark, sf_dir))


_BLOOM_REF_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_BLOOM_M = 1 << 10  # gate-scale demo m so false positives actually
# occur and get adjudicated; the deployment default is 2^20 (bloom.py)


def _sketch_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom membership probe (Bloom 1970): build the filter
    from the text fingerprints of five reference sources, probe every
    document fingerprint → (key, bloom_maybe, actual) with exact
    false-positive accounting.  The missing sketch-family member
    (membership) beside HLL/CMS/KMV/GK; the approximate twin of the
    reference's exact dedup-table probe
    (bmw_to_timescale/duplicate_check.py:45-96).  See
    operators/bloom.py."""
    from eventhub_to_timescale_spark.operators.bloom import bloom_probe

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    ref = docs.filter(F.col("source").isin(*_BLOOM_REF_SOURCES)).select(
        F.md5("text").alias("key")
    )
    probe = docs.select(F.md5("text").alias("key"))
    return bloom_probe(ref, probe, m=_BLOOM_M)


def _sketch_bloom_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Bloom pre-filter verdicts (doc_id, maybe_seen) —
    the BATCH TWIN of the streaming Bloom membership operator
    (streaming/bloomprobe.py, the 18th stateful operator; reference
    contract bmw_to_timescale/duplicate_check.py:45-96 answered by a
    Bloom filter instead of exact storage).
    tests/test_streaming_bloomprobe.py proves the streaming operator
    converges row-identically to this frame on a doc_id-ordered
    replay (plus 4-seed randomized micro-batch replays); this gated
    entry is its driver-witnessed oracle surface.  See
    operators/bloom.py bloom_seen_verdicts."""
    from eventhub_to_timescale_spark.operators.bloom import (
        bloom_seen_verdicts,
    )

    return bloom_seen_verdicts(_docs(spark, sf_dir), m=_BLOOM_M)


def _sketch_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-driven join PLANNING profile (r12 verdict ask #7:
    the estimator must drive a decision): one row (n_left, n_right,
    est_join_rows, est_max_key_left, est_max_key_right) for
    events.user_id ⋈ orders.o_custkey, everything from two ≤ d·w
    count-min cell frames — side counts exact, heavy-key and
    join-size estimates one-sided over.  choose_join_strategy()
    turns this row into broadcast/salt/shuffle advice and
    apply_join_strategy() executes it (plan-pinned both ways in
    tests/test_joinplan.py).  See operators/joinplan.py."""
    from eventhub_to_timescale_spark.operators.joinplan import (
        join_size_profile,
    )
    from eventhub_to_timescale_spark.sources.testdata import load_table

    ev = _events(spark, sf_dir)
    od = load_table(spark, sf_dir, "orders")
    return join_size_profile(ev, od, "user_id", "o_custkey")


def _sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval Reciprocal Rank Fusion (Cormack et al., SIGIR
    2009): BM25 lexical top-50 over documents fused with the exact
    cosine top-50 for probe embedding 3 (vec_id aligns with doc_id in
    the synthetic corpus) — integer 10^9 div (k + rank)
    contributions, so the fused order is total and bit-identical
    cross-engine.  The rank-merge every two-tower curation pipeline
    ends with.  See operators/fusion.py."""
    from pyspark.sql import Window

    from eventhub_to_timescale_spark.operators.fusion import rrf_fuse
    from eventhub_to_timescale_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from eventhub_to_timescale_spark.operators.text import bm25_topk

    lex = bm25_topk(
        _docs(spark, sf_dir), terms=("spark", "window", "dup"), k=50
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rank"),
    )
    dense = (
        cosine_topk_bruteforce(_embs(spark, sf_dir), query_max_id=4, k=50)
        .filter(F.col("query_id") == 3)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex, dense])


def _sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product equi-join cardinality estimate (Cormode &
    Muthukrishnan 2005 §4.2), demonstrated on the events SELF-join
    over user_id — the shuffle-explosion number (Σ cnt_k²) a planner
    wants before committing a 100 TB join, estimated from two ≤ d·w
    cell sketches with no key-on-key shuffle; exact_rows is the
    concordance column.  See operators/sketches.py cms_join_size."""
    from eventhub_to_timescale_spark.operators.sketches import (
        cms_join_size,
    )

    ev = _events(spark, sf_dir)
    return cms_join_size(ev, ev)


def _events_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order-statistic bands of value cents per
    (event_type, day) — the distribution-per-bucket monitoring query
    (TimescaleDB toolkit percentile_agg's exact counterpart; reference
    day-bucket aggregation db/get_aggregated_data_by_day.sql:1-12
    widened from one moment to bands).  See operators/quantband.py."""
    from eventhub_to_timescale_spark.operators.quantband import (
        quantile_bands,
    )

    return quantile_bands(_events(spark, sf_dir))


def _events_quantile_bands_gk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna quantile bands — the documented 100 TB twin
    of events_quantile_bands (r12 verdict ask #2): one map-side-
    combinable percentile_approx aggregation per (event_type, day),
    bounded O(accuracy) mergeable state, NO per-cell sort.  In GK's
    merge-free regime (cell rows < accuracy/2) it returns the same
    ceil(q*n) order statistics as the exact form, so both share one
    oracle.  accuracy="auto" (the default, r13 verdict ask #4): ONE
    cell-size probe sizes accuracy = 2 x largest cell + 1 capped at
    GK_AUTO_CAP — the r13 sweep proved the fixed default was a
    foot-gun (10000 drifted on sf1's ~7 400-row cells; the r13 gate
    had to hand-size 20000), so the registry entry now gates the
    self-sizing call.  The compressed regime's +-n/accuracy rank
    bound is pinned by tests/test_quantband.py.  The streaming twin
    (streaming/quantiles.py) converges to this frame — see
    tests/test_streaming_quantiles.py."""
    from eventhub_to_timescale_spark.operators.quantband import (
        quantile_bands_gk,
    )

    return quantile_bands_gk(_events(spark, sf_dir), accuracy="auto")


def _events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile on user_id: top-10 heaviest keys with
    exact share-ppm, max/avg x100 and p99 order statistic — the
    numbers a salt-factor decision is made from, all integer-exact.
    See operators/skewprof.py."""
    from eventhub_to_timescale_spark.operators.skewprof import (
        skew_profile,
    )

    return skew_profile(_events(spark, sf_dir))


def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution over gap
    sessions: one user-partitioned shuffle shared by all three
    windows, dense ROW_NUMBER positions so 'first' and 'immediately
    preceding' are unique rows. See operators/attribution.py."""
    from eventhub_to_timescale_spark.operators.attribution import (
        conversion_attribution,
    )

    return conversion_attribution(_events(spark, sf_dir))


def _events_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, day) in one pass — Spark's Expand node gives
    all four granularities (detail, per-type, per-day, grand total)
    from a single scan with map-side partial aggregation, vs scanning
    once per granularity; exact integer cents; 'ALL' sentinels instead
    of engine-specific GROUPING_ID bits. See operators/cube.py."""
    from eventhub_to_timescale_spark.operators.cube import cube_counts

    return cube_counts(_events(spark, sf_dir))


def _events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM control chart per event_type, distributed-exact via
    the reflected-running-sum identity (two window functions, pure
    BIGINT cents) — the sequential-looking recursion the reference
    class of tools (TimescaleDB toolkit) runs row-at-a-time, expressed
    as a declarative plan. See operators/changepoint.py."""
    from eventhub_to_timescale_spark.operators.changepoint import cusum_alarms

    return cusum_alarms(_events(spark, sf_dir))


def _dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al. 2001) dedup
    evidence: chunks cut where a rolling window hash ≡ 0 mod divisor,
    so copied spans share chunk hashes regardless of offset drift —
    the insertion-robust complement to substrdup's fixed windows. See
    operators/cdcchunk.py.

    BOUNDED WITNESS FIXTURE (r13 verdict ask #5): this md5-window form
    is the never-documented-usage cross-engine anchor for the gear
    differential tests — its per-position md5 constant made it 12%% of
    the whole sf0.1 bench and 79 s of the sf1 sweep while witnessing
    nothing the first 500 documents don't.  The fixture is capped at
    doc_id < 500: byte-identical at gate scale (sf0.001/sf0.01 hold
    exactly docs 0-499) and constant-cost at sf0.1/sf1.  The
    production path is dedup_cdc_gear over the FULL corpus."""
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        cdc_shared_chunks,
    )

    return cdc_shared_chunks(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    )


def _dedup_cdc_gear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear rolling-hash CDC shared-chunk evidence (r11 verdict ask
    #2) — the SCALE path of dedup_cdc_chunks: identical output
    contract, boundaries from the O(1)-per-position shift-add gear
    hash (numpy over the utf-32 view inside mapInPandas) instead of
    one md5 digest per character position.  Same copied-span dedup
    semantics the reference's seen-set contract implies
    (bmw_to_timescale/duplicate_check.py:45-96).  See
    operators/cdcchunk.py gear_shared_chunks."""
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        gear_shared_chunks,
    )

    return gear_shared_chunks(_docs(spark, sf_dir))


def _dedup_stream_cdc_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep-first chunk-sharing verdicts (doc_id, dup_of)
    — the BATCH TWIN of the streaming CDC-chunk seen-set dedup
    (streaming/cdcdedup.py, the 16th stateful operator; reference
    contract bmw_to_timescale/duplicate_check.py:45-96 upgraded to
    chunk granularity).  tests/test_streaming_cdcdedup.py proves the
    streaming operator converges row-identically to this frame on a
    doc_id-ordered replay; this gated entry is its driver-witnessed
    oracle surface."""
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        cdc_dup_verdicts,
    )

    return cdc_dup_verdicts(_docs(spark, sf_dir))


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connected-components duplicate clustering over the MinHash
    pair graph (min-label propagation; oracle = recursive-CTE
    transitive closure)."""
    from eventhub_to_timescale_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dedup_components,
    )

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=12, bands=6, shingle_n=3,
        jaccard_threshold=0.5,
        persist_banded=True,  # self-join sides share one signature pass
    )
    return near_dedup_components(pairs).orderBy("doc_id")


def _dedup_components_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical survivor set (operators/dedup.py
    dedup_components_keep): one document per connected component of
    the MinHash pair graph plus every unpaired document — the exact
    clustering behind the keep-first heuristic. Oracle: recursive-CTE
    transitive closure + anti-membership."""
    from eventhub_to_timescale_spark.operators.dedup import (
        dedup_components_keep,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=12, bands=6, shingle_n=3, jaccard_threshold=0.5,
        persist_banded=True,  # self-join sides share one signature pass
    )
    return dedup_components_keep(docs, pairs).select("doc_id").orderBy(
        "doc_id"
    )


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir),
        num_hashes=12,
        bands=6,
        shingle_n=3,
        jaccard_threshold=0.5,
        persist_banded=True,  # self-join sides share one signature pass
    )


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir),
        max_hamming=3,
        persist_banded=True,  # self-join sides share one signature pass
    )


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), ngram=5, threshold=0.3, max_doc_id=100
    )


def _sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    df = cosine_topk_bruteforce(_embs(spark, sf_dir), query_max_id=8, k=5)
    return df.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.similarity import cosine_topk_lsh

    df = cosine_topk_lsh(
        _embs(spark, sf_dir), query_max_id=8, k=5, num_planes=8,
        probe_hamming=2,  # multi-probe: 37 of 256 buckets (r8)
    )
    return df.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.similarity import ivf_topk

    df = ivf_topk(_embs(spark, sf_dir), query_max_id=8, k=5, n_centroids=16, nprobe=4)
    return df.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.text import language_id

    return language_id(_docs(spark, sf_dir))


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.text import quality_score

    return quality_score(_docs(spark, sf_dir))


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.text import token_stats

    return token_stats(_docs(spark, sf_dir))


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.text import clean_corpus

    return clean_corpus(_docs(spark, sf_dir), min_quality=0.5)


def _mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: VID0 containers of BMP frames are
    parsed and decoded on executors; sampled frames are checksummed at
    the pixel level and verified against an analytic oracle."""
    from eventhub_to_timescale_spark.operators.multimodal import (
        document_video_blobs,
        frame_samples_sql_checkable,
    )

    return frame_samples_sql_checkable(document_video_blobs(_docs(spark, sf_dir)))


def _mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: BMP decode → nearest-neighbor resize →
    re-encode → decode, reduced to a position-weighted pixel checksum
    and verified against an analytic oracle."""
    from eventhub_to_timescale_spark.operators.multimodal import (
        document_image_blobs,
        resized_sql_checkable,
    )

    return resized_sql_checkable(document_image_blobs(_docs(spark, sf_dir)))


def _mm_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eventhub_to_timescale_spark.operators.multimodal import (
        blob_features_sql_checkable,
        documents_as_blobs,
    )

    return blob_features_sql_checkable(documents_as_blobs(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------



def _text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary table (term_freq/doc_freq/idf), top 200 by
    frequency with a deterministic tie-break — two map-side-combinable
    aggregations, no countDistinct (operators/text.py:vocabulary)."""
    from eventhub_to_timescale_spark.operators.text import vocabulary

    return vocabulary(_docs(spark, sf_dir), top_k=200)


def _text_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-60% quality cut (operators/text.py:
    filter_quality_percentile) — deterministic percent_rank window;
    the broadcast-threshold variant is the 100 TB path."""
    from eventhub_to_timescale_spark.operators.text import (
        filter_quality_percentile,
    )

    df = filter_quality_percentile(_docs(spark, sf_dir), keep_frac=0.6)
    return df.select("doc_id", "lang", F.round("quality", 6).alias("quality"))


def _text_quality_sample_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-quantile quality cut (operators/text.py
    quality_threshold_by_sample): per-language thresholds from the
    exact quantile of an md5-membership sample, broadcast back onto
    the scan — the deterministic, oracle-able 100 TB path the
    percent_rank window cannot be (its full sort doesn't scale; the
    GK-sketch variant isn't engine-reproducible)."""
    from eventhub_to_timescale_spark.operators.text import (
        quality_threshold_by_sample,
    )

    return quality_threshold_by_sample(
        _docs(spark, sf_dir), keep_frac=0.6, sample_fraction=0.5
    )


def _curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/curation.py redact_pii): pure codegen
    regexp work, no shuffle. A known email + IPv4 is injected into
    every document (mirrored in oracles.PII_INJECT_SQL) so redaction
    is witnessed on every row, not only on organic matches."""
    from eventhub_to_timescale_spark.operators.curation import redact_pii

    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 250).cast("string"),
            F.lit(".9"),
        ).alias("text"),
    )
    return redact_pii(injected).orderBy("doc_id")


def _curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination flags (operators/curation.py
    contamination_flags): corpus documents sharing any word 5-gram
    with the eval slice (doc_id % 97 == 0), eval shingles broadcast —
    the join direction that holds when the corpus is 100 TB and the
    benchmark is MBs."""
    from eventhub_to_timescale_spark.operators.curation import (
        contamination_flags,
    )

    docs = _docs(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_flags(docs, eval_docs, shingle_n=5)


def _curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signal (operators/curation.py
    repetition_stats): duplicate word-3-gram fraction, array
    expressions only — the Gopher-class quality filter input."""
    from eventhub_to_timescale_spark.operators.curation import (
        repetition_stats,
    )

    return repetition_stats(_docs(spark, sf_dir), ngram_n=3).orderBy(
        "doc_id"
    )


def _pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: first-fit token-budget bins within hash
    groups (operators/packing.py) — groups are the scale-out axis,
    the within-group window is the packing semantics."""
    from eventhub_to_timescale_spark.operators.packing import pack_documents

    return pack_documents(_docs(spark, sf_dir), token_budget=512, n_groups=8)


def _q1_from_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 answered from a 1-hour continuous rollup instead of raw rows
    (operators/rollup.py) — the 100 TB architecture: additive
    pre-aggregation + aligned-query rewrite. Shares q1's oracle, so
    the gate proves rollup == raw-scan every round."""
    from eventhub_to_timescale_spark.operators.rollup import (
        bucket_avg_from_rollup,
        rollup_conditions,
    )

    fine = rollup_conditions(_conditions(spark, sf_dir), bucket_seconds=3600)
    return bucket_avg_from_rollup(
        fine, 3600, "user_7", "value", START, END, 21600
    )


def _q3_daily_from_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-daily answered from an hourly rollup CASCADED to daily
    (operators/rollup.py rollup_cascade) — max is a monoid, so the
    daily max re-aggregates exactly from hourly maxes without touching
    raw rows again. Shares q3_daily's oracle (reference
    db/get_aggregated_data_by_day.sql:44-47), proving the cascade
    chain raw → hourly → daily == raw daily scan every round.
    Half-open [START, END) bucket slice; identical to the oracle's
    inclusive scan while no event sits at exactly END (the generator
    keeps January strictly inside the window — the round-end parity
    rerun guards regeneration)."""
    from eventhub_to_timescale_spark.operators.rollup import (
        rollup_cascade,
        rollup_conditions,
    )

    hourly = rollup_conditions(_conditions(spark, sf_dir), bucket_seconds=3600)
    daily = rollup_cascade(hourly, 3600, 24)
    return (
        daily.filter(
            (F.col("measurement_subject") == "user_3")
            & (F.col("measurement_of") == "value")
            & (F.col("bucket_time") >= START)
            & (F.col("bucket_time") < END)
        )
        .select(
            F.col("bucket_time").alias("time"),
            F.col("max_value").alias("max_value"),
        )
        .orderBy("time")
    )


def _asof_probe_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every 20th event probes the latest 'value'
    measurement of its user at-or-before (event time + 30 s). The
    measurement side is pre-deduped to (subject, ts) -> max so tie
    resolution is deterministic in BOTH engines; DuckDB's native ASOF
    LEFT JOIN is an independent implementation of the semantics."""
    from eventhub_to_timescale_spark.operators.asof import asof_join

    cond = (
        _conditions(spark, sf_dir)
        .filter(
            (F.col("measurement_of") == "value")
            & F.col("measurement_number").isNotNull()
        )
        .groupBy("measurement_subject", "timestamp")
        .agg(F.max("measurement_number").alias("measurement_number"))
        .withColumn("measurement_of", F.lit("value"))
    )
    ev = _events(spark, sf_dir)
    probes = ev.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("probe_id"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias(
            "measurement_subject"
        ),
        (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("probe_time"),
    )
    return asof_join(probes, cond, "value")


def _asof_probe_value_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_probe_value through the time-chunk-salted carry
    (operators/asof.py asof_join_salted) — the hot-subject scale path.
    Row-identity to the vanilla carry is pinned by
    tests/test_asof_salted.py, so it shares the DuckDB ASOF oracle.
    Gates the DEFAULT call (r14): chunk_seconds="auto" via the CMS
    subject-skew profile (r13 verdict ask #3)."""
    from eventhub_to_timescale_spark.operators.asof import asof_join_salted

    cond = (
        _conditions(spark, sf_dir)
        .filter(
            (F.col("measurement_of") == "value")
            & F.col("measurement_number").isNotNull()
        )
        .groupBy("measurement_subject", "timestamp")
        .agg(F.max("measurement_number").alias("measurement_number"))
        .withColumn("measurement_of", F.lit("value"))
    )
    ev = _events(spark, sf_dir)
    probes = ev.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("probe_id"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias(
            "measurement_subject"
        ),
        (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("probe_time"),
    )
    return asof_join_salted(probes, cond, "value")


def _range_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-overlap join (operators/rangejoin.py): events
    become [ts, ts + (1 + event_id%5) min) intervals, evens vs odds
    per subject. The oracle is DuckDB's inequality join — a different
    physical strategy computing the same half-open overlap set."""
    from eventhub_to_timescale_spark.operators.rangejoin import overlap_join

    ev = _events(spark, sf_dir)
    base = ev.select(
        F.col("event_id").alias("interval_id"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias(
            "measurement_subject"
        ),
        F.col("ts").alias("start"),
        (
            F.col("ts")
            + F.make_interval(mins=(F.lit(1) + F.col("event_id") % 5))
        ).alias("end"),
    )
    left = base.filter(F.col("interval_id") % 2 == 0)
    right = base.filter(F.col("interval_id") % 2 == 1)
    return overlap_join(left, right, bucket_seconds=300)


def _gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 6-h grid over the query window with LOCF fill
    (operators/gapfill.py — the time_bucket_gapfill + locf() analog
    the reference's Grafana consumers rely on)."""
    from eventhub_to_timescale_spark.operators.gapfill import bucket_gapfill

    return bucket_gapfill(
        _conditions(spark, sf_dir), "user_7", "value", START, END, 21600,
        fill="locf",
    )


def _gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same grid with interpolate() semantics: NULL outside the
    observed range, linear between observations."""
    from eventhub_to_timescale_spark.operators.gapfill import bucket_gapfill

    return bucket_gapfill(
        _conditions(spark, sf_dir), "user_7", "value", START, END, 21600,
        fill="linear",
    )


STRATIFIED_FRACTIONS = {
    "click": 1.0,
    "view": 0.25,
    "error": 0.5,
    "purchase": 1.0,
    "signup": 0.0,
}


def _sample_docs_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% corpus sample keyed on md5(doc_id || salt) —
    rerun-stable and growth-stable, unlike seeded-RNG df.sample
    (operators/sampling.py; the curation primitive every training
    pipeline re-runs)."""
    from eventhub_to_timescale_spark.operators.sampling import sample_fraction

    return sample_fraction(
        _docs(spark, sf_dir), "doc_id", 0.25, salt="corpus-v1"
    ).select("doc_id", "lang", "source")


def _sample_events_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class keep-fractions as one codegen'd CASE filter."""
    from eventhub_to_timescale_spark.operators.sampling import sample_stratified

    ev = _events(spark, sf_dir)
    return sample_stratified(
        ev, "event_id", "event_type", STRATIFIED_FRACTIONS, salt="strat-v1"
    ).select("event_id", "event_type")


def _sample_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split labels aggregated to per-split counts."""
    from eventhub_to_timescale_spark.operators.sampling import train_test_split

    return (
        train_test_split(_docs(spark, sf_dir), "doc_id", 0.1, salt="split-v1")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )

def _toolkit_counter_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-reset-aware per-(subject, 6-h bucket) increase —
    Timescale Toolkit counter_agg→delta() parity
    (operators/toolkit.py)."""
    from eventhub_to_timescale_spark.operators.toolkit import counter_delta

    return counter_delta(_conditions(spark, sf_dir), "value", 21600)


def _toolkit_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close candles per (subject, 6-h bucket) —
    Timescale candlestick_agg parity, one map-side-combinable
    aggregate (operators/toolkit.py)."""
    from eventhub_to_timescale_spark.operators.toolkit import ohlc

    return ohlc(_conditions(spark, sf_dir), "value", 21600)


def _toolkit_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subject, day) least-squares trend via the SQL-standard
    regr_* aggregates, x centered at the bucket start
    (operators/toolkit.py)."""
    from eventhub_to_timescale_spark.operators.toolkit import trend_slope

    return trend_slope(_conditions(spark, sf_dir), "value", 86400)


def _emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize + symmetric int8 quantization of the embedding
    column — training-storage prep (operators/embeddings.py); codes
    are exact ints so the hash carries no float-render risk.

    Gate surface note: the operator returns ``q`` as ``array<int>``;
    the driver's value hasher cannot hash list cells (the r9
    emb_random_projection crash — this entry was the latent twin), so
    the wrapper posexplodes to (vec_id, dim, norm, component_idx,
    q_code) scalar rows.  Codegen'd generator, no shuffle."""
    from eventhub_to_timescale_spark.operators.embeddings import (
        normalize_quantize,
    )

    # posexplode_OUTER on purpose (r15): the codes array is non-null
    # and non-empty by construction (norm > 0 ⇒ ≥ 1 component), so
    # the rows are identical — but the non-outer form made Catalyst
    # infer `size(q) > 0 AND isnotnull(q)` constraints and push them
    # below the projection, re-evaluating the whole interpreted
    # quantize tree per row just to re-prove what the operator
    # already guarantees.
    return normalize_quantize(_embs(spark, sf_dir)).select(
        "vec_id",
        "dim",
        "norm",
        F.posexplode_outer("q").alias("component_idx", "q_code"),
    )


def _doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (512 chars, stride 384) of every
    document into training sequences (operators/chunking.py)."""
    from eventhub_to_timescale_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), 512, 384)


def _events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization through Spark's built-in
    session_window aggregate (the streaming-native path) — strict-gap
    boundary, microsecond precision (operators/sessions.py)."""
    from eventhub_to_timescale_spark.operators.sessions import (
        sessionize_native,
    )

    return sessionize_native(_events(spark, sf_dir), "user_id", "ts", 1800)


def _toolkit_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liveness coverage per subject — heartbeat_agg->live_time
    parity, integer arithmetic end to end (operators/toolkit.py)."""
    from eventhub_to_timescale_spark.operators.toolkit import heartbeat_uptime

    return heartbeat_uptime(_conditions(spark, sf_dir), "value", 3600)


def _sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-subjects vs exact, gated by a concordance boolean
    the oracle pins to TRUE — Toolkit hyperloglog parity
    (operators/sketches.py)."""
    from eventhub_to_timescale_spark.operators.sketches import (
        approx_distinct_concordance,
    )

    return approx_distinct_concordance(_conditions(spark, sf_dir))


def _sketch_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subject GK-sketch median vs exact interpolated median —
    Toolkit percentile_agg parity (operators/sketches.py)."""
    from eventhub_to_timescale_spark.operators.sketches import (
        approx_percentile_concordance,
    )

    return approx_percentile_concordance(_conditions(spark, sf_dir))


def _sketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width saturating histogram of the value stream — Toolkit
    histogram() parity, exact integer output
    (operators/sketches.py)."""
    from eventhub_to_timescale_spark.operators.sketches import (
        value_histogram,
    )

    return value_histogram(_conditions(spark, sf_dir), "value", 0.0, 100.0, 20)


def _toolkit_gauge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-minus-first gauge change per (subject, 6-h bucket) —
    Toolkit gauge_agg→delta() parity (operators/sketches.py)."""
    from eventhub_to_timescale_spark.operators.sketches import gauge_delta

    return gauge_delta(_conditions(spark, sf_dir), "value", 21600)


def _rel_tables(spark: SparkSession, sf_dir: str, *names: str):
    from eventhub_to_timescale_spark.sources.testdata import load_table

    return [load_table(spark, sf_dir, n) for n in names]


def _rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing roll-up in exact integer cents —
    operators/relational.py."""
    from eventhub_to_timescale_spark.operators.relational import (
        pricing_summary,
    )

    (li,) = _rel_tables(spark, sf_dir, "lineitem")
    return pricing_summary(li, "1998-09-01")


def _rel_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape star join: broadcast fixed dims, shuffle the
    fact joins, revenue per EUROPE nation for 1996 orders —
    operators/relational.py."""
    from eventhub_to_timescale_spark.operators.relational import (
        revenue_by_nation,
    )

    li, o, c, n, r = _rel_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    return revenue_by_nation(
        li, o, c, n, r, "EUROPE", "1996-01-01", "1997-01-01"
    )


def _rel_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape deterministic top-10 revenue orders (BUILDING
    segment, as-of 1998-03-15) — operators/relational.py."""
    from eventhub_to_timescale_spark.operators.relational import (
        top_revenue_orders,
    )

    li, o, c = _rel_tables(spark, sf_dir, "lineitem", "orders", "customer")
    return top_revenue_orders(li, o, c, "BUILDING", "1998-03-15", 10)


def _rel_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shape aggregate-then-join: top-20 customers by
    returned-item revenue for 1996 orders — operators/relational.py."""
    from eventhub_to_timescale_spark.operators.relational import (
        returned_item_revenue,
    )

    li, o, c, n = _rel_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    return returned_item_revenue(li, o, c, n, "1996-01-01", "1997-01-01", 20)


def _rel_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shape HAVING-aggregate semi-join: orders whose total
    lineitem quantity exceeds 250 — operators/relational.py."""
    from eventhub_to_timescale_spark.operators.relational import (
        large_quantity_orders,
    )

    li, o, c = _rel_tables(spark, sf_dir, "lineitem", "orders", "customer")
    return large_quantity_orders(li, o, c, 250)


def _sample_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-mixing quota: at most 10 docs per source,
    deterministic md5 rank — operators/sampling.py:source_quota."""
    from eventhub_to_timescale_spark.operators.sampling import source_quota

    return source_quota(
        _docs(spark, sf_dir), "doc_id", "source", 10, salt="mix-v1"
    ).select("doc_id", "source")


def _sample_docs_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic resampling: keep-probability
    n_chars/500 (clipped) — operators/sampling.py:sample_weighted."""
    from eventhub_to_timescale_spark.operators.sampling import (
        sample_weighted,
    )

    docs = _docs(spark, sf_dir)
    return sample_weighted(
        docs, "doc_id", F.col("n_chars") / F.lit(500.0), salt="wq-v1"
    ).select("doc_id", "n_chars")


def _events_live_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liveness islands: coalesced union of per-beat [t, t+2h)
    intervals per subject — operators/intervals.py:live_intervals
    (gaps-and-islands running-max window, one subject shuffle)."""
    from eventhub_to_timescale_spark.operators.intervals import (
        live_intervals,
    )

    return live_intervals(
        _conditions(spark, sf_dir), tolerance_seconds=7200
    )


def _events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over the raw event stream —
    operators/retention.py (self-join-free: distinct user-day grid +
    per-user min window + map-side-combinable count)."""
    from eventhub_to_timescale_spark.operators.retention import (
        cohort_retention,
    )

    return cohort_retention(_events(spark, sf_dir), bucket_seconds=86400)


def _dedup_substr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring boilerplate detection (strided
    48-char window fingerprints in ≥2 distinct docs) —
    operators/substrdup.py."""
    from eventhub_to_timescale_spark.operators.substrdup import (
        repeated_windows,
    )

    return repeated_windows(
        _docs(spark, sf_dir), window=48, stride=16, min_docs=2
    )


def _dedup_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removable per-document spans of cross-document boilerplate
    (flagged strided windows coalesced per doc into maximal
    [char_start, char_end) islands) — operators/substrdup.py:
    repeated_window_spans, the consumer-facing half of the Lee et al.
    substring-dedup pipeline."""
    from eventhub_to_timescale_spark.operators.substrdup import (
        repeated_window_spans,
    )

    return repeated_window_spans(
        _docs(spark, sf_dir), window=48, stride=16, min_docs=2
    )


def _rel_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shape argmin-per-group via map-side-combinable
    struct-min (no window shuffle-sort) + broadcast dim chain —
    operators/relational.py:cheapest_supplier_per_part."""
    from eventhub_to_timescale_spark.operators.relational import (
        cheapest_supplier_per_part,
    )

    li, p, s, n = _rel_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    return cheapest_supplier_per_part(li, p, s, n, "Brand#1")


def _rel_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape EXISTS / left-semi probe: orders with at least
    one late-shipped line, counted per priority —
    operators/relational.py:priority_late_orders."""
    from eventhub_to_timescale_spark.operators.relational import (
        priority_late_orders,
    )

    o, li = _rel_tables(spark, sf_dir, "orders", "lineitem")
    return priority_late_orders(o, li, late_days=90)


def _rel_no_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21/Q22-shape semi+anti join pair: customers who ordered
    but never returned, per market segment —
    operators/relational.py:customers_without_returns."""
    from eventhub_to_timescale_spark.operators.relational import (
        customers_without_returns,
    )

    c, o, li = _rel_tables(spark, sf_dir, "customer", "orders", "lineitem")
    return customers_without_returns(c, o, li)


def _rel_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shape conditional aggregation over the fact-to-fact
    join: high-/low-priority line counts per line status —
    operators/relational.py:shipmode_priority_mix."""
    from eventhub_to_timescale_spark.operators.relational import (
        shipmode_priority_mix,
    )

    o, li = _rel_tables(spark, sf_dir, "orders", "lineitem")
    return shipmode_priority_mix(o, li, "1996-01-01", "1997-01-01")


def _rel_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shape scalar promo-revenue share in exact integer
    units — operators/relational.py:promo_revenue_share."""
    from eventhub_to_timescale_spark.operators.relational import (
        promo_revenue_share,
    )

    li, p = _rel_tables(spark, sf_dir, "lineitem", "part")
    return promo_revenue_share(li, p, "1996-01-01", "1996-07-01")


def _rel_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shape distinct-supplier counts per part attribute
    triple, bad suppliers anti-joined out —
    operators/relational.py:supplier_variety."""
    from eventhub_to_timescale_spark.operators.relational import (
        supplier_variety,
    )

    p, li, s = _rel_tables(spark, sf_dir, "part", "lineitem", "supplier")
    return supplier_variety(p, li, s, "Brand#1", "PROMO")


def _rel_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape OR-of-ANDs revenue with per-side disjunct-union
    pushdown + exact residual —
    operators/relational.py:disjunctive_revenue."""
    from eventhub_to_timescale_spark.operators.relational import (
        disjunctive_revenue,
    )

    li, p = _rel_tables(spark, sf_dir, "lineitem", "part")
    return disjunctive_revenue(li, p)


def _rel_cross_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shape nation-pair shipping volume by year; nation dims
    pre-filtered to the pair, broadcast, disjunctive residual on
    broadcast columns — operators/relational.py:cross_nation_volume."""
    from eventhub_to_timescale_spark.operators.relational import (
        cross_nation_volume,
    )

    li, o, c, s, n = _rel_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation",
    )
    return cross_nation_volume(li, o, c, s, n)


def _rel_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shape order-count distribution with zero-order
    customers; fact collapses before the outer join —
    operators/relational.py:customer_order_distribution."""
    from eventhub_to_timescale_spark.operators.relational import (
        customer_order_distribution,
    )

    c, o = _rel_tables(spark, sf_dir, "customer", "orders")
    return customer_order_distribution(c, o)


def _rel_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape aggregate-then-argmax top supplier, scalar max
    broadcast back, all ties kept —
    operators/relational.py:top_supplier."""
    from eventhub_to_timescale_spark.operators.relational import (
        top_supplier,
    )

    li, s = _rel_tables(spark, sf_dir, "lineitem", "supplier")
    return top_supplier(li, s)


def _docs_global_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable global row enumeration (range partition + local index
    + bounded driver offsets; no single-partition window) —
    operators/ordering.py:global_enumerate."""
    from eventhub_to_timescale_spark.operators.ordering import (
        global_enumerate,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return global_enumerate(docs, ["doc_id"]).select(
        "doc_id", "source", "global_pos"
    ).orderBy("global_pos")


def _docs_wfq_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted-fair source interleave (curriculum
    mixing): integer WFQ virtual times, per-source index from the
    global enumeration — operators/ordering.py:wfq_interleave."""
    from eventhub_to_timescale_spark.operators.ordering import (
        wfq_interleave,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    weight = F.expr("1 + CAST(substring(source, 4, 10) AS BIGINT) % 4")
    out = wfq_interleave(docs, weight, weights_lcm=12)
    return out.select(
        "global_pos", "doc_id", "source", "src_index", "vtime"
    ).orderBy("global_pos")


def _events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket trending top-k event types: raw events touched only
    by a map-side-combinable count; rank window runs on the
    aggregated frame with WindowGroupLimit pruning —
    operators/trending.py:trending_topk."""
    from eventhub_to_timescale_spark.operators.trending import (
        trending_topk,
    )

    return trending_topk(_events(spark, sf_dir))


def _rollup_upsert_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: deterministic straggler split
    (every 16th measurement arrives late), base rollup from the
    on-time rows, late batch folded in by rollup_upsert — merged
    output must equal a from-scratch rollup of ALL rows, which is
    exactly what the one-pass oracle SQL computes —
    operators/rollup.py:rollup_upsert."""
    from eventhub_to_timescale_spark.operators.rollup import (
        rollup_conditions,
        rollup_upsert,
    )

    cond = _conditions(spark, sf_dir).filter(
        (F.col("measurement_of") == "value")
        & F.col("measurement_number").isNotNull()
    )
    late_mask = F.col("measurement_unique_id") % 16 == 0
    base = rollup_conditions(cond.filter(~late_mask), 21600)
    merged = rollup_upsert(base, cond.filter(late_mask), 21600)
    return merged.select(
        "measurement_subject",
        "measurement_of",
        "bucket_time",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("measurement_subject", "bucket_time")


def _layout_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve profile of (user_id, value-cents): exact-integer
    quantize + Morton bit-interleave, bucketed by the key's top 12
    bits — the layout key zorder_layout clusters on, oracle-checked
    bit-for-bit — operators/layout.py:zorder_bucket_profile."""
    from eventhub_to_timescale_spark.operators.layout import (
        zorder_bucket_profile,
    )

    return zorder_bucket_profile(_events(spark, sf_dir))


def _rel_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape small-quantity revenue vs per-part average;
    integer cross-multiplied threshold, broadcast agg re-join —
    operators/relational.py:small_quantity_revenue."""
    from eventhub_to_timescale_spark.operators.relational import (
        small_quantity_revenue,
    )

    li, p = _rel_tables(spark, sf_dir, "lineitem", "part")
    return small_quantity_revenue(li, p)


def _rel_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shape forecast revenue change: one pushed-filter scan
    plus a global agg — operators/relational_ext.py:forecast_revenue."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        forecast_revenue,
    )

    (li,) = _rel_tables(spark, sf_dir, "lineitem")
    return forecast_revenue(li)


def _rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shape national market share per year (ASIA market,
    ECONOMY parts, NATION_3 suppliers) —
    operators/relational_ext.py:market_share."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        market_share,
    )

    li, o, c, n, r, p, s = _rel_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation",
        "region", "part", "supplier",
    )
    return market_share(li, o, c, n, r, p, s)


def _rel_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shape profit per (supplier nation, year) over
    'widget' parts, unit cost 80% of retail —
    operators/relational_ext.py:nation_profit."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        nation_profit,
    )

    li, o, p, s, n = _rel_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    return nation_profit(li, o, p, s, n)


def _rel_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shape HAVING-against-scalar: parts above 2× the mean
    per-part value shipped by NATION_7's suppliers (the scale-free
    rendering of Q11's 1/SF-scaled fraction — non-empty at every SF) —
    operators/relational_ext.py:important_parts."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        important_parts,
    )

    li, s, n = _rel_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    return important_parts(li, s, n)


def _rel_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shape correlated semi-join chain: NATION_1 suppliers
    with >1/4 share of a SMALL part's 1996 volume —
    operators/relational_ext.py:dominant_suppliers."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        dominant_suppliers,
    )

    li, p, s, n = _rel_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    return dominant_suppliers(li, p, s, n)


def _rel_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shape anti-join vs scalar average: never-ordered
    customers with above-average positive balance —
    operators/relational_ext.py:idle_customers."""
    from eventhub_to_timescale_spark.operators.relational_ext import (
        idle_customers,
    )

    c, o = _rel_tables(spark, sf_dir, "customer", "orders")
    return idle_customers(c, o)


def _sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL distinct estimate — every register explicit and
    cross-engine (md5 hash, integer CASE-ladder rho, exact-integer Z)
    so the oracle hash-matches the ESTIMATE itself, not a tolerance
    gate — operators/sketches.py:hll_distinct_portable."""
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_distinct_portable,
    )

    return hll_distinct_portable(_conditions(spark, sf_dir))


def _text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality-classifier inference fused into the document
    scan (weights as plan literals, zero shuffle/UDF) —
    operators/text.py:quality_logit_score."""
    from eventhub_to_timescale_spark.operators.text import (
        quality_logit_score,
    )

    return quality_logit_score(_docs(spark, sf_dir))


def _dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT Jaccard over the FULL corpus
    (recall 1 by the pigeonhole prefix bound, precision 1 by exact
    verify) — the scalable exact path whose oracle is the unbounded
    brute force — operators/dedup.py:jaccard_prefix_pairs.

    threshold=0.8 is the published near-dup operating point (Lee et
    al. "Deduplicating Training Data Makes Language Models Better"
    uses Jaccard 0.8) and the measured pair-similarity distribution
    is bimodal (10×-sweep sample: 99.2 % of prefix candidates sit
    below 0.1, the rest above 0.9), so 0.5 and 0.8 emit
    the SAME pairs while 0.8 keeps the prefix ~2.5× shorter and the
    candidate set ~20× smaller.  The exact-verify exchange is
    candidate-bound, so the threshold IS the scale dial.

    BOUNDED WITNESS FIXTURE (r14 verdict ask #1, the r14 md5-CDC
    pattern): the ORACLE is the unbounded O(N²) brute force — ~1.25e9
    12-gram list-intersects at sf1, the reason this entry sat on the
    sf1 sweep skip list r8–r14.  The fixture caps BOTH sides at
    doc_id < 500: byte-identical at gate scale (sf0.001/sf0.01 hold
    exactly docs 0–499) and constant-cost above it, so the
    cross-engine witness (prefix filter's recall-1 bound vs brute
    force) now sweeps at sf1.  The production path is the operator
    itself over the FULL corpus — prefix-filtered, candidate-bound,
    never quadratic (measured sf1 scale exponent 0.81 pre-bound)."""
    from eventhub_to_timescale_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    return jaccard_prefix_pairs(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 500),
        ngram=12,
        threshold=0.8,
    )


def _sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register MERGE across measurement streams (max per bucket
    over the per-stream register frames) — the mergeability that
    makes the sketch continuous-rollup-able —
    operators/sketches.py:hll_union_estimate."""
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_union_estimate,
    )

    return hll_union_estimate(_conditions(spark, sf_dir))


def _sketch_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min sketch frequency estimates over event
    user_ids (d=4 md5 row hashes × w=64 cells, est = min over cells,
    est ≥ exact by construction) with the exact count as concordance
    column — cell matrix broadcast to the probe, mergeable by
    per-cell SUM — operators/sketches.py:cms_frequency_estimates."""
    from eventhub_to_timescale_spark.operators.sketches import (
        cms_frequency_estimates,
    )

    return cms_frequency_estimates(_events(spark, sf_dir))


def _text_bigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-k adjacent-token pairs (the BPE-merge-round
    statistic) via array pairing + TakeOrderedAndProject —
    operators/text.py:bigram_topk."""
    from eventhub_to_timescale_spark.operators.text import bigram_topk

    return bigram_topk(_docs(spark, sf_dir), k=50)


def _text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scores with a bounded broadcast conditional
    model — operators/text.py:bigram_lm_score."""
    from eventhub_to_timescale_spark.operators.text import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir), bigram_top_k=2000)


def _cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means in exact fixed-point integer
    arithmetic (assignment = codegen'd expression math, re-estimation
    = one map-side-combinable groupBy per iteration) —
    operators/clustering.py:kmeans_fixed_point."""
    from eventhub_to_timescale_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    return kmeans_fixed_point(_embs(spark, sf_dir), k=8, iters=2)


def _cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity downsample: k-means then a
    per-cluster WindowGroupLimit quota —
    operators/clustering.py:kmeans_balanced_sample."""
    from eventhub_to_timescale_spark.operators.clustering import (
        kmeans_balanced_sample,
    )

    return kmeans_balanced_sample(
        _embs(spark, sf_dir), k=8, iters=2, per_cluster=20
    )


def _dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: fixed-point k-means clustering, within-cluster
    cosine pairs on the exact quantized integers, keep-first
    survivors via one anti-join —
    operators/clustering.py:semantic_dedup_keep."""
    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_keep,
    )

    # threshold 0.4: the synthetic embeddings are near-orthogonal
    # (max off-diagonal cosine ~0.5), so the paper's 0.9-ish cut
    # would drop nothing — 0.4 exercises real survivor pruning here
    #
    # BOUNDED WITNESS FIXTURE (r14 verdict ask #1): this fixed-k=8
    # form is the oracle-witness anchor for the k∝N production path
    # (dedup_semantic_default) — its ORACLE's within-cluster pair set
    # spilled >80 GB at sf1 in r8 (clusters of ~2500 vecs ⇒ ~25M
    # pair rows × dim), the registry's only superlinear exponent.
    # vec_id < 500 is byte-identical at gate scale (sf0.001/sf0.01
    # hold exactly vecs 0–499) and constant-cost above, so the
    # witness now sweeps at sf1.  The production path stays
    # dedup_semantic_default over the FULL corpus (k∝N, exp −0.13).
    return semantic_dedup_keep(
        _embs(spark, sf_dir).filter(F.col("vec_id") < 500),
        k=8,
        iters=2,
        threshold=0.4,
    )


def _dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize → exact-dedup composition: canonicalize the text
    first, THEN hash-group — catches duplicates that differ only in
    typography/whitespace/case, which byte-level exact dedup misses
    (the reason normalize_text exists).  Same scan-speed projection
    feeding the same one-shuffle hash groupBy
    (operators/curation.py:normalize_text +
    operators/dedup.py:exact_duplicates)."""
    from eventhub_to_timescale_spark.operators.curation import (
        normalize_text,
    )
    from eventhub_to_timescale_spark.operators.dedup import (
        exact_duplicates,
    )

    # order=False: the presentation sort is useless under a further
    # transformation (exact_duplicates orders its own output)
    norm = normalize_text(_docs(spark, sf_dir), order=False).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    return exact_duplicates(norm)


def _curation_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text canonicalization (typographic-variant fold,
    control strip, whitespace collapse, lowercase) — the exact-dedup
    pre-step; engine-portable by construction (translate map +
    explicit-class regexes only)
    (operators/curation.py:normalize_text)."""
    from eventhub_to_timescale_spark.operators.curation import (
        normalize_text,
    )

    return normalize_text(_docs(spark, sf_dir))


def _sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source distinct-content overlap from one bounded KMV
    θ-sketch per source (k=256 smallest md5 ranks): union /
    intersection / Jaccard estimates, bit-identical across engines so
    the estimate itself is the gated value
    (operators/sketches.py:kmv_source_overlap)."""
    from eventhub_to_timescale_spark.operators.sketches import (
        kmv_source_overlap,
    )

    return kmv_source_overlap(_docs(spark, sf_dir), k=256)


def _dedup_semantic_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the SCALE-SAFE DEFAULTS (r9): k=None resolves to
    max(8, n // 64) — the Abbas-et-al. k∝N regime — with the
    auto-selected assignment path (Arrow argmin past k=32, bit-
    identical to the expression path).  The oracle computes the same
    k from the table's row count, so the unrolled CTE chain (whose
    SQL size is O(iters), not O(k)) stays exact
    (operators/clustering.py:semantic_dedup_keep)."""
    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_keep,
    )

    return semantic_dedup_keep(_embs(spark, sf_dir), iters=2, threshold=0.4)


def _text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval with exact-integer scoring: one
    corpus scan, one broadcast stats row, TakeOrderedAndProject top-k
    — operators/text.py:bm25_topk."""
    from eventhub_to_timescale_spark.operators.text import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), terms=("spark", "window", "dup"), k=20
    )


def _sample_dsir_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023) with hashed-bigram
    bucket models: corpus never shuffles, one <=256-row weight map
    broadcast, TakeOrderedAndProject top-n —
    operators/dsir.py:dsir_topn."""
    from eventhub_to_timescale_spark.operators.dsir import dsir_topn

    return dsir_topn(
        _docs(spark, sf_dir), F.col("lang") == "en", n=100
    )


def _dedup_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta vs a synthetic second corpus version (drop
    id%7==0, edit id%5==0, add id%11==0 under fresh ids): one
    co-partitioned full-outer join on 8-byte content digests
    (operators/dedup.py:corpus_diff)."""
    from eventhub_to_timescale_spark.operators.dedup import corpus_diff

    docs = _docs(spark, sf_dir)
    edited = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return corpus_diff(docs, edited.unionByName(added))


def _pipeline_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lee-et-al./Abbas-et-al. dedup chain as ONE plan:
    substring spans → span removal → MinHash keep-first over the
    CLEANED text → SemDeDup over the survivors' embeddings — persist
    boundaries between stages so each corpus scan happens once
    (operators/dedup_pipeline.py).  k=8 pinned for the stable
    unrolled-CTE oracle; threshold 0.4 as in dedup_semantic_keep
    (synthetic embeddings are near-orthogonal).

    BOUNDED SEMANTIC-STAGE FIXTURE (r14 verdict ask #1): ONLY the
    embeddings input is capped at vec_id < 500 — the span-removal and
    MinHash stages still run over the FULL corpus in both engines, so
    the sweep keeps exercising the lexical chain at sf1 while the
    quadratic-ORACLE semantic stage (the reason this entry sat on the
    skip list) becomes constant-cost.  Byte-identical at gate scale
    (sf0.001/sf0.01 hold exactly vecs 0–499); keep-first semantics
    make docs ≥ 500 irrelevant to the < 500 survivor set anyway
    (doc_b > doc_a in every removal pair)."""
    from eventhub_to_timescale_spark.operators.dedup_pipeline import (
        dedup_full_pipeline,
    )

    return dedup_full_pipeline(
        _docs(spark, sf_dir),
        _embs(spark, sf_dir).filter(F.col("vec_id") < 500),
        k=8,
        iters=2,
        threshold=0.4,
    )


def _pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CURATION chain a training-data run ships, as ONE plan
    (r13 verdict ask #2): normalize → Gopher quality cut → substring
    span removal → MinHash keep-first → decontaminate vs the eval
    slice → 8 000-token budget select → shard order — the manifest
    (doc_id, n_tokens, shard, pos) a trainer consumes
    (operators/curation_pipeline.py).  The semantic stage is
    deliberately absent so the entry stays sf1-sweepable (its oracle
    is the documented quadratic exclusion); all stage parameters
    match the standalone gated entries (substr 48/16/2, minhash
    12/6/3 @0.5, eval doc_id %% 97, Gopher STOPWORDS)."""
    from eventhub_to_timescale_spark.operators.curation_pipeline import (
        curation_full_pipeline,
    )

    return curation_full_pipeline(_docs(spark, sf_dir))


def _pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition audit of the curation chain (r14, the curation
    analog of dedup_evidence_report): (stage, n_docs, n_tokens) for
    0_input → 1_quality → 2_spans_clean → 3_neardup →
    4_decontaminated → 5_budget_selected, token-counted with the
    corpus-standard lexer on each stage's OWN text form — row
    attrition AND text shrinkage in one 6-row frame.  Shares
    pipeline_curation_full's stage construction and persist
    boundaries (operators/curation_pipeline.py _build_stages)."""
    from eventhub_to_timescale_spark.operators.curation_pipeline import (
        curation_stage_report,
    )

    return curation_stage_report(_docs(spark, sf_dir))


def _dedup_minhash_autoband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs with the banding SOLVED from the target
    threshold (r14, the self-sizing theme of asks #3/#4 applied to
    LSH): choose_minhash_bands picks the divisor banding whose
    S-curve characteristic (1/b)^(1/r) best matches the target (MMDS
    §3.4.3), so callers state the Jaccard they mean instead of
    hand-sizing (bands, rows).  Gated at threshold 0.8 / 12 hashes —
    the solver lands on 3 bands × 4 rows, a genuinely different
    banding (and plan) than the manual 6×2 entries; at the repo's
    standard 0.5 it reproduces the manual 6×2 exactly (pinned by
    test).  See operators/dedup.py choose_minhash_bands."""
    from eventhub_to_timescale_spark.operators.dedup import (
        minhash_autoband_pairs,
    )

    return minhash_autoband_pairs(
        _docs(spark, sf_dir), num_hashes=12, jaccard_threshold=0.8,
        persist_banded=True,  # self-join sides share one signature pass
    )


def _text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAIN (r14 verdict ask #5): 12 merge
    rounds as 12 bounded Spark jobs over the word-frequency VOCAB
    frame (never the corpus — one map-side word-count groupBy is the
    only corpus pass), each round one vocab-sized pair-count
    aggregate + ONE 1-row argmax collect + a JVM-side greedy fold
    apply.  Deterministic ties (count DESC, pair ASC) keep both
    engines byte-identical; the oracle unrolls the same loop as
    materialized CTEs (the k-means precedent).  See operators/bpe.py.
    """
    from eventhub_to_timescale_spark.operators.bpe import bpe_merge_table

    return bpe_merge_table(spark, _docs(spark, sf_dir), num_merges=12)


def _text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-faithful token counts (r14 verdict ask #5): train
    the 12-merge BPE on the corpus, then count each document's BPE
    tokens via ONE broadcast join of the vocab's per-word
    segmentation sizes + a map-side SUM — the corpus is scanned twice
    total (train + apply), never per merge round.  The manifest's
    lexer n_tokens stays the default; this is the budgeting twin a
    trainer actually wants.  See operators/bpe.py bpe_token_counts."""
    from eventhub_to_timescale_spark.operators.bpe import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir), num_merges=12)


def _events_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 ordered 3-step user journeys (behavioral sequence
    mining): one user-partitioned lead window + two map-side
    combinable aggregates + total-order top-k
    (operators/trending.py:journey_ngrams)."""
    from eventhub_to_timescale_spark.operators.trending import (
        journey_ngrams,
    )

    return journey_ngrams(_events(spark, sf_dir), n=3, k=20)


def _rel_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(priority, year) subtotal report in one Expand+hash-agg
    pass — leaf groups, per-priority subtotals and the grand total
    from a single shuffle (operators/relational.py:revenue_rollup)."""
    from eventhub_to_timescale_spark.operators.relational import (
        revenue_rollup,
    )

    (o,) = _rel_tables(spark, sf_dir, "orders")
    return revenue_rollup(o)


def _dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup contamination matrix: MinHash pairs bucketed by
    lexicographic (source, source) — which sources duplicate each
    other (operators/dedup.py:cross_source_matrix)."""
    from eventhub_to_timescale_spark.operators.dedup import (
        cross_source_matrix,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=12, bands=6, shingle_n=3, jaccard_threshold=0.5,
        persist_banded=True,  # matrix joins pairs twice: share ONE
        # shingle+signature pass (r8 verdict: double lineage cost 3 s)
    )
    return cross_source_matrix(docs, pairs)


def _text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon word entropy (gibberish / looping-text
    signal) — scan-side array expressions only
    (operators/text.py:word_entropy)."""
    from eventhub_to_timescale_spark.operators.text import word_entropy

    return word_entropy(_docs(spark, sf_dir))


def _dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank centrality over the MinHash
    near-dup pair graph — canonical-document choice by duplicate-graph
    centrality; all arithmetic integral so the unrolled-CTE oracle
    agrees bit-for-bit (operators/pagerank.py)."""
    from eventhub_to_timescale_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from eventhub_to_timescale_spark.operators.pagerank import pagerank

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=12, bands=6, shingle_n=3,
        jaccard_threshold=0.5,
        persist_banded=True,  # pagerank's edge union reads pairs
        # twice before its own persist: share one signature pass
    )
    return pagerank(pairs, iters=3)


def _sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature source mixing (GPT-3/LLaMA-style w_g ∝ √n_g)
    with integer-exact ⌊√n⌋ quotas; two-phase bucket plan — full
    buckets pass a scan filter, only boundary buckets pay a
    (group, bucket)-partitioned window
    (operators/sampling.py:temperature_mix)."""
    from eventhub_to_timescale_spark.operators.sampling import (
        temperature_mix,
    )

    return temperature_mix(_docs(spark, sf_dir), total=200)


def _emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 sign projection 64→16 dims with a
    plan-time literal Rademacher matrix — single scan-side select, no
    shuffle/UDF/broadcast; bit-exact cross-engine fold
    (operators/embeddings.py:random_projection).

    Gate surface note: the operator itself returns ``proj`` as
    ``array<double>`` (the shape real callers want), but the driver's
    value hasher cannot hash list cells (r9 red row), so this wrapper
    posexplodes to one (vec_id, component_idx, value) row per
    component — same information, scalar cells, still scan-side (the
    explode is a codegen'd generator, no shuffle)."""
    from eventhub_to_timescale_spark.operators.embeddings import (
        random_projection,
    )

    return random_projection(_embs(spark, sf_dir)).select(
        "vec_id",
        F.posexplode("proj").alias("component_idx", "value"),
    )


def _events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier flags: |v − median| > 3·MAD — two
    bounded aggregates, two broadcast joins, zero shuffles of the
    fact table (operators/anomaly.py:mad_outliers)."""
    from eventhub_to_timescale_spark.operators.anomaly import mad_outliers

    return mad_outliers(_events(spark, sf_dir))


def _sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget prefix selection in md5-shuffled
    order — two-phase: 256-bucket token totals (bounded driver
    prefix-sum) + wholesale bucket filter, only the boundary bucket
    pays an ordered window (operators/sampling.py:token_budget_select).
    """
    from eventhub_to_timescale_spark.operators.sampling import (
        token_budget_select,
    )

    return token_budget_select(_docs(spark, sf_dir), budget=5000)


def _curation_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, table A1)
    as integer-exact per-row flags: word count, mean word length,
    alpha ratio, stop-word presence, max-frequency repetition — pure
    scan-side array expressions, no shuffle, no UDF
    (operators/curation.py:gopher_quality_flags). The stop list is the
    corpus's own function-word list (operators/text.py:STOPWORDS);
    the paper's English list is the deploy-time default."""
    from eventhub_to_timescale_spark.operators.curation import (
        gopher_quality_flags,
    )
    from eventhub_to_timescale_spark.operators.text import STOPWORDS

    return gopher_quality_flags(_docs(spark, sf_dir), stopwords=STOPWORDS)


def _dedup_substr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with cross-document boilerplate spans cut out — the
    terminal Lee-et-al. substring-dedup step
    (operators/substrdup.py:remove_repeated_spans)."""
    from eventhub_to_timescale_spark.operators.substrdup import (
        remove_repeated_spans,
    )

    return remove_repeated_spans(
        _docs(spark, sf_dir), window=48, stride=16, min_docs=2
    )


def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase cumulative funnel via a single-scan
    JVM-side fold — operators/funnel.py (greedy earliest progression,
    strictly-later step matching)."""
    from eventhub_to_timescale_spark.operators.funnel import funnel_reached

    return funnel_reached(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the raw event stream (30-min
    silence rule) — operators/sessions.py; integer/timestamp output,
    exact cross-engine parity."""
    from eventhub_to_timescale_spark.operators.sessions import sessionize

    return sessionize(_events(spark, sf_dir), "user_id", "ts", "event_id", 1800)


def _text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM fluency score per document (CCNet-style
    curation signal) — operators/text.py:unigram_lm_score."""
    from eventhub_to_timescale_spark.operators.text import unigram_lm_score

    return unigram_lm_score(_docs(spark, sf_dir), vocab_top_k=1000)


def _corpus_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffled training order: md5-derived shard +
    within-shard rank (operators/sampling.py:shard_order)."""
    from eventhub_to_timescale_spark.operators.sampling import shard_order

    return shard_order(_docs(spark, sf_dir), "doc_id", 64, salt="order-v1")


def _dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al. 2003 / MOSS) partial-overlap
    candidate pairs: window-min k-gram fingerprints, df-pruned
    banded equi-join — the LOCAL-reuse dedup family beside MinHash's
    global Jaccard (operators/winnowing.py:winnow_pairs)."""
    from eventhub_to_timescale_spark.operators.winnowing import winnow_pairs

    return winnow_pairs(_docs(spark, sf_dir), k=5, w=4, min_shared=2)


def _text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF (micro-unit exact
    integer scores) — the keyword extractor beside bm25_topk's
    document ranking (operators/text.py:tfidf_top_terms)."""
    from eventhub_to_timescale_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ=1/51 heavy-hitter terms via the two-phase pigeonhole
    candidate + exact-recount plan — per-partition frequent items are
    a complete candidate set, so the output equals DuckDB's plain
    GROUP BY/HAVING while never globally aggregating the full
    vocabulary (operators/heavyhitters.py:frequent_terms)."""
    from eventhub_to_timescale_spark.operators.heavyhitters import (
        frequent_terms,
    )

    return frequent_terms(_docs(spark, sf_dir), k=50)


def _heavy_hitters_oracle() -> str:
    from eventhub_to_timescale_spark.operators.heavyhitters import (
        frequent_terms_oracle_sql,
    )

    return frequent_terms_oracle_sql(k=50)


def _events_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly
    per-event-type value series (centered 25-point MA trend, 24-phase
    seasonal, residual) — micro-unit-exact at every stage
    (operators/seasonal.py:seasonal_decompose)."""
    from eventhub_to_timescale_spark.operators.seasonal import (
        seasonal_decompose,
    )

    return seasonal_decompose(_events(spark, sf_dir))


def _seasonal_oracle() -> str:
    from eventhub_to_timescale_spark.operators.seasonal import (
        seasonal_decompose_oracle_sql,
    )

    return seasonal_decompose_oracle_sql()


def _events_phase_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal deseasonalized outliers: deviations from the
    phase-profile model (live-scorable, no future leakage) under the
    MAD rule — the batch twin of the stream-static applier
    (operators/seasonal.py:phase_profile + deseasonalized_rows,
    streaming/anomaly.py:streaming_deseasonalized_outliers)."""
    from eventhub_to_timescale_spark.operators.anomaly import mad_outliers
    from eventhub_to_timescale_spark.operators.seasonal import (
        deseasonalized_rows,
        phase_profile,
    )

    events = _events(spark, sf_dir)
    # event-row-sized frame scanned three times by the MAD rule
    # (caller-releases cache contract, as in events_seasonal_anomaly)
    dev = deseasonalized_rows(events, phase_profile(events)).persist()
    return mad_outliers(
        dev, group_col="event_type", value_col="dev", id_col="event_id"
    ).orderBy("event_id")


def _phase_outliers_oracle() -> str:
    from eventhub_to_timescale_spark.operators.anomaly import (
        mad_outliers_oracle_sql,
    )

    mad = mad_outliers_oracle_sql(
        group_col="event_type",
        value_col="dev",
        id_col="event_id",
        table="devs",
    )
    phase = "(CAST(floor(epoch({t})) AS BIGINT) // 3600) % 24"
    prelude = f"""WITH prof AS (
  SELECT event_type, {phase.format(t="ts")} AS phase,
         CAST(round(SUM(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                    / COUNT(*)) AS BIGINT) AS prof_micro
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
devs AS (
  SELECT e.event_id, e.event_type, e.value,
         CAST(CAST(round(e.value * 1000000) AS BIGINT) - p.prof_micro
              AS DOUBLE) / 1000000 AS dev
  FROM events e JOIN prof p
    ON p.event_type = e.event_type
   AND p.phase = {phase.format(t="e.ts")}
  WHERE e.value IS NOT NULL
),
m AS"""
    return (
        mad.replace("WITH m AS", prelude, 1) + "\nORDER BY event_id"
    )


def _emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the corpus' top-4 principal components —
    the sufficient-statistics pattern: EXACT integer micro Gram sums
    (order-free, so Spark / DuckDB / numpy agree bit-for-bit), a
    bounded 64×64 eigendecomposition on the driver, and a plan-time
    literal scan-side projection (operators/embeddings.py:
    pca_project / pca_fit_duckdb; the in-Spark fit twin
    pca_fit_spark is pinned sum-identical by pytest).  Exploded to
    scalar rows for the gate like emb_random_projection."""
    from eventhub_to_timescale_spark.operators.embeddings import (
        pca_fit_duckdb,
        pca_project,
    )

    mean, comps = pca_fit_duckdb(f"{sf_dir}/embeddings.parquet", k=4)
    return pca_project(_embs(spark, sf_dir), mean, comps)


def _pca_oracle_entry() -> dict[str, str]:
    # data-dependent oracle (same pattern as sim_ivf_topk): the
    # literal component matrix is fitted from the oracle SF dir's
    # parquet by the same exact-integer fit
    from eventhub_to_timescale_spark.operators.embeddings import (
        pca_fit_duckdb,
        pca_project_oracle_sql,
    )

    path = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        + "/embeddings.parquet"
    )
    try:
        mean, comps = pca_fit_duckdb(path, k=4)
        return {"emb_pca_project": pca_project_oracle_sql(mean, comps)}
    except Exception as e:
        print(
            f"WARNING: emb_pca_project oracle dropped (rows-only gate): "
            f"{e!r} (path={path})",
            file=sys.stderr,
        )
        return {}


def _dedup_evidence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family dedup evidence: one row per candidate pair found
    by ANY of the three near-dup families — MinHash global Jaccard,
    winnowing local fingerprints, Levenshtein edit distance — with
    each family's score (NULL where that family did not flag the
    pair).  The reviewer's surface for tuning thresholds: a pair
    flagged by all three is a certain duplicate; edit-only pairs are
    in-place mutations; winnow-only pairs are partial reuse.

    Plan: three already-bounded pair frames FULL OUTER joined on the
    ordered (doc_a, doc_b) key — pair-graph-sized, never corpus-sized.
    """
    from eventhub_to_timescale_spark.operators.dedup import minhash_lsh_pairs
    from eventhub_to_timescale_spark.operators.editsim import (
        edit_distance_pairs,
    )
    from eventhub_to_timescale_spark.operators.winnowing import winnow_pairs

    docs = _docs(spark, sf_dir)
    # r15: stage each family's PAIR frame (pair-graph-sized, a few
    # hundred rows here) behind an eager localCheckpoint — without the
    # boundary every action re-ran all three candidate+verify subplans
    # end-to-end (profiled: ~3.2 s and 22 jobs per warm count at
    # sf0.1, ~11 s of task time).  Checkpoint, NOT persist(): a
    # cached subplan compiles without AQE, so the minhash attach
    # joins lose their runtime broadcast conversion and the first
    # action paid ~2x in sort-merge exchanges (measured 7.9 → 15-17 s
    # cold); the checkpoint runs each family as a normal fully-
    # adaptive job once, and later actions join three leaves.
    # The three materializations are INDEPENDENT jobs — overlap them
    # from a small driver thread pool (guide §2.6) so each family's
    # straggler tail back-fills the others' idle cores; sequential
    # eager checkpoints measured ~19 s cold vs ~8 s overlapped.
    from concurrent.futures import ThreadPoolExecutor

    mh_lazy = minhash_lsh_pairs(
        docs, num_hashes=12, bands=6, jaccard_threshold=0.5,
        persist_banded=True,
    ).select("doc_a", "doc_b", "jaccard")
    wp_lazy = winnow_pairs(docs, k=5, w=4, min_shared=2).select(
        "doc_a", "doc_b", F.col("shared").alias("shared_fps")
    )
    ed_lazy = edit_distance_pairs(docs, max_distance=8).select(
        "doc_a", "doc_b", "distance"
    )
    with ThreadPoolExecutor(max_workers=3) as pool:
        mh, wp, ed = pool.map(
            lambda f: f.localCheckpoint(eager=True),
            [mh_lazy, wp_lazy, ed_lazy],
        )
    keys = ["doc_a", "doc_b"]
    return (
        mh.join(wp, keys, "full_outer")
        .join(ed, keys, "full_outer")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "shared_fps",
            "distance",
            (
                F.col("jaccard").isNotNull().cast("int")
                + F.col("shared_fps").isNotNull().cast("int")
                + F.col("distance").isNotNull().cast("int")
            ).alias("n_families"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _dedup_evidence_oracle() -> str:
    import eventhub_to_timescale_spark.oracles as oc
    from eventhub_to_timescale_spark.operators.editsim import (
        edit_distance_pairs_oracle_sql,
    )
    from eventhub_to_timescale_spark.operators.winnowing import (
        winnow_pairs_oracle_sql,
    )

    mh = oc.dedup_minhash_oracle(12, 6, 0.5)
    wp = winnow_pairs_oracle_sql(k=5, w=4, min_shared=2)
    ed = edit_distance_pairs_oracle_sql(max_distance=8)
    return f"""
WITH mh AS ({mh}),
wp AS ({wp}),
ed AS ({ed}),
ks AS (
  SELECT doc_a, doc_b FROM mh
  UNION
  SELECT doc_a, doc_b FROM wp
  UNION
  SELECT doc_a, doc_b FROM ed
)
SELECT k.doc_a, k.doc_b, mh.jaccard,
       wp.shared AS shared_fps, ed.distance,
       (CAST(mh.jaccard IS NOT NULL AS INTEGER)
        + CAST(wp.shared IS NOT NULL AS INTEGER)
        + CAST(ed.distance IS NOT NULL AS INTEGER)) AS n_families
FROM ks k
LEFT JOIN mh ON mh.doc_a = k.doc_a AND mh.doc_b = k.doc_b
LEFT JOIN wp ON wp.doc_a = k.doc_a AND wp.doc_b = k.doc_b
LEFT JOIN ed ON ed.doc_a = k.doc_a AND ed.doc_b = k.doc_b
ORDER BY k.doc_a, k.doc_b
"""


def _sketch_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per event type from MERGEABLE
    daily HLL registers (register max across the window — the rollup
    property exact distinct lacks), concordance-gated against the
    exact trailing count (operators/sketches.py:hll_rolling_distinct)."""
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_rolling_distinct,
    )

    return hll_rolling_distinct(_events(spark, sf_dir))


def _hll_rolling_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_rolling_oracle_sql,
    )

    return hll_rolling_oracle_sql()


def _dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein ≤ 8 near-identical pairs via q-gram blocking +
    exact JVM-side verify — the character-level record-linkage metric
    beside the token-level MinHash/winnowing families
    (operators/editsim.py:edit_distance_pairs)."""
    from eventhub_to_timescale_spark.operators.editsim import (
        edit_distance_pairs,
    )

    return edit_distance_pairs(_docs(spark, sf_dir), max_distance=8)


def _edit_distance_oracle() -> str:
    from eventhub_to_timescale_spark.operators.editsim import (
        edit_distance_pairs_oracle_sql,
    )

    return edit_distance_pairs_oracle_sql(max_distance=8)


def _dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph diagnostics: exact triangle count + global
    clustering coefficient via the Suri–Vassilvitskii degree-oriented
    wedge join over the MinHash pair graph
    (operators/graphstats.py:graph_triangle_stats)."""
    from eventhub_to_timescale_spark.operators.dedup import minhash_lsh_pairs
    from eventhub_to_timescale_spark.operators.graphstats import (
        graph_triangle_stats,
    )

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=12, bands=6,
        jaccard_threshold=0.5, persist_banded=True,
    )
    return graph_triangle_stats(pairs)


def _graph_triangles_oracle() -> str:
    import eventhub_to_timescale_spark.oracles as oc
    from eventhub_to_timescale_spark.operators.graphstats import (
        graph_triangle_stats_oracle_sql,
    )

    return graph_triangle_stats_oracle_sql(oc.dedup_minhash_oracle(12, 6, 0.5))


def _sample_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: every MinHash near-dup CLUSTER
    lands on one side atomically (md5-threshold on the
    cluster-canonical id), so a near-dup pair can never straddle the
    split (operators/sampling.py:leakage_safe_split)."""
    from eventhub_to_timescale_spark.operators.dedup import minhash_lsh_pairs
    from eventhub_to_timescale_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=12, bands=6, jaccard_threshold=0.5
    )
    return leakage_safe_split(docs, pairs, test_fraction=0.1)


def _leakage_split_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        leakage_safe_split_oracle_predicate,
    )

    import eventhub_to_timescale_spark.oracles as oc

    comps = oc.dedup_components_oracle(12, 6, 0.5)
    pred = leakage_safe_split_oracle_predicate("x.cluster", 0.1)
    return f"""
WITH comps AS ({comps}),
x AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comps c USING (doc_id)
)
SELECT x.doc_id, x.cluster,
       CASE WHEN {pred} THEN 'test' ELSE 'train' END AS split
FROM x ORDER BY x.doc_id
"""


def _events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized anomaly detection: seasonal_decompose's residual
    (level and season removed) scored by the median/MAD outlier rule —
    the composition the seasonal module's docstring promises
    (operators/seasonal.py + operators/anomaly.py:mad_outliers)."""
    from eventhub_to_timescale_spark.operators.anomaly import mad_outliers
    from eventhub_to_timescale_spark.operators.seasonal import (
        seasonal_decompose,
    )

    # persist the bucket-sized residual frame: the MAD rule scans its
    # input three times (median agg, deviation join, outlier join) and
    # each scan would otherwise re-run the whole decomposition
    # (caller-releases contract — the harnesses clearCache() per query)
    resid = (
        seasonal_decompose(_events(spark, sf_dir))
        .filter(F.col("residual").isNotNull())
        .select("event_type", "bucket", "residual")
        .persist()
    )
    return mad_outliers(
        resid,
        group_col="event_type",
        value_col="residual",
        id_col="bucket",
    ).orderBy("event_type", "bucket")


def _seasonal_anomaly_oracle() -> str:
    from eventhub_to_timescale_spark.operators.anomaly import (
        mad_outliers_oracle_sql,
    )
    from eventhub_to_timescale_spark.operators.seasonal import (
        seasonal_decompose_oracle_sql,
    )

    seasonal = seasonal_decompose_oracle_sql()
    mad = mad_outliers_oracle_sql(
        group_col="event_type",
        value_col="residual",
        id_col="bucket",
        table="resid",
    )
    # graft the seasonal chain ahead of the MAD CTEs (single WITH)
    prelude = (
        f"WITH seasonal AS ({seasonal}),\n"
        "resid AS (\n"
        "  SELECT event_type, bucket, residual FROM seasonal\n"
        "  WHERE residual IS NOT NULL\n"
        "),\nm AS"
    )
    sql = mad.replace("WITH m AS", prelude, 1)
    return sql + "\nORDER BY event_type, bucket"


def _dedup_winnow_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed local-reuse dedup: winnowing pairs → connected
    components (min-label propagation) → one survivor per cluster —
    the keep-first composition over the NEW candidate family, reusing
    dedup_components_keep's exact clustering
    (operators/winnowing.py + operators/dedup.py:580)."""
    from eventhub_to_timescale_spark.operators.dedup import (
        dedup_components_keep,
    )
    from eventhub_to_timescale_spark.operators.winnowing import winnow_pairs

    docs = _docs(spark, sf_dir)
    pairs = winnow_pairs(docs, k=5, w=4, min_shared=2)
    return (
        dedup_components_keep(docs.select("doc_id"), pairs)
        .orderBy("doc_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The paper's surface comes first: Q1–Q9 with their variants, the
    # as-of / range / gap-fill temporal queries, then the ingest
    # entries.  Every other workload follows.
    return {
        "q1_bucket_avg": _q1,
        "q1_all_subjects": _q1_all_subjects,
        "q1_from_rollup": _q1_from_rollup,
        "q2_resolution_avg": _q2,
        "q3_daily_max": _q3_daily,
        "q3_intraday_avg": _q3_intraday,
        "q3_daily_from_cascade": _q3_daily_from_cascade,
        "q4_mode_adaptive": _q4_mode,
        "q5_timeweight_locf": _q5_locf,
        "q5_timeweight_linear": _q5_linear,
        "q6_asap_smooth": _q6_asap,
        "q6_lttb_downsample": _q6_lttb,
        "q6_moving_avg": _q6_moving_avg,
        "q7_unique_subjects": _q7_subjects,
        "q8_changed_rows": _q8_changes,
        "q8_changed_rows_salted": _q8_changes_salted,
        "q9_state_intervals": _q9_intervals,
        "q9_state_intervals_salted": _q9_intervals_salted,
        "asof_probe_value": _asof_probe_value,
        "range_overlap_join": _range_overlap,
        "gapfill_linear": _gapfill_linear,
        "ingest_events_unpivot": _ingest_conditions,
        "ingest_glow": _ingest_glow,
        "ingest_homie": _ingest_homie,
        "ingest_emon": _ingest_emon,
        "ingest_bmw": _ingest_bmw,
        "ingest_dynamic": _ingest_dynamic,
        "ingest_records_strict": _ingest_records_strict,
        "ingest_router_union": _ingest_router,
        "dedup_cdc_gear": _dedup_cdc_gear,
        "dedup_stream_cdc_twin": _dedup_stream_cdc_twin,
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash,
        "dedup_simhash": _dedup_simhash,
        "sim_cosine_topk": _sim_topk,
        "text_fingerprint": _text_fingerprint,
        "text_vocab_topk": _text_vocab_topk,
        "pack_documents": _pack_documents,
        "curation_pii_redact": _curation_pii_redact,
        "curation_decontaminate": _curation_decontaminate,
        "curation_repetition": _curation_repetition,
        "mm_blob_features": _mm_blob_features,
        "mm_frame_sample": _mm_frame_sample,
        "mm_resize": _mm_resize,
        "dedup_substr_windows": _dedup_substr_windows,
        "events_cohort_retention": _events_cohort_retention,
        "events_funnel": _events_funnel,
        "events_live_intervals": _events_live_intervals,
        "sample_docs_weighted": _sample_docs_weighted,
        "sample_source_quota": _sample_source_quota,
        "rel_large_orders": _rel_large_orders,
        "rel_returned_revenue": _rel_returned_revenue,
        "text_token_stats": _text_tokens,
        "text_language_id": _text_langid,
        "text_quality_sample_cut": _text_quality_sample_cut,
        "sketch_bloom_probe": _sketch_bloom_probe,
        "events_quantile_bands": _events_quantile_bands,
        "sketch_join_size": _sketch_join_size,
        "dedup_stream_neardup_twin": _dedup_stream_neardup_twin,
        "events_cusum_alarms": _events_cusum_alarms,
        "dedup_cdc_chunks": _dedup_cdc_chunks,
        "events_markov_transitions": _events_markov_transitions,
        "events_interarrival": _events_interarrival,
        "layout_range_partition": _layout_range_partition,
        "sample_cv_folds": _sample_cv_folds,
        "mm_phash_neardup": _mm_phash_neardup,
        "events_winsorize": _events_winsorize,
        "events_xcorr": _events_xcorr,
        "events_cube_counts": _events_cube_counts,
        "mm_phash_keep": _mm_phash_keep,
        "events_basket_pmi": _events_basket_pmi,
        "events_skew_profile": _events_skew_profile,
        "events_attribution": _events_attribution,
        "dedup_winnowing": _dedup_winnowing,
        "text_tfidf_topk": _text_tfidf_topk,
        "dedup_winnow_keep": _dedup_winnow_keep,
        "events_seasonal_decompose": _events_seasonal,
        "sketch_heavy_hitters": _sketch_heavy_hitters,
        "events_seasonal_anomaly": _events_seasonal_anomaly,
        "sample_leakage_split": _sample_leakage_split,
        "events_phase_outliers": _events_phase_outliers,
        "dedup_graph_triangles": _dedup_graph_triangles,
        "dedup_edit_distance": _dedup_edit_distance,
        "sketch_hll_rolling": _sketch_hll_rolling,
        "dedup_evidence_report": _dedup_evidence_report,
        "emb_pca_project": _emb_pca_project,
        "asof_probe_value_salted": _asof_probe_value_salted,
        "dedup_components_keep": _dedup_components_keep,
        "dedup_embedding_cosine": _dedup_embedding,
        "sim_ann_lsh": _sim_ann_lsh,
        "sim_ivf_topk": _sim_ivf,
        "text_quality_score": _text_quality,
        "pipeline_clean_corpus": _pipeline_clean_corpus,
        "text_quality_percentile": _text_quality_percentile,
        "sample_docs_fraction": _sample_docs_fraction,
        "sketch_distinct": _sketch_distinct,
        "sketch_percentile": _sketch_percentile,
        "toolkit_counter_delta": _toolkit_counter_delta,
        "toolkit_heartbeat": _toolkit_heartbeat,
        "events_sessionize_native": _events_sessionize_native,
        "rel_pricing_summary": _rel_pricing_summary,
        "rel_top_orders": _rel_top_orders,
        "text_unigram_lm": _text_unigram_lm,
        "dedup_components": _dedup_components,
        "dedup_ngram_jaccard": _dedup_ngram,
        "text_bm25_topk": _text_bm25_topk,
        "sample_dsir_topn": _sample_dsir_topn,
        "curation_gopher_quality": _curation_gopher_quality,
        "sample_token_budget": _sample_token_budget,
        "events_anomaly_mad": _events_anomaly_mad,
        "sample_temperature_mix": _sample_temperature_mix,
        "dedup_pagerank": _dedup_pagerank,
        "text_word_entropy": _text_word_entropy,
        "dedup_cross_source": _dedup_cross_source,
        "rel_revenue_rollup": _rel_revenue_rollup,
        "dedup_corpus_diff": _dedup_corpus_diff,
        "rel_cross_nation_volume": _rel_cross_nation,
        "rel_order_distribution": _rel_order_distribution,
        "rel_top_supplier": _rel_top_supplier,
        "rel_small_qty_revenue": _rel_small_qty_revenue,
        "layout_zorder_profile": _layout_zorder_profile,
        "rollup_upsert_value": _rollup_upsert_value,
        "docs_global_enumerate": _docs_global_enumerate,
        "docs_wfq_interleave": _docs_wfq_interleave,
        "events_trending_topk": _events_trending_topk,
        "rel_forecast_revenue": _rel_forecast_revenue,
        "rel_market_share": _rel_market_share,
        "rel_nation_profit": _rel_nation_profit,
        "rel_important_parts": _rel_important_parts,
        "rel_dominant_suppliers": _rel_dominant_suppliers,
        "rel_idle_customers": _rel_idle_customers,
        "dedup_substr_spans": _dedup_substr_spans,
        "rel_cheapest_supplier": _rel_cheapest_supplier,
        "rel_priority_late": _rel_priority_late,
        "rel_no_return_customers": _rel_no_return_customers,
        "rel_promo_share": _rel_promo_share,
        "rel_supplier_variety": _rel_supplier_variety,
        "rel_disjunctive_revenue": _rel_disjunctive_revenue,
        "cluster_kmeans": _cluster_kmeans,
        "cluster_balanced_sample": _cluster_balanced_sample,
        "sketch_hll_portable": _sketch_hll_portable,
        "sketch_hll_union": _sketch_hll_union,
        "sketch_cms_counts": _sketch_cms_counts,
        "dedup_jaccard_prefix": _dedup_jaccard_prefix,
        "dedup_semantic_keep": _dedup_semantic_keep,
        "text_quality_logit": _text_quality_logit,
        "text_bigrams_topk": _text_bigrams_topk,
        "text_bigram_lm": _text_bigram_lm,
        "sketch_histogram": _sketch_histogram,
        "rel_revenue_by_nation": _rel_revenue_by_nation,
        "rel_shipmode_priority": _rel_shipmode_priority,
        "events_journey_trigrams": _events_journey_trigrams,
        "dedup_substr_clean": _dedup_substr_clean,
        "pipeline_dedup_full": _pipeline_dedup_full,
        "emb_random_projection": _emb_random_projection,
        "dedup_semantic_default": _dedup_semantic_default,
        "sketch_kmv_overlap": _sketch_kmv_overlap,
        "curation_normalize": _curation_normalize,
        "dedup_exact_normalized": _dedup_exact_normalized,
        "toolkit_ohlc": _toolkit_ohlc,
        "toolkit_trend_slope": _toolkit_trend_slope,
        "emb_normalize_quantize": _emb_normalize_quantize,
        "doc_chunks": _doc_chunks,
        "corpus_shard_order": _corpus_shard_order,
        "events_sessionize": _events_sessionize,
        "toolkit_gauge_delta": _toolkit_gauge_delta,
        "dedup_minhash_keep": _dedup_minhash_keep,
        "sample_split_counts": _sample_split_counts,
        "sample_events_stratified": _sample_events_stratified,
        "gapfill_locf": _gapfill_locf,
        "events_quantile_bands_gk": _events_quantile_bands_gk,
        "sketch_bloom_stream_twin": _sketch_bloom_stream_twin,
        "sketch_join_profile": _sketch_join_profile,
        "sim_rrf_fusion": _sim_rrf_fusion,
        "pipeline_curation_full": _pipeline_curation_full,
        "pipeline_curation_report": _pipeline_curation_report,
        "dedup_minhash_autoband": _dedup_minhash_autoband,
        "text_bpe_merges": _text_bpe_merges,
        "text_bpe_token_count": _text_bpe_token_count,
    }


def _chunking_oracle() -> str:
    from eventhub_to_timescale_spark.operators.chunking import (
        chunking_oracle_sql,
    )

    return chunking_oracle_sql(512, 384)


def _shard_order_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        shard_order_oracle_sql,
    )

    return shard_order_oracle_sql("doc_id", 64, "order-v1")


def _source_quota_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        source_quota_oracle_sql,
    )

    return source_quota_oracle_sql(
        "doc_id, source", "doc_id", "source", 10, salt="mix-v1"
    )


def _weighted_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        weighted_oracle_predicate,
    )

    pred = weighted_oracle_predicate(
        "doc_id", "n_chars / 500.0", salt="wq-v1"
    )
    return f"SELECT doc_id, n_chars FROM documents WHERE {pred}"


def _live_intervals_oracle(cond: str) -> str:
    from eventhub_to_timescale_spark.operators.intervals import (
        coalesce_oracle_sql,
    )

    iv_cte = f"""
  SELECT measurement_subject,
         timestamp AS start,
         timestamp + INTERVAL 7200 SECOND AS "end"
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
"""
    return coalesce_oracle_sql(iv_cte)


def _substr_windows_oracle() -> str:
    from eventhub_to_timescale_spark.operators.substrdup import (
        repeated_windows_oracle_sql,
    )

    return repeated_windows_oracle_sql(48, 16, 2)


def _substr_spans_oracle() -> str:
    from eventhub_to_timescale_spark.operators.substrdup import (
        repeated_window_spans_oracle_sql,
    )

    return repeated_window_spans_oracle_sql(48, 16, 2)


def _substr_clean_oracle() -> str:
    from eventhub_to_timescale_spark.operators.substrdup import (
        remove_repeated_spans_oracle_sql,
    )

    return remove_repeated_spans_oracle_sql(48, 16, 2)


def _rel_cheapest_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        cheapest_supplier_oracle_sql,
    )

    return cheapest_supplier_oracle_sql("Brand#1")


def _rel_priority_late_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        priority_late_oracle_sql,
    )

    return priority_late_oracle_sql(90)


def _rel_no_return_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        customers_without_returns_oracle_sql,
    )

    return customers_without_returns_oracle_sql()


def _rel_shipmode_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        shipmode_priority_oracle_sql,
    )

    return shipmode_priority_oracle_sql("1996-01-01", "1997-01-01")


def _rel_promo_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        promo_revenue_oracle_sql,
    )

    return promo_revenue_oracle_sql("1996-01-01", "1996-07-01")


def _rel_variety_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        supplier_variety_oracle_sql,
    )

    return supplier_variety_oracle_sql("Brand#1", "PROMO")


def _rel_disjunctive_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        disjunctive_revenue_oracle_sql,
    )

    return disjunctive_revenue_oracle_sql()


def _rel_cross_nation_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        cross_nation_volume_oracle_sql,
    )

    return cross_nation_volume_oracle_sql()


def _rel_order_dist_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        customer_order_distribution_oracle_sql,
    )

    return customer_order_distribution_oracle_sql()


def _rel_top_supplier_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        top_supplier_oracle_sql,
    )

    return top_supplier_oracle_sql()


def _rel_ext_oracle(which: str) -> str:
    from eventhub_to_timescale_spark.operators import relational_ext as rx

    return {
        "q6": rx.forecast_revenue_oracle_sql,
        "q8": rx.market_share_oracle_sql,
        "q9": rx.nation_profit_oracle_sql,
        "q11": rx.important_parts_oracle_sql,
        "q20": rx.dominant_suppliers_oracle_sql,
        "q22": rx.idle_customers_oracle_sql,
    }[which]()


def _layout_zorder_oracle() -> str:
    from eventhub_to_timescale_spark.operators.layout import (
        zorder_bucket_profile_oracle_sql,
    )

    return zorder_bucket_profile_oracle_sql()


def _trending_oracle() -> str:
    from eventhub_to_timescale_spark.operators.trending import (
        trending_topk_oracle_sql,
    )

    return trending_topk_oracle_sql()


def _rel_small_qty_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        small_quantity_revenue_oracle_sql,
    )

    return small_quantity_revenue_oracle_sql()


def _quality_logit_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import (
        quality_logit_oracle_sql,
    )

    return quality_logit_oracle_sql()


def _hll_portable_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_distinct_oracle_sql,
    )
    from eventhub_to_timescale_spark.sources.testdata import (
        EVENTS_AS_CONDITIONS_ORACLE,
    )

    return hll_distinct_oracle_sql(EVENTS_AS_CONDITIONS_ORACLE)


def _hll_union_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        hll_union_oracle_sql,
    )
    from eventhub_to_timescale_spark.sources.testdata import (
        EVENTS_AS_CONDITIONS_ORACLE,
    )

    return hll_union_oracle_sql(EVENTS_AS_CONDITIONS_ORACLE)


def _cms_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        cms_frequency_oracle_sql,
    )

    return cms_frequency_oracle_sql("SELECT user_id FROM events")


def _bigram_topk_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import (
        bigram_topk_oracle_sql,
    )

    return bigram_topk_oracle_sql(50)


def _bigram_lm_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import (
        bigram_lm_oracle_sql,
    )

    return bigram_lm_oracle_sql(2000)


def _cluster_kmeans_oracle() -> str:
    from eventhub_to_timescale_spark.operators.clustering import (
        kmeans_oracle_sql,
    )

    return kmeans_oracle_sql(k=8, iters=2)


def _cluster_balanced_oracle() -> str:
    from eventhub_to_timescale_spark.operators.clustering import (
        kmeans_balanced_oracle_sql,
    )

    return kmeans_balanced_oracle_sql(k=8, iters=2, per_cluster=20)


def _dedup_semantic_oracle() -> str:
    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_oracle_sql,
    )

    # bounded witness fixture (r14 ask #1): vec_id < 500 on both
    # sides — identity at gate scale, sf1-sweepable (the unbounded
    # within-cluster pair set spilled >80 GB at sf1 in r8)
    return semantic_dedup_oracle_sql(
        k=8,
        iters=2,
        threshold=0.4,
        table="(SELECT * FROM embeddings WHERE vec_id < 500)",
    )


def _pipeline_dedup_oracle() -> str:
    from eventhub_to_timescale_spark.operators.dedup_pipeline import (
        dedup_full_pipeline_oracle_sql,
    )

    # bounded semantic-stage fixture (r14 ask #1): embeddings capped
    # at vec_id < 500 on both sides; lexical stages stay full-corpus
    return dedup_full_pipeline_oracle_sql(
        k=8,
        iters=2,
        threshold=0.4,
        emb_table="(SELECT * FROM embeddings WHERE vec_id < 500)",
    )


def _pipeline_curation_oracle() -> str:
    from eventhub_to_timescale_spark.operators.curation_pipeline import (
        curation_full_pipeline_oracle_sql,
    )

    return curation_full_pipeline_oracle_sql()


def _curation_report_oracle() -> str:
    from eventhub_to_timescale_spark.operators.curation_pipeline import (
        curation_stage_report_oracle_sql,
    )

    return curation_stage_report_oracle_sql()


def _minhash_autoband_oracle() -> str:
    from eventhub_to_timescale_spark.oracles import dedup_minhash_oracle
    from eventhub_to_timescale_spark.operators.dedup import (
        choose_minhash_bands,
    )

    # same driver-side solve as the Spark wrapper: 12 hashes @ 0.8
    bands, _ = choose_minhash_bands(12, 0.8)
    return dedup_minhash_oracle(12, bands, 0.8)


def _bpe_merges_oracle() -> str:
    from eventhub_to_timescale_spark.operators.bpe import (
        bpe_merges_oracle_sql,
    )

    return bpe_merges_oracle_sql(num_merges=12)


def _bpe_token_count_oracle() -> str:
    from eventhub_to_timescale_spark.operators.bpe import (
        bpe_token_count_oracle_sql,
    )

    return bpe_token_count_oracle_sql(num_merges=12)


def _normalize_oracle() -> str:
    from eventhub_to_timescale_spark.operators.curation import (
        normalize_oracle_sql,
    )

    return normalize_oracle_sql()


def _exact_normalized_oracle() -> str:
    from eventhub_to_timescale_spark.operators.curation import (
        normalize_oracle_sql,
    )

    return f"""
WITH n AS ({normalize_oracle_sql()})
SELECT md5(norm_text) AS text_hash, COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_id
FROM n GROUP BY 1 ORDER BY 1
"""


def _kmv_overlap_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        kmv_overlap_oracle_sql,
    )

    return kmv_overlap_oracle_sql(k=256)


def _dedup_semantic_default_oracles() -> dict[str, str]:
    """Data-dependent oracle (same pattern as sim_ivf_topk): the
    k∝N default needs the corpus row count at oracle-build time."""
    import duckdb

    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_oracle_sql,
    )

    path = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        + "/embeddings.parquet"
    )
    try:
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()[0]
        k = max(8, n // 64)
        return {
            "dedup_semantic_default": semantic_dedup_oracle_sql(
                k=k, iters=2, threshold=0.4
            )
        }
    except Exception as e:
        # LOUD degradation: without this entry the driver records only
        # a rows-only check for dedup_semantic_default — a typo'd
        # SPARK_GRAFT_ORACLE_SF_DIR must not silently drop coverage
        print(
            f"WARNING: dedup_semantic_default oracle dropped "
            f"(rows-only gate): {e!r} (path={path})",
            file=sys.stderr,
        )
        return {}


def _bm25_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import bm25_oracle_sql

    return bm25_oracle_sql(terms=("spark", "window", "dup"), k=20)


def _winnowing_oracle() -> str:
    from eventhub_to_timescale_spark.operators.winnowing import (
        winnow_pairs_oracle_sql,
    )

    return winnow_pairs_oracle_sql(k=5, w=4, min_shared=2)


def _tfidf_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import tfidf_oracle_sql

    return tfidf_oracle_sql(k=3)


def _winnow_keep_oracle() -> str:
    # winnowing pairs feed the same recursive-CTE transitive closure
    # the MinHash components oracle uses (oracles.py:851)
    from eventhub_to_timescale_spark.operators.winnowing import (
        winnow_pairs_oracle_sql,
    )

    pairs = winnow_pairs_oracle_sql(k=5, w=4, min_shared=2)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comps AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM comps WHERE doc_id <> cluster_id
)
ORDER BY d.doc_id
"""


def _dsir_oracle() -> str:
    from eventhub_to_timescale_spark.operators.dsir import dsir_oracle_sql

    return dsir_oracle_sql("lang = 'en'", n=100)


def _journey_ngrams_oracle() -> str:
    from eventhub_to_timescale_spark.operators.trending import (
        journey_ngrams_oracle_sql,
    )

    return journey_ngrams_oracle_sql(n=3, k=20)


def _revenue_rollup_oracle() -> str:
    from eventhub_to_timescale_spark.operators.relational import (
        revenue_rollup_oracle_sql,
    )

    return revenue_rollup_oracle_sql()


def _word_entropy_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import (
        word_entropy_oracle_sql,
    )

    return word_entropy_oracle_sql()


def _temperature_mix_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        temperature_mix_oracle_sql,
    )

    return temperature_mix_oracle_sql(total=200)


def _random_projection_oracle() -> str:
    # Exploded to scalar (vec_id, component_idx, value) rows to match
    # the gate wrapper (DuckDB zips parallel unnests positionally, so
    # range(len(proj)) rides along as the component index).
    from eventhub_to_timescale_spark.operators.embeddings import (
        random_projection_oracle_sql,
    )

    inner = random_projection_oracle_sql()
    return f"""
WITH base AS ({inner})
SELECT vec_id,
       CAST(unnest(range(len(proj))) AS INT) AS component_idx,
       CAST(unnest(proj) AS DOUBLE) AS value
FROM base
"""


def _mad_oracle() -> str:
    from eventhub_to_timescale_spark.operators.anomaly import (
        mad_outliers_oracle_sql,
    )

    return mad_outliers_oracle_sql()


def _token_budget_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        token_budget_oracle_sql,
    )

    return token_budget_oracle_sql(budget=5000)


def _gopher_oracle() -> str:
    from eventhub_to_timescale_spark.operators.curation import (
        gopher_oracle_sql,
    )
    from eventhub_to_timescale_spark.operators.text import STOPWORDS

    return gopher_oracle_sql(stopwords=STOPWORDS)


def _funnel_oracle() -> str:
    from eventhub_to_timescale_spark.operators.funnel import (
        funnel_oracle_sql,
    )

    return funnel_oracle_sql(["view", "click", "purchase"])


def _cohort_retention_oracle() -> str:
    from eventhub_to_timescale_spark.operators.retention import (
        cohort_retention_oracle_sql,
    )

    return cohort_retention_oracle_sql("user_id", "ts", 86400)


def _sessionize_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sessions import (
        sessionize_oracle_sql,
    )

    return sessionize_oracle_sql(1800)


def _sessionize_native_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sessions import (
        sessionize_native_oracle_sql,
    )

    return sessionize_native_oracle_sql(1800)


def _unigram_lm_oracle() -> str:
    from eventhub_to_timescale_spark.operators.text import (
        unigram_lm_oracle_sql,
    )

    return unigram_lm_oracle_sql(1000)


def _ivf_oracle_entry(oc) -> dict[str, str]:
    path = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        + "/embeddings.parquet"
    )
    try:
        return {"sim_ivf_topk": oc.sim_ivf_oracle(path, 8, 5, 16, 4)}
    except Exception as e:
        # same loud-degradation rule as _dedup_semantic_default_oracles
        print(
            f"WARNING: sim_ivf_topk oracle dropped (rows-only gate): "
            f"{e!r} (path={path})",
            file=sys.stderr,
        )
        return {}



def _sampling_oracles():
    from eventhub_to_timescale_spark.operators.sampling import (
        sampling_oracle_predicate,
        stratified_oracle_predicate,
    )

    docs_pred = sampling_oracle_predicate("doc_id", 0.25, salt="corpus-v1")
    strat_pred = stratified_oracle_predicate(
        "event_id", "event_type", STRATIFIED_FRACTIONS, salt="strat-v1"
    )
    split_pred = sampling_oracle_predicate("doc_id", 0.1, salt="split-v1")
    return (
        f"SELECT doc_id, lang, source FROM documents WHERE {docs_pred}",
        f"SELECT event_id, event_type FROM events WHERE {strat_pred}",
        "SELECT CASE WHEN " + split_pred
        + " THEN 'test' ELSE 'train' END AS split, COUNT(*) AS n_docs "
        + "FROM documents GROUP BY 1",
    )


_SAMPLE_DOCS_ORACLE, _SAMPLE_STRAT_ORACLE, _SAMPLE_SPLIT_ORACLE = (
    _sampling_oracles()
)


_QUALITY_PCT_ORACLE = None  # bound below, after oracles import


_VOCAB_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)) AS token
  FROM documents
), per_doc AS (
  SELECT token, doc_id, COUNT(*) AS tf_doc FROM toks GROUP BY 1, 2
)
SELECT token,
       CAST(SUM(tf_doc) AS BIGINT) AS term_freq,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       ROUND(LN(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0)),
             6) AS idf
FROM per_doc GROUP BY token
ORDER BY term_freq DESC, token LIMIT 200
"""


_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS pack_group,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
              AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, pack_group, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS cum_before
  FROM toks
)
SELECT doc_id, pack_group,
       CAST(floor(cum_before / 512) AS BIGINT) AS bin_id,
       n_tokens,
       CAST(cum_before % 512 AS BIGINT) AS bin_start_offset
FROM packed
"""


_ASOF_ORACLE = """
WITH cond AS (
  SELECT 'user_' || CAST(user_id AS VARCHAR) AS subj, ts,
         MAX(value) AS v
  -- value IS NOT NULL keeps both engines on the same "latest NON-NULL
  -- measurement" contract: without it an all-NULL (subj, ts) group
  -- would produce a row DuckDB's ASOF JOIN matches (asof_value NULL)
  -- while the Spark side carries the previous non-null reading
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), probes AS (
  SELECT event_id AS probe_id,
         'user_' || CAST(user_id AS VARCHAR) AS measurement_subject,
         ts + INTERVAL 30 SECOND AS probe_time
  FROM events WHERE event_id % 20 = 0
)
SELECT p.probe_id, p.measurement_subject, p.probe_time,
       c.ts AS asof_time, c.v AS asof_value
FROM probes p
ASOF LEFT JOIN cond c
  ON p.measurement_subject = c.subj AND p.probe_time >= c.ts
"""


_RANGE_ORACLE = """
WITH iv AS (
  SELECT event_id AS interval_id,
         'user_' || CAST(user_id AS VARCHAR) AS measurement_subject,
         ts AS s,
         ts + to_minutes(1 + event_id % 5) AS e
  FROM events
)
SELECT l.measurement_subject,
       l.interval_id AS l_id, r.interval_id AS r_id,
       greatest(l.s, r.s) AS overlap_start,
       least(l.e, r.e) AS overlap_end
FROM iv l JOIN iv r
  ON l.measurement_subject = r.measurement_subject
 AND l.s < r.e AND r.s < l.e
WHERE l.interval_id % 2 = 0 AND r.interval_id % 2 = 1
"""

def _attribution_oracle() -> str:
    from eventhub_to_timescale_spark.operators.attribution import (
        attribution_oracle_sql,
    )

    return attribution_oracle_sql()


def _skew_profile_oracle() -> str:
    from eventhub_to_timescale_spark.operators.skewprof import (
        skew_profile_oracle_sql,
    )

    return skew_profile_oracle_sql()


def _basket_pmi_oracle() -> str:
    from eventhub_to_timescale_spark.operators.basket import (
        basket_pmi_oracle_sql,
    )

    return basket_pmi_oracle_sql()


def _cube_oracle() -> str:
    from eventhub_to_timescale_spark.operators.cube import cube_oracle_sql

    return cube_oracle_sql()


def _xcorr_oracle() -> str:
    from eventhub_to_timescale_spark.operators.xcorr import (
        xcorr_oracle_sql,
    )

    return xcorr_oracle_sql()


def _winsorize_oracle() -> str:
    from eventhub_to_timescale_spark.operators.winsorize import (
        winsorize_oracle_sql,
    )

    return winsorize_oracle_sql()


def _phash_keep_oracle() -> str:
    from eventhub_to_timescale_spark.operators.multimodal import (
        phash_keep_oracle_sql,
    )

    return phash_keep_oracle_sql(max_distance=3)


def _phash_neardup_oracle() -> str:
    from eventhub_to_timescale_spark.operators.multimodal import (
        phash_neardup_oracle_sql,
    )

    return phash_neardup_oracle_sql(max_distance=3)


def _range_partition_oracle() -> str:
    from eventhub_to_timescale_spark.operators.layout import (
        range_partition_profile_oracle_sql,
    )

    return range_partition_profile_oracle_sql()


def _cv_fold_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sampling import (
        cv_fold_oracle_sql,
    )

    return cv_fold_oracle_sql()


def _markov_oracle() -> str:
    from eventhub_to_timescale_spark.operators.markov import (
        markov_oracle_sql,
    )

    return markov_oracle_sql()


def _interarrival_oracle() -> str:
    from eventhub_to_timescale_spark.operators.markov import (
        interarrival_oracle_sql,
    )

    return interarrival_oracle_sql()


def _cusum_oracle() -> str:
    from eventhub_to_timescale_spark.operators.changepoint import (
        cusum_alarms_oracle_sql,
    )

    return cusum_alarms_oracle_sql()


def _cdc_oracle() -> str:
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        cdc_shared_chunks_oracle_sql,
    )

    # same doc_id < 500 bound as the Spark wrapper (r13 ask #5)
    return cdc_shared_chunks_oracle_sql(
        table="(SELECT * FROM documents WHERE doc_id < 500)"
    )


def _bloom_probe_oracle() -> str:
    from eventhub_to_timescale_spark.operators.bloom import (
        bloom_probe_oracle_sql,
    )

    srcs = ", ".join(f"'{s}'" for s in _BLOOM_REF_SOURCES)
    return bloom_probe_oracle_sql(
        f"SELECT md5(text) AS key FROM documents "
        f"WHERE text IS NOT NULL AND source IN ({srcs})",
        "SELECT md5(text) AS key FROM documents WHERE text IS NOT NULL",
        m=_BLOOM_M,
    )


def _join_size_oracle() -> str:
    from eventhub_to_timescale_spark.operators.sketches import (
        cms_join_size_oracle_sql,
    )

    ev = "SELECT user_id FROM events"
    return cms_join_size_oracle_sql(ev, ev)


def _quantile_bands_oracle() -> str:
    from eventhub_to_timescale_spark.operators.quantband import (
        quantile_bands_oracle_sql,
    )

    return quantile_bands_oracle_sql()


def _quantile_bands_gk_oracle() -> str:
    """The GK twin SHARES the exact form's oracle: in GK's exact
    regime (every cell ≤ accuracy rows at oracle scale) both return
    the ceil(q·n)-th order statistics — see quantband.py and
    tests/test_quantband.py's convention probe."""
    from eventhub_to_timescale_spark.operators.quantband import (
        quantile_bands_oracle_sql,
    )

    return quantile_bands_oracle_sql()


def _join_profile_oracle() -> str:
    from eventhub_to_timescale_spark.operators.joinplan import (
        join_size_profile_oracle_sql,
    )

    return join_size_profile_oracle_sql(
        "SELECT user_id FROM events",
        "SELECT o_custkey FROM orders",
        "user_id",
        "o_custkey",
    )


def _rrf_fusion_oracle() -> str:
    from eventhub_to_timescale_spark.operators.fusion import (
        rrf_fuse_oracle_sql,
    )
    from eventhub_to_timescale_spark.operators.text import bm25_oracle_sql
    from eventhub_to_timescale_spark import oracles as oc

    lex = (
        "SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)"
        f" AS rank FROM ({bm25_oracle_sql(('spark', 'window', 'dup'), k=50)})"
    )
    dense = (
        "SELECT neighbor_id AS doc_id, rank FROM "
        f"({oc.sim_topk_oracle(4, 50)}) WHERE query_id = 3"
    )
    return rrf_fuse_oracle_sql([lex, dense])


def _bloom_stream_twin_oracle() -> str:
    from eventhub_to_timescale_spark.operators.bloom import (
        bloom_seen_oracle_sql,
    )

    return bloom_seen_oracle_sql(m=_BLOOM_M)


def _cdc_gear_oracle() -> str:
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        gear_shared_chunks_oracle_sql,
    )

    return gear_shared_chunks_oracle_sql()


def _cdc_twin_oracle() -> str:
    from eventhub_to_timescale_spark.operators.cdcchunk import (
        cdc_dup_verdicts_oracle_sql,
    )

    return cdc_dup_verdicts_oracle_sql()


def oracle_sql() -> dict[str, str]:
    from eventhub_to_timescale_spark import oracles as oc

    quality_pct = oc.quality_percentile_oracle(0.6)
    from eventhub_to_timescale_spark.sources.synth import (
        BMW_ORACLE,
        DYNAMIC_ORACLE,
        EMON_ORACLE,
        GLOW_ORACLE,
        HOMIE_ORACLE,
        RECORDS_STRICT_ORACLE,
    )
    from eventhub_to_timescale_spark.sources.testdata import (
        EVENTS_AS_CONDITIONS_ORACLE,
    )

    cond = f"({EVENTS_AS_CONDITIONS_ORACLE})"
    bucket = (
        "make_timestamp(CAST(floor(epoch(timestamp) / {w}) * {w} AS BIGINT) * 1000000)"
    )
    in_range = f"timestamp BETWEEN {_SQL_START} AND {_SQL_END}"

    # gapfill: dense 6-h grid over [START, END); obs rounded to 6dp
    # BEFORE interpolation (same order as the Spark side)
    gapfill_obs = f"""
  SELECT {bucket.format(w=21600)} AS time,
         ROUND(AVG(measurement_number), 6) AS obs
  FROM {cond} c
  WHERE measurement_subject = 'user_7' AND measurement_of = 'value'
    AND {in_range} AND measurement_number IS NOT NULL
  GROUP BY 1
"""
    gapfill_grid = (
        "SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 21600 SECOND, "
        "INTERVAL 21600 SECOND)) AS time"
    )
    gapfill_locf_sql = f"""
WITH grid AS ({gapfill_grid}), obs AS ({gapfill_obs})
SELECT g.time,
       last_value(o.obs IGNORE NULLS) OVER (ORDER BY g.time
         ROWS UNBOUNDED PRECEDING) AS value
FROM grid g LEFT JOIN obs o ON o.time = g.time
ORDER BY g.time
"""
    gapfill_linear_sql = f"""
WITH grid AS ({gapfill_grid}), obs AS ({gapfill_obs}), j AS (
  SELECT g.time, o.obs,
         last_value(o.obs IGNORE NULLS) OVER w_back AS prev_v,
         first_value(o.obs IGNORE NULLS) OVER w_fwd AS next_v,
         last_value(CASE WHEN o.obs IS NOT NULL THEN g.time END IGNORE NULLS)
           OVER w_back AS prev_t,
         first_value(CASE WHEN o.obs IS NOT NULL THEN g.time END IGNORE NULLS)
           OVER w_fwd AS next_t
  FROM grid g LEFT JOIN obs o ON o.time = g.time
  WINDOW w_back AS (ORDER BY g.time ROWS UNBOUNDED PRECEDING),
         w_fwd AS (ORDER BY g.time
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT time,
       ROUND(CASE WHEN obs IS NOT NULL THEN obs
                  ELSE prev_v + (next_v - prev_v)
                       * (epoch_us(time) - epoch_us(prev_t))
                       / (epoch_us(next_t) - epoch_us(prev_t))
             END, 6) AS value
FROM j ORDER BY time
"""

    q1 = f"""
SELECT {bucket.format(w=21600)} AS time,
       ROUND(AVG(measurement_number), 6) AS avg_value
FROM {cond} c
WHERE measurement_subject = 'user_7' AND measurement_of = 'value' AND {in_range}
GROUP BY 1 ORDER BY 1
"""
    # Q2: bucket = span / max_result_size = 2592000/200 = 12960 s
    q2 = f"""
SELECT {bucket.format(w=12960)} AS time,
       ROUND(AVG(measurement_number), 6) AS avg_value
FROM {cond} c
WHERE measurement_subject = 'user_3' AND measurement_of = 'value' AND {in_range}
GROUP BY 1 ORDER BY 1 LIMIT 200
"""
    q3_daily = f"""
SELECT CAST(date_trunc('day', timestamp) AS TIMESTAMP) AS time,
       MAX(measurement_number) AS max_value
FROM {cond} c
WHERE measurement_subject = 'user_3' AND measurement_of = 'value' AND {in_range}
GROUP BY 1 ORDER BY 1
"""
    # intraday: span = 86400 s (not > 1 day) → buckets = least(360, 96) = 96
    # → width 900 s, anchored at day start (== epoch-floor since 900 | 86400)
    q3_intraday = f"""
SELECT date_trunc('day', timestamp)
         + to_microseconds(CAST(floor(
             epoch(timestamp - date_trunc('day', timestamp)) / 900) * 900 AS BIGINT) * 1000000)
       AS time,
       ROUND(AVG(measurement_number), 6) AS avg_value
FROM {cond} c
WHERE measurement_subject = 'user_3' AND measurement_of = 'value'
  AND timestamp BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-06 00:00:00'
GROUP BY 1 ORDER BY 1
"""
    # Q4: per-subject slice is ~60 rows at every sf (users scale with
    # sf, per-user density doesn't) ⇒ count ≤ 360 ⇒ bucket = 60 s;
    # deterministic mode (ties → smallest value). Reference parity:
    # the slice keeps NULL strings (they're counted in phase 1 and a
    # bucket of only-NULLs emits a NULL mode); NULL groups rank last.
    q4 = f"""
WITH sliced AS (
  SELECT {bucket.format(w=60)} AS time, measurement_string
  FROM {cond} c
  WHERE measurement_subject = 'user_5' AND measurement_of = 'event_type'
    AND {in_range}
), counted AS (
  SELECT time, measurement_string, COUNT(*) AS cnt
  FROM sliced GROUP BY 1, 2
)
SELECT time, measurement_string AS most_common_value
FROM counted
QUALIFY row_number() OVER (PARTITION BY time
  ORDER BY (measurement_string IS NULL) ASC, cnt DESC, measurement_string ASC) = 1
ORDER BY time
"""
    # Q5: bucket = span/360 = 7200 s; semantics pinned in
    # operators/timeweight.py and mirrored here exactly.
    q5_base = f"""
WITH pts AS (
  SELECT {bucket.format(w=7200)} AS dt,
         epoch(timestamp) AS t,
         measurement_number AS v,
         measurement_unique_id AS uid
  FROM {cond} c
  WHERE measurement_subject = 'user_7' AND measurement_of = 'value'
    AND measurement_number IS NOT NULL AND {in_range}
), win AS (
  SELECT dt, t, v,
         lead(t) OVER (PARTITION BY dt ORDER BY t, uid) AS next_t,
         lead(v) OVER (PARTITION BY dt ORDER BY t, uid) AS next_v
  FROM pts
)
"""
    q5_locf = (
        q5_base
        + """
SELECT dt,
       ROUND(SUM(v * (COALESCE(next_t, epoch(dt) + 7200) - t))
             / SUM(COALESCE(next_t, epoch(dt) + 7200) - t), 6) AS time_weighted_value
FROM win GROUP BY dt ORDER BY dt
"""
    )
    q5_linear = (
        q5_base
        + """
SELECT dt,
       ROUND(CASE WHEN MAX(t) > MIN(t)
              THEN SUM(CASE WHEN next_t IS NOT NULL
                            THEN (v + next_v) / 2 * (next_t - t) END)
                   / (MAX(t) - MIN(t))
              ELSE MIN(v ORDER BY t) END, 6) AS time_weighted_value
FROM win GROUP BY dt ORDER BY dt
"""
    )
    # Q6 fallback: grid = span/360 = 7200 s buckets, centered ±2 moving avg
    q6_moving = f"""
WITH grid AS (
  SELECT {bucket.format(w=7200)} AS time, AVG(measurement_number) AS value
  FROM {cond} c
  WHERE measurement_subject = 'user_7' AND measurement_of = 'value'
    AND measurement_number IS NOT NULL AND {in_range}
  GROUP BY 1
)
SELECT time,
       ROUND(AVG(value) OVER (ORDER BY time
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
         AS smoothed_value
FROM grid ORDER BY time
"""
    q1_all = f"""
SELECT measurement_subject,
       {bucket.format(w=21600)} AS time,
       ROUND(AVG(measurement_number), 6) AS avg_value
FROM {cond} c
WHERE measurement_of = 'value' AND {in_range}
GROUP BY 1, 2 ORDER BY 1, 2
"""
    q7 = f"""
SELECT DISTINCT measurement_subject
FROM {cond} c
WHERE measurement_of = 'event_type' AND {in_range}
ORDER BY measurement_subject
"""
    q8 = f"""
WITH sliced AS (
  SELECT timestamp, measurement_subject, measurement_of, measurement_string,
         measurement_unique_id
  FROM {cond} c
  WHERE measurement_of = 'event_type' AND {in_range}
), lagged AS (
  SELECT *,
         lag(measurement_string) OVER w AS prev_value
  FROM sliced
  WINDOW w AS (PARTITION BY measurement_subject
               ORDER BY timestamp, measurement_unique_id)
)
SELECT timestamp, measurement_subject, measurement_of,
       measurement_string AS value
FROM lagged
WHERE measurement_string IS DISTINCT FROM prev_value
ORDER BY measurement_subject, timestamp
"""
    q9 = f"""
WITH sliced AS (
  SELECT timestamp, measurement_subject, measurement_string,
         measurement_unique_id
  FROM {cond} c
  WHERE measurement_of = 'event_type' AND {in_range}
), lagged AS (
  SELECT *,
         lag(measurement_string) OVER w AS prev_value
  FROM sliced
  WINDOW w AS (PARTITION BY measurement_subject
               ORDER BY timestamp, measurement_unique_id)
), changes AS (
  SELECT timestamp, measurement_subject, measurement_string AS value,
         measurement_unique_id
  FROM lagged
  WHERE measurement_string IS DISTINCT FROM prev_value
)
SELECT timestamp AS time,
       COALESCE(lead(timestamp) OVER (PARTITION BY measurement_subject
                                      ORDER BY timestamp, measurement_unique_id),
                {_SQL_END}) AS time_end,
       measurement_subject,
       value
FROM changes
ORDER BY measurement_subject, time
"""
    router = """
WITH glow AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'electricitymeter' ELSE 'gasmeter' END AS subj,
         event_id
  FROM events
), glow_counts AS (
  SELECT 'glow' AS measurement_publisher, m_of AS measurement_of, COUNT(*) AS n_records
  FROM (
    SELECT subj, 'import_cumulative' AS m_of FROM glow
    UNION ALL SELECT subj, 'import_day' FROM glow
    UNION ALL SELECT subj, 'import_unitrate' FROM glow
    UNION ALL SELECT subj, 'import_standingcharge' FROM glow
    UNION ALL SELECT subj, 'power_value' FROM glow WHERE subj = 'electricitymeter'
  ) g GROUP BY 2
), homie_counts AS (
  SELECT 'homie', CASE event_type
           WHEN 'click' THEN 'measure-temperature'
           WHEN 'view' THEN 'heating-setpoint'
           WHEN 'purchase' THEN 'thermostat-setpoint'
           WHEN 'signup' THEN 'mode'
           WHEN 'error' THEN 'state'
         END, COUNT(*)
  FROM events GROUP BY 2
), emon_counts AS (
  SELECT 'emon', m_of, COUNT(*)
  FROM (
    SELECT 'P1' AS m_of FROM events
    UNION ALL SELECT 'vrms' FROM events
    UNION ALL SELECT 'label' FROM events
  ) e GROUP BY 2
)
SELECT * FROM glow_counts
UNION ALL SELECT * FROM homie_counts
UNION ALL SELECT * FROM emon_counts
ORDER BY measurement_publisher, measurement_of
"""
    # rollup_upsert merged output == one-pass rollup over ALL rows
    # (the additivity invariant, checked cross-engine)
    rollup_upsert_value = f"""
SELECT measurement_subject,
       'value' AS measurement_of,
       {bucket.format(w=21600)} AS bucket_time,
       COUNT(measurement_number) AS n,
       ROUND(SUM(measurement_number), 6) AS sum_value,
       MIN(measurement_number) AS min_value,
       MAX(measurement_number) AS max_value
FROM {cond} c
WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY 1, 3
"""

    return {
        "q1_bucket_avg": q1,
        "q2_resolution_avg": q2,
        "q3_daily_max": q3_daily,
        "q3_intraday_avg": q3_intraday,
        "q4_mode_adaptive": q4,
        "q5_timeweight_locf": q5_locf,
        "q5_timeweight_linear": q5_linear,
        # LTTB pick sequence = recursive CTE; ASAP window search = plain
        # SQL over the same 6dp-pre-rounded grid the Spark side selects
        # from. bucket widths: span/(res×4) → 27000 s (lttb), 40500 s
        # (asap). Contract params pinned in _q6_lttb/_q6_asap above.
        "q6_asap_smooth": oc.asap_oracle(
            cond, "user_8", bucket.format(w=40500), in_range, 16
        ),
        "q6_lttb_downsample": oc.lttb_oracle(
            cond, "user_7", bucket.format(w=27000), in_range, 24
        ),
        "q6_moving_avg": q6_moving,
        "q7_unique_subjects": q7,
        "q8_changed_rows": q8,
        "q9_state_intervals": q9,
        "asof_probe_value": _ASOF_ORACLE,
        "range_overlap_join": _RANGE_ORACLE,
        "gapfill_locf": gapfill_locf_sql,
        "gapfill_linear": gapfill_linear_sql,
        # cascade shares q3_daily's oracle: hourly→daily rollup must
        # equal the raw daily scan (additivity of max)
        "q3_daily_from_cascade": q3_daily,
        "ingest_events_unpivot": EVENTS_AS_CONDITIONS_ORACLE,
        "ingest_glow": GLOW_ORACLE,
        "ingest_homie": HOMIE_ORACLE,
        "ingest_emon": EMON_ORACLE,
        "ingest_bmw": BMW_ORACLE,
        "ingest_dynamic": DYNAMIC_ORACLE,
        "ingest_records_strict": RECORDS_STRICT_ORACLE,
        "ingest_router_union": router,
        "dedup_exact": oc.dedup_exact_oracle(),
        "dedup_minhash_lsh": oc.dedup_minhash_oracle(12, 6, 0.5),
        "dedup_components": oc.dedup_components_oracle(12, 6, 0.5),
        "dedup_components_keep": oc.dedup_components_keep_oracle(12, 6, 0.5),
        "dedup_simhash": oc.dedup_simhash_oracle(3),
        "dedup_ngram_jaccard": oc.dedup_ngram_oracle(5, 0.3, 100),
        "dedup_embedding_cosine": oc.embedding_neardup_oracle(0.3, 8, 64),
        "sim_cosine_topk": oc.sim_topk_oracle(8, 5),
        "sim_ann_lsh": oc.sim_ann_lsh_oracle(8, 5, 8, 64, probe_hamming=2),
        # the driver's correctness gate runs at sf0.01; the env override
        # lets scripts/check_parity.py point the centroid trainer at the
        # sf dir it's checking (centroids are data-dependent literals)
        # data-dependent (k-means centroid literals recomputed from the
        # same parquet); guarded so a missing file on a foreign machine
        # degrades sim_ivf_topk to the rows-only check instead of
        # breaking EVERY oracle in this dict
        **_ivf_oracle_entry(oc),
        **_dedup_semantic_default_oracles(),
        "text_language_id": oc.text_langid_oracle(),
        "text_quality_score": oc.text_quality_oracle(),
        "text_token_stats": oc.text_tokens_oracle(),
        "text_fingerprint": oc.text_fingerprint_oracle(8),
        "pipeline_clean_corpus": oc.clean_corpus_oracle(0.5),
        "text_vocab_topk": _VOCAB_ORACLE,
        "text_quality_percentile": quality_pct,
        "text_quality_sample_cut": oc.quality_sample_threshold_oracle(
            0.6, 0.5
        ),
        "pack_documents": _PACK_ORACLE,
        "sample_docs_fraction": _SAMPLE_DOCS_ORACLE,
        "sample_events_stratified": _SAMPLE_STRAT_ORACLE,
        "mm_blob_features": oc.mm_blob_oracle(),
        "mm_frame_sample": oc.mm_frame_oracle(4),
        "mm_resize": oc.mm_resize_oracle(16, 12),
        # salted/rollup rewrites share the oracles of the entries their
        # property tests prove them identical to
        "q1_all_subjects": q1_all,
        "dedup_stream_neardup_twin": oc.dedup_verdicts_oracle(12, 6, 0.5),
        "events_cusum_alarms": _cusum_oracle(),
        "dedup_cdc_chunks": _cdc_oracle(),
        "dedup_cdc_gear": _cdc_gear_oracle(),
        "sketch_bloom_probe": _bloom_probe_oracle(),
        "events_quantile_bands": _quantile_bands_oracle(),
        "sketch_join_size": _join_size_oracle(),
        "events_quantile_bands_gk": _quantile_bands_gk_oracle(),
        "sketch_bloom_stream_twin": _bloom_stream_twin_oracle(),
        "sketch_join_profile": _join_profile_oracle(),
        "sim_rrf_fusion": _rrf_fusion_oracle(),
        "dedup_stream_cdc_twin": _cdc_twin_oracle(),
        "events_markov_transitions": _markov_oracle(),
        "events_interarrival": _interarrival_oracle(),
        "layout_range_partition": _range_partition_oracle(),
        "sample_cv_folds": _cv_fold_oracle(),
        "mm_phash_neardup": _phash_neardup_oracle(),
        "events_winsorize": _winsorize_oracle(),
        "events_xcorr": _xcorr_oracle(),
        "events_cube_counts": _cube_oracle(),
        "mm_phash_keep": _phash_keep_oracle(),
        "events_basket_pmi": _basket_pmi_oracle(),
        "events_skew_profile": _skew_profile_oracle(),
        "events_attribution": _attribution_oracle(),
        "dedup_minhash_keep": oc.dedup_minhash_keep_oracle(12, 6, 0.5),
        "sample_split_counts": _SAMPLE_SPLIT_ORACLE,
        "q1_from_rollup": q1,
        "q8_changed_rows_salted": q8,
        "q9_state_intervals_salted": q9,
        "asof_probe_value_salted": _ASOF_ORACLE,
        "curation_pii_redact": oc.curation_pii_oracle(),
        "curation_decontaminate": oc.curation_contamination_oracle(5, 97),
        "curation_repetition": oc.curation_repetition_oracle(3),
        # toolkit aggregates + training prep
        "toolkit_counter_delta": f"""
WITH samples AS (
  SELECT measurement_subject, timestamp, measurement_unique_id,
         measurement_number AS v,
         lag(measurement_number) OVER (
             PARTITION BY measurement_subject
             ORDER BY timestamp, measurement_unique_id) AS prev_v
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
)
SELECT measurement_subject, {bucket.format(w=21600)} AS time,
       ROUND(SUM(CASE WHEN prev_v IS NULL THEN 0
                      WHEN v >= prev_v THEN v - prev_v
                      ELSE v END), 6) AS counter_delta
FROM samples GROUP BY 1, 2
""",
        "toolkit_ohlc": f"""
WITH s AS (
  SELECT measurement_subject, {bucket.format(w=21600)} AS time,
         measurement_number AS v, timestamp, measurement_unique_id
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY measurement_subject, time
             ORDER BY timestamp, measurement_unique_id) AS ra,
         row_number() OVER (PARTITION BY measurement_subject, time
             ORDER BY timestamp DESC, measurement_unique_id DESC) AS rd
  FROM s
)
SELECT measurement_subject, time,
       MAX(CASE WHEN ra = 1 THEN v END) AS open,
       MAX(v) AS high, MIN(v) AS low,
       MAX(CASE WHEN rd = 1 THEN v END) AS close
FROM r GROUP BY 1, 2
""",
        "toolkit_trend_slope": f"""
WITH base AS (
  SELECT measurement_subject, {bucket.format(w=86400)} AS time,
         CAST(floor(epoch(timestamp)) AS BIGINT) % 86400 AS x,
         CAST(floor(measurement_number * 10000 + 0.5) AS BIGINT) AS y
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
),
agg AS (
  SELECT measurement_subject, time,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY 1, 2
),
fit AS (
  SELECT *,
         CASE WHEN CAST(n_samples AS DOUBLE) * sxx
                   - CAST(sx AS DOUBLE) * sx > 0
              THEN (CAST(n_samples AS DOUBLE) * sxy
                    - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n_samples AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx) / 10000.0
              END AS slope_raw
  FROM agg
)
SELECT measurement_subject, time, n_samples,
       ROUND(slope_raw, 6) + 0.0 AS slope,
       ROUND((CAST(sy AS DOUBLE) / 10000.0
              - slope_raw * CAST(sx AS DOUBLE)) / n_samples, 6) + 0.0
         AS intercept
FROM fit
""",
        "emb_normalize_quantize": """
WITH v AS (
  SELECT vec_id, len(embedding) AS dim,
         sqrt(list_sum(list_transform(
             embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             AS raw_norm,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings WHERE embedding IS NOT NULL
),
base AS (
  SELECT vec_id, CAST(dim AS INT) AS dim, ROUND(raw_norm, 6) AS norm,
         list_transform(vv, x -> CAST(round(127 * x / raw_norm) AS INT))
             AS q
  FROM v WHERE raw_norm > 0
)
SELECT vec_id, dim, norm,
       CAST(unnest(range(len(q))) AS INT) AS component_idx,
       unnest(q) AS q_code
FROM base
""",
        "doc_chunks": _chunking_oracle(),
        "corpus_shard_order": _shard_order_oracle(),
        "events_sessionize": _sessionize_oracle(),
        "events_sessionize_native": _sessionize_native_oracle(),
        "text_unigram_lm": _unigram_lm_oracle(),
        "toolkit_heartbeat": f"""
WITH beats AS (
  SELECT measurement_subject,
         CAST(floor(epoch(timestamp)) AS BIGINT) AS t,
         lead(CAST(floor(epoch(timestamp)) AS BIGINT)) OVER (
             PARTITION BY measurement_subject
             ORDER BY timestamp, measurement_unique_id) AS next_t
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
)
SELECT measurement_subject,
       CAST(COUNT(*) AS BIGINT) AS n_beats,
       CAST(SUM(CASE WHEN next_t IS NULL THEN 3600
                     ELSE LEAST(next_t - t, 3600) END) AS BIGINT)
           AS covered_s,
       CAST(MAX(t) + 3600 - MIN(t) AS BIGINT) AS span_s
FROM beats GROUP BY 1
""",
        # sketch concordance gates: the oracle computes the EXACT
        # answer and pins within_tolerance TRUE; the Spark side derives
        # the boolean from |sketch - exact|, so sketch drift outside
        # its error bound hash-mismatches (operators/sketches.py)
        "sketch_distinct": f"""
SELECT measurement_of,
       COUNT(DISTINCT measurement_subject) AS exact_distinct,
       TRUE AS within_tolerance
FROM {cond} c GROUP BY 1
""",
        "sketch_percentile": f"""
SELECT measurement_subject,
       ROUND(quantile_cont(measurement_number, 0.5), 6) AS exact_q,
       TRUE AS within_tolerance
FROM {cond} c
WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
GROUP BY 1
""",
        "sketch_histogram": f"""
WITH b AS (
  SELECT CAST(LEAST(GREATEST(floor(measurement_number / 5.0), 0), 19)
              AS INTEGER) AS bin
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
    AND NOT isnan(measurement_number)
)
SELECT bin, CAST(ROUND(bin * 5.0, 6) AS DOUBLE) AS bin_lo,
       COUNT(*) AS n
FROM b GROUP BY 1
""",
        "toolkit_gauge_delta": f"""
WITH s AS (
  SELECT measurement_subject, {bucket.format(w=21600)} AS time,
         measurement_number AS v, timestamp, measurement_unique_id
  FROM {cond} c
  WHERE measurement_of = 'value' AND measurement_number IS NOT NULL
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY measurement_subject, time
             ORDER BY timestamp, measurement_unique_id) AS ra,
         row_number() OVER (PARTITION BY measurement_subject, time
             ORDER BY timestamp DESC, measurement_unique_id DESC) AS rd
  FROM s
)
SELECT measurement_subject, time,
       ROUND(MAX(CASE WHEN rd = 1 THEN v END)
             - MAX(CASE WHEN ra = 1 THEN v END), 6) AS gauge_delta
FROM r GROUP BY 1, 2
""",
        # relational star-schema queries: money arithmetic in exact
        # integer cents / basis points so BIGINT sums are associative
        # and cross-engine identical (operators/relational.py)
        "rel_pricing_summary": """
WITH l AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_p,
         CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_p
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       ROUND(CAST(SUM(price_c) AS DOUBLE) / 100.0, 2) AS sum_base_price,
       ROUND(CAST(SUM(price_c * (100 - disc_p)) AS DOUBLE) / 1e4, 4)
           AS sum_disc_price,
       ROUND(CAST(SUM(price_c * (100 - disc_p) * (100 + tax_p)) AS DOUBLE)
             / 1e6, 6) AS sum_charge,
       ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(price_c) AS DOUBLE) / COUNT(*) / 100.0, 6)
           AS avg_price,
       ROUND(CAST(SUM(disc_p) AS DOUBLE) / COUNT(*) / 100.0, 6)
           AS avg_disc,
       COUNT(*) AS count_order
FROM l GROUP BY 1, 2
""",
        "rel_revenue_by_nation": """
SELECT n_name,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                  AS DOUBLE) / 1e4, 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
        "rel_top_orders": """
WITH agg AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
             AS rev_sum_u
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT o_orderkey, o_orderdate, o_orderpriority,
       ROUND(CAST(rev_sum_u AS DOUBLE) / 1e4, 4) AS revenue
FROM agg
ORDER BY rev_sum_u DESC, o_orderkey
LIMIT 10
""",
        "rel_returned_revenue": """
WITH agg AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
             AS rev_sum_u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1
)
SELECT c_custkey, c_name, n_name, c_acctbal,
       ROUND(CAST(rev_sum_u AS DOUBLE) / 1e4, 4) AS revenue
FROM agg
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
ORDER BY rev_sum_u DESC, c_custkey
LIMIT 20
""",
        "rel_large_orders": """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem
  GROUP BY 1
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "sample_source_quota": _source_quota_oracle(),
        "sample_docs_weighted": _weighted_oracle(),
        "events_live_intervals": _live_intervals_oracle(cond),
        "events_cohort_retention": _cohort_retention_oracle(),
        "events_funnel": _funnel_oracle(),
        "dedup_substr_windows": _substr_windows_oracle(),
        "dedup_substr_spans": _substr_spans_oracle(),
        "dedup_substr_clean": _substr_clean_oracle(),
        "rel_cheapest_supplier": _rel_cheapest_oracle(),
        "rel_priority_late": _rel_priority_late_oracle(),
        "rel_no_return_customers": _rel_no_return_oracle(),
        "rel_shipmode_priority": _rel_shipmode_oracle(),
        "rel_promo_share": _rel_promo_oracle(),
        "rel_supplier_variety": _rel_variety_oracle(),
        "rel_disjunctive_revenue": _rel_disjunctive_oracle(),
        "cluster_kmeans": _cluster_kmeans_oracle(),
        "cluster_balanced_sample": _cluster_balanced_oracle(),
        "sketch_hll_portable": _hll_portable_oracle(),
        # bounded witness fixture (r14 ask #1): cap matches the Spark
        # side's doc_id < 500 — identity at gate scale, sf1-sweepable
        "dedup_jaccard_prefix": oc.dedup_ngram_oracle(12, 0.8, 500),
        "text_quality_logit": _quality_logit_oracle(),
        "sketch_hll_union": _hll_union_oracle(),
        "text_bigrams_topk": _bigram_topk_oracle(),
        "text_bigram_lm": _bigram_lm_oracle(),
        "rel_cross_nation_volume": _rel_cross_nation_oracle(),
        "rel_order_distribution": _rel_order_dist_oracle(),
        "rel_top_supplier": _rel_top_supplier_oracle(),
        "rel_small_qty_revenue": _rel_small_qty_oracle(),
        "layout_zorder_profile": _layout_zorder_oracle(),
        "rollup_upsert_value": rollup_upsert_value,
        "events_trending_topk": _trending_oracle(),
        "rel_forecast_revenue": _rel_ext_oracle("q6"),
        "rel_market_share": _rel_ext_oracle("q8"),
        "rel_nation_profit": _rel_ext_oracle("q9"),
        "rel_important_parts": _rel_ext_oracle("q11"),
        "rel_dominant_suppliers": _rel_ext_oracle("q20"),
        "rel_idle_customers": _rel_ext_oracle("q22"),
        "sketch_cms_counts": _cms_oracle(),
        "sketch_kmv_overlap": _kmv_overlap_oracle(),
        "curation_normalize": _normalize_oracle(),
        "dedup_exact_normalized": _exact_normalized_oracle(),
        "dedup_semantic_keep": _dedup_semantic_oracle(),
        "text_bm25_topk": _bm25_oracle(),
        "sample_dsir_topn": _dsir_oracle(),
        "curation_gopher_quality": _gopher_oracle(),
        "sample_token_budget": _token_budget_oracle(),
        "events_anomaly_mad": _mad_oracle(),
        "emb_random_projection": _random_projection_oracle(),
        "dedup_winnowing": _winnowing_oracle(),
        "text_tfidf_topk": _tfidf_oracle(),
        "dedup_winnow_keep": _winnow_keep_oracle(),
        "events_seasonal_decompose": _seasonal_oracle(),
        "sketch_heavy_hitters": _heavy_hitters_oracle(),
        "events_seasonal_anomaly": _seasonal_anomaly_oracle(),
        "sample_leakage_split": _leakage_split_oracle(),
        "events_phase_outliers": _phase_outliers_oracle(),
        "dedup_graph_triangles": _graph_triangles_oracle(),
        "dedup_edit_distance": _edit_distance_oracle(),
        "sketch_hll_rolling": _hll_rolling_oracle(),
        "dedup_evidence_report": _dedup_evidence_oracle(),
        **_pca_oracle_entry(),
        "sample_temperature_mix": _temperature_mix_oracle(),
        "dedup_pagerank": oc.pagerank_oracle(12, 6, 0.5, iters=3),
        "text_word_entropy": _word_entropy_oracle(),
        "dedup_cross_source": oc.cross_source_oracle(12, 6, 0.5),
        "rel_revenue_rollup": _revenue_rollup_oracle(),
        "events_journey_trigrams": _journey_ngrams_oracle(),
        "dedup_corpus_diff": oc.corpus_diff_oracle(),
        "pipeline_dedup_full": _pipeline_dedup_oracle(),
        "pipeline_curation_full": _pipeline_curation_oracle(),
        "pipeline_curation_report": _curation_report_oracle(),
        "dedup_minhash_autoband": _minhash_autoband_oracle(),
        "text_bpe_merges": _bpe_merges_oracle(),
        "text_bpe_token_count": _bpe_token_count_oracle(),
        "docs_global_enumerate": """
SELECT doc_id, source,
       row_number() OVER (ORDER BY doc_id) - 1 AS global_pos
FROM documents ORDER BY global_pos
""",
        "docs_wfq_interleave": """
WITH idx AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
           AS src_index,
         1 + CAST(substring(source, 4) AS BIGINT) % 4 AS w
  FROM documents
), vt AS (
  SELECT doc_id, source, src_index,
         (2 * src_index + 1) * (12 // w) AS vtime
  FROM idx
)
SELECT row_number() OVER (ORDER BY vtime, source, src_index) - 1
         AS global_pos,
       doc_id, source, src_index, vtime
FROM vt ORDER BY global_pos
""",
    }
