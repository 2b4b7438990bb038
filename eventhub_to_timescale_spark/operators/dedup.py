"""Deduplication operators for large-scale training-data pipelines.

Four strategies, all expressed as declarative DataFrame plans over a
``documents(doc_id, text, ...)`` table:

- **exact**: hash-groupBy on normalized text. One shuffle on a 32-hex
  key; at 100 TB this is the cheapest possible dedup (map-side partial
  aggregation collapses per-partition duplicates before the shuffle).
- **MinHash + LSH**: word-shingle → k minhashes → b bands → bucket
  self-join → exact Jaccard on candidates. The join key is the band
  signature, so the shuffle carries (band, doc) pairs — never the full
  cross product. Candidate volume is tunable via (k, b).
- **SimHash**: 32-bit sign-of-sum fingerprint; near-dup = Hamming ≤ t.
  Banded into 4 byte-blocks (pigeonhole: Hamming ≤ 3 ⇒ at least one
  identical block) so candidate generation is again an equi-join.
- **n-gram Jaccard**: exact character-5-gram Jaccard — the *oracle*
  baseline, brute-force over a bounded sample; its scale path IS the
  MinHash plan above.

Every hash is the md5-derived ``portable_hash32`` so the DuckDB oracle
reproduces identical signatures (see functions/scalars.py).

All signature computation is per-row JVM expression work (no UDF, no
shuffle); only candidate generation shuffles, on band keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(text: Column) -> Column:
    return F.split(text, " ")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a space-tokenized text."""
    w = _words(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )


def char_shingles(text: Column, n: int = 5) -> Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


def _hash32(col: Column, seed: str) -> Column:
    # the ONE oracle-critical portable hash lives in functions.scalars
    from eventhub_to_timescale_spark.functions.scalars import portable_hash32

    return portable_hash32(col, seed)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (text_hash, n_docs, keep_id): one row per distinct text; the
    kept representative is the smallest doc_id (deterministic)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("text_hash")
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ the deduplicated document set (min-doc_id representative per
    distinct text)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    return docs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------



def doc_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """→ (doc_id, shingles, sig): ONE row per document with its
    shingle set and full MinHash signature — the pre-banding frame.
    Split out of ``banded_signatures`` in r15 so the persisted form
    of ``minhash_lsh_pairs`` can cache shingles ONCE per document
    instead of once per (document, band).  NULL texts are excluded
    (see ``minhash_lsh_pairs`` for why)."""
    sh = docs.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id"), word_shingles(F.col(text_col), shingle_n).alias("shingles")
    )

    def _seeded(seed: str):
        # MUST return a ONE-parameter lambda: pyspark binds a
        # two-parameter lambda in transform() as (element, INDEX) —
        # the infamous `lambda x, i=i:` capture idiom silently turns
        # the loop variable into the array-index NamedLambdaVariable,
        # whose repr gets baked into the seed string (wrong seeds,
        # unstable across plan builds; caught by the 10× parity sweep
        # in round 7, invisible at sf0.01 because 12 garbage-seeded
        # hashes are still 12 independent hashes and LSH recall hid it)
        return lambda x: _hash32(x, seed)

    return sh.select(
        "doc_id",
        "shingles",
        F.array(
            *[
                F.array_min(
                    F.transform(F.col("shingles"), _seeded(f"mh{i}:"))
                )
                for i in range(num_hashes)
            ]
        ).alias("sig"),
    )


def _explode_bands(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, shingles, sig) → (doc_id, shingles, band_id,
    band_key): the LSH band expansion — pure string work over the
    signature array, cheap to re-derive from a cached signature
    frame."""
    if num_hashes % bands != 0:
        # a bare assert vanishes under python -O and would silently
        # truncate the signature
        raise ValueError(f"num_hashes ({num_hashes}) must divide into bands ({bands})")
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        "shingles",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "shingles", "band.band_id", "band.band_key")


def banded_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
) -> DataFrame:
    """→ (doc_id, shingles, band_id, band_key): the LSH-banded MinHash
    signature frame — the candidate-generation key space shared by the
    batch self-join (``minhash_lsh_pairs``) and the streaming seen-set
    operator (``streaming/neardup.py``), built from ONE set of Spark
    expressions so the two paths band identically by construction.
    NULL texts are excluded (see ``minhash_lsh_pairs`` for why)."""
    return _explode_bands(
        doc_signatures(docs, text_col, num_hashes, shingle_n),
        num_hashes,
        bands,
    )


def choose_minhash_bands(
    num_hashes: int, jaccard_threshold: float
) -> tuple[int, int]:
    """→ (bands, rows_per_band): the banding whose LSH S-curve
    characteristic threshold best matches the target Jaccard — the
    standard rule (Leskovec, Rajaraman & Ullman, *Mining of Massive
    Datasets* §3.4.3): with b bands of r rows the candidate
    probability crosses 1/2 near t ≈ (1/b)^(1/r), so among the
    divisors b of ``num_hashes`` pick argmin |(1/b)^(1/r) − t|.
    Sizing the banding by hand is the same foot-gun class as the GK
    accuracy and window-salt widths this repo removed in r13/r14 —
    callers state the THRESHOLD they mean and the curve is solved for
    them.  Ties prefer MORE bands (higher recall at the threshold;
    false positives are killed by the exact-Jaccard verify stage
    anyway, false negatives are unrecoverable).  Pure driver-side
    arithmetic — both engines receive the same resolved banding, so
    the oracle surface is unchanged."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError(
            f"jaccard_threshold must be in (0, 1), got {jaccard_threshold}"
        )
    best: tuple[float, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        t = (1.0 / b) ** (1.0 / r)
        key = (abs(t - jaccard_threshold), -b)
        if best is None or key < best[0:2]:
            best = (key[0], key[1], b)
    assert best is not None
    b = best[2]
    return b, num_hashes // b


def minhash_autoband_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    persist_banded: bool = False,
) -> DataFrame:
    """``minhash_lsh_pairs`` with the banding solved from the
    threshold by ``choose_minhash_bands`` instead of passed by hand —
    same (doc_a, doc_b, jaccard) contract, same banded-equi-join
    plan, zero extra passes (the banding choice is driver
    arithmetic)."""
    bands, _ = choose_minhash_bands(num_hashes, jaccard_threshold)
    return minhash_lsh_pairs(
        docs,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        persist_banded=persist_banded,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    persist_banded: bool = False,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard): near-duplicate pairs with exact
    word-shingle Jaccard ≥ threshold, candidates from LSH banding.

    rows/band = num_hashes/bands; a pair is a candidate iff some band's
    sub-signature matches exactly. The band self-join is an equi-join
    on (band_id, band_key) — broadcast-able when the bucketed side is
    small, shuffle-partitioned otherwise; AQE handles skewed buckets.

    ``persist_banded=True`` caches the banded-signature frame so the
    self-join's two sides share ONE shingle+signature computation and
    one source scan instead of evaluating the lineage twice — the
    production setting (a 100 TB run would pick an explicit
    StorageLevel, e.g. DISK_ONLY, instead of the MEMORY_AND_DISK
    default). Results are identical either way; the caller owns
    ``unpersist`` if it cares about executor memory afterwards.
    """
    # shingles are materialized once inside the signature frame, then
    # the signature derives from the materialized column (avoids
    # re-computing the shingling per hash).  NULL texts are excluded
    # there: the slice/concat_ws path would shingle them as [''] —
    # identical to an empty document — and emit jaccard-1.0 pairs the
    # oracle (whose NULL band keys never join) doesn't produce.
    # r15: the persisted form caches the DOC-LEVEL (doc_id, shingles,
    # sig) frame — one shingle array per document — and re-derives the
    # band explosion lazily per consumer (cheap string work over the
    # cached sig).  Persisting the post-explosion frame stored every
    # shingle array ``bands`` times, and all four consumers (two
    # self-join sides + two attach slices) re-scanned those redundant
    # kilobytes per action (profiled: 4 concurrent ~450 ms cache-scan
    # jobs per warm count at sf0.1).
    if persist_banded:
        sigs = doc_signatures(
            docs,
            text_col=text_col,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
        ).persist()
        banded = _explode_bands(sigs, num_hashes, bands)
        sh_frame = sigs
    else:
        banded = banded_signatures(
            docs,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )
        sh_frame = banded.filter(F.col("band_id") == 0)

    # Decide with small rows, attach the payload once (guide §8; r15
    # profiling: the signature pass costs ~the scan, the old join tail
    # was ~80% of the operator).  The band self-join used to carry BOTH
    # sides' full shingle arrays — kilobytes per row, ×bands copies per
    # doc — through the join and the dropDuplicates exchange.  Now the
    # join and pair-dedup see only (doc_id, band_id, band_key); the
    # shingle arrays re-attach afterwards by doc_id — taken from the
    # banded frame's band 0 slice (one row per doc, no extra shuffle or
    # recompute under persist_banded).  The attach joins are left
    # UNHINTED on purpose: dedup pair graphs are sparse relative to
    # the corpus, so AQE broadcast-converts the pair side at runtime
    # (measured: forced shuffle-hash hints cost two extra exchanges
    # and nearly doubled the operator); when a dup-dense corpus makes
    # the pair set too big to broadcast, the session's
    # adaptive.maxShuffledHashJoinLocalMapThreshold converts the
    # sort-merge fallback to a shuffled-hash join at runtime, keeping
    # the never-sort-the-array-payload property test_plan_pins_r8
    # pins for jaccard_prefix_pairs.
    # The band self-join is UNHINTED (r15): it now carries only
    # (doc_id, band_id, band_key) — the r8-era shuffle_hash hint
    # guarded against sorting shingle-array payloads that no longer
    # flow through this join, and forcing SHJ cost two exchanges
    # where the planner/AQE can broadcast the narrow side (measured
    # 0.75 -> 0.45 s per warm count at sf0.1).  At corpus scale the
    # static plan falls back to sort-merge of narrow keys and the
    # session's adaptive.maxShuffledHashJoinLocalMapThreshold
    # converts it to a shuffled-hash join from real sizes at runtime.
    slim = banded.select("doc_id", "band_id", "band_key")
    a = slim.alias("a")
    b = slim.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = sh_frame.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = sh_frame.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = inter / union
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# Bits PER HALF.  The fingerprint is 64 bits, carried as two 32-bit
# longs (lo, hi) so neither engine ever touches the sign bit of a
# 64-bit integer (2^63 overflows BIGINT/long in both Spark and DuckDB).
SIMHASH_BITS = 32


def _simhash_half(hashes: Column) -> Column:
    """Sign-of-sum SimHash over an array of 32-bit word hashes: bit b
    is set iff the sum over words of ±1 (per word-hash bit b) is
    positive. Pure array expressions — stays in codegen, reproducible
    in the oracle via the same floor-div/mod bit extraction."""

    def contrib(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda bit: F.when(
                (F.floor(h / F.pow(F.lit(2.0), bit.cast("double"))).cast("long") % 2)
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, contrib(h), lambda x, y: x + y),
    )
    # bits → integer
    return F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda s, bit: F.when(
                s > 0, F.pow(F.lit(2.0), bit.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _word_md5s(text: Column) -> Column:
    """One md5 hex digest per word, materialized ONCE per word (inner
    transform) before bit expansion — inlining it under the per-bit
    lambda would evaluate md5 32× per word. Both 32-bit halves of the
    64-bit fingerprint slice this single digest (chars 1-8 / 9-16), so
    doubling the hash width costs zero extra md5 work."""
    return F.transform(
        _words(text), lambda word: F.md5(F.concat(F.lit("sh:"), word))
    )


def _hex32(digest: Column, start: int) -> Column:
    return F.conv(F.substring(digest, start, 8), 16, 10).cast("long")


def simhash(text: Column) -> Column:
    """Low 32-bit half of the 64-bit SimHash (bit-identical to the
    pre-r8 32-bit simhash; kept as the public single-long API)."""
    return _simhash_half(
        F.transform(_word_md5s(text), lambda h: _hex32(h, 1))
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash as ``struct(sh_lo long, sh_hi long)`` — two
    independent 32-bit sign-of-sum halves over disjoint slices of one
    md5 per word. Hamming distance of the 64-bit fingerprint is
    ``bit_count(lo⊕lo') + bit_count(hi⊕hi')``."""
    md5s = _word_md5s(text)
    return F.struct(
        _simhash_half(
            F.transform(md5s, lambda h: _hex32(h, 1))
        ).alias("sh_lo"),
        _simhash_half(
            F.transform(md5s, lambda h: _hex32(h, 9))
        ).alias("sh_hi"),
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    persist_banded: bool = False,
) -> DataFrame:
    """→ (doc_a, doc_b, hamming): pairs within Hamming distance
    ``max_hamming`` of their 64-bit SimHash. Candidates via 16-bit
    block banding: 4 blocks of 16 bits (lo half → blocks 0-1, hi half
    → blocks 2-3); pigeonhole guarantees recall only for distance < 4,
    hence the guard — a larger radius needs more/smaller blocks.
    NULL texts are excluded (see minhash_lsh_pairs).

    100 TB bucket math (why 64-bit, not 32): banding keys live in
    4 × 2^16 = 262 144 distinct (block_id, block_key) buckets, so the
    *unavoidable* candidate floor from hash-space collisions is
    Θ(N²/2¹⁸) — 256× smaller than the r7 32-bit/4×8-bit design's
    Θ(N²/2¹⁰), and small enough that true near-dup pairs, not bucket
    collisions, dominate candidate volume at corpus scale. A 64-bit
    fingerprint also makes Hamming ≤ 3 a far sharper similarity test
    (3/64 vs 3/32 of the bits).

    Candidate handling (r8): the Hamming filter runs INSIDE the
    banded join's projection — a codegen'd bit_count over the joined
    row, map-side — so only surviving pairs (≤4 copies each, one per
    agreeing block) reach the dropDuplicates exchange. On a skewed
    corpus where hot buckets make candidates >> results (template
    corpora: 47 M candidates → 200 k pairs at the 10× sweep), this is
    the difference between shuffling the candidate set and shuffling
    the result set. ``persist_banded=True`` caches the banded frame so
    the self-join's two sides share one signature computation (same
    contract as ``minhash_lsh_pairs``)."""
    if max_hamming >= 4:
        raise ValueError(
            f"max_hamming={max_hamming}: 4-block banding only guarantees "
            "recall for Hamming <= 3"
        )
    sig = docs.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id"), simhash64(F.col(text_col)).alias("sh")
    ).select("doc_id", "sh.sh_lo", "sh.sh_hi")

    def block_key(i: int) -> Column:
        src = F.col("sh_lo") if i < 2 else F.col("sh_hi")
        return (
            F.floor(src / F.lit(float(2 ** (16 * (i % 2))))).cast("long")
            % 65536
        )

    blocks = sig.select(
        "doc_id",
        "sh_lo",
        "sh_hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        block_key(i).alias("block_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "sh_lo", "sh_hi", "blk.block_id", "blk.block_key")
    if persist_banded:
        blocks = blocks.persist()
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = (
        F.bit_count(F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo")))
        + F.bit_count(F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi")))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # Hamming filter BEFORE the dedup exchange (see docstring)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (bounded-sample oracle baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    ngram: int = 5,
    threshold: float = 0.3,
    max_doc_id: int | None = 100,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard) by exact char-n-gram Jaccard.

    Brute-force all-pairs — O(n²) by construction, so callers bound the
    input (``max_doc_id``); this is the correctness baseline against
    which the MinHash plan's recall is judged. The 100 TB path is
    ``minhash_lsh_pairs``.
    """
    d = docs.filter(F.col(text_col).isNotNull())  # see minhash_lsh_pairs
    if max_doc_id is not None:
        d = d.filter(F.col("doc_id") < max_doc_id)
    g = d.select(
        F.col("doc_id"), char_shingles(F.col(text_col), ngram).alias("grams")
    )
    a, b = g.alias("a"), g.alias("b")
    jac = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))) / F.size(
        F.array_union(F.col("a.grams"), F.col("b.grams"))
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Survivor selection (near-dedup keep-first)
# ---------------------------------------------------------------------------


def near_dedup_filter(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-dedup survivor set: drop every document that has a
    near-duplicate with a smaller id (``pairs`` is any (doc_a, doc_b)
    frame with doc_a < doc_b — MinHash, SimHash or embedding pairs).

    This is the deterministic keep-first heuristic used on training
    corpora: one anti-join, no iteration. It is NOT full
    connected-components clustering — in a chain a–b–c the pair (b,c)
    still removes c even though b was itself removed; the result is a
    superset-of-clusters dedup, which is the conservative direction
    for dedup. At scale: a shuffle on the id key only (the pair list
    projects one column), broadcast-able when the duplicate set is
    small relative to the corpus.
    """
    dupes = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(dupes, on=id_col, how="left_anti")


def minhash_keep_first(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    persist: bool = False,
) -> DataFrame:
    """MinHash pair generation + keep-first survivor selection as ONE
    composed plan — the operator a corpus-dedup run actually ends with.

    ``persist=True`` is the production path: the source frame is
    cached so one scan of ``docs`` feeds both the pair subplan and the
    survivor anti-join, and the banded-signature frame is cached so
    the LSH self-join computes shingles + signatures once instead of
    twice.
    ``persist=False`` keeps the plan fully lazy/deterministic for
    oracle comparison. Output rows are identical either way.
    """
    if persist:
        docs = docs.persist()
    pairs = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        persist_banded=persist,
    )
    return near_dedup_filter(docs, pairs, id_col)


def minhash_dup_verdicts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """→ (doc_id, dup_of) for EVERY document: dup_of = the smallest
    earlier (lower-id) document that band-collides with this one at
    word-shingle Jaccard ≥ threshold, NULL ⇒ the document survives
    keep-first dedup. The survivor set {dup_of IS NULL} equals
    ``minhash_keep_first``'s output; the extra ``dup_of`` column is
    the evidence a curation run wants in its audit log.

    This is also the BATCH TWIN of the streaming MinHash-band
    seen-set operator (streaming/neardup.py): on a doc_id-ordered
    replay the streaming verdicts converge row-identically to this
    frame (tests/test_streaming_neardup.py), the same
    batch-convergence contract the other stateful operators pin.

    At scale: pairs come from the banded equi-join (never all-pairs);
    the verdict join is a left join of the corpus against the
    pair-graph-sized first-collision frame — broadcast-able whenever
    the duplicate set is small relative to the corpus.
    """
    pairs = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
    )
    firsts = (
        pairs.groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
        .withColumnRenamed("doc_b", id_col)
    )
    return (
        docs.select(id_col)
        .join(firsts, id_col, "left")
        .select(F.col(id_col).alias("doc_id"), "dup_of")
        .orderBy("doc_id")
    )


def near_dedup_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: → (doc_id, cluster_id)
    where cluster_id is the smallest doc_id reachable through the pair
    graph — full connected components, the exact semantics keep-first
    (`near_dedup_filter`) approximates.

    Iterative min-label propagation WITH path compression: each step
    first takes the minimum over neighbors' labels, then replaces each
    label by its label's label (pointer jumping), so convergence is
    O(log diameter) steps — a 2^20-long chain converges within the
    default ``max_iters``. Each step is two broadcast-able equi-joins
    + a groupBy over the PAIR graph only — corpus size never enters;
    the driver-side convergence check counts changed labels, an action
    over the (small) label frame, not the corpus. If ``max_iters`` is
    still exhausted without convergence a ``RuntimeWarning`` is issued
    rather than silently returning partial clusters.

    Action layout (r16, guide §2.4/§5 — the bench and any scheduler
    pay per ACTION here, so the loop is shaped to minimize them):

    - ``edges`` is materialized ONCE as a stage boundary before the
      loop. Without it every round's neighbor join re-ran the entire
      upstream PAIR subplan (the LSH band join, the winnowing pair
      join, ...) — k rounds meant k extra executions of the most
      expensive frame in the query.
    - each round applies TWO propagation steps before the boundary +
      convergence count, halving the number of checkpoint/count
      actions. Output is unchanged: labels are pointwise monotone
      non-increasing under a step (every update is a ``least`` with
      the current label), so step²(L) = L forces step(L) ≤ L and
      step²(L) ≤ step(L) ≤ L = step²(L), i.e. step(L) = L — the
      double-step loop exits at exactly the single-step fixpoint
      (component-minimum labels), never a 2-cycle.
    - the changed-label flag is computed INSIDE the checkpointed frame
      (one extra leaf-join against the previous round's labels), so
      the convergence check is a filter-count over the fresh boundary
      — two tiny leaf scans per round, not a re-plan of the join.
    """
    import warnings

    from eventhub_to_timescale_spark.operators.boundary import (
        stage_boundary as _boundary,
    )

    edges = _boundary(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )

    def _step(lbl: DataFrame) -> DataFrame:
        """One min-label propagation + pointer-jumping compression."""
        neighbor_min = (
            edges.join(
                lbl.withColumnRenamed("doc_id", "dst").withColumnRenamed(
                    "cluster_id", "nbr_label"
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        stepped = (
            lbl.join(neighbor_min, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # path compression (pointer jumping): label := label's label,
        # turning linear chains into logarithmic convergence
        parents = stepped.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("grand"),
        )
        return (
            stepped.join(parents, on="cluster_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("grand"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )

    converged = False
    for _ in range(max_iters):
        twice = _step(_step(labels))
        updated = _boundary(
            twice.join(
                labels.select(
                    "doc_id", F.col("cluster_id").alias("_prev")
                ),
                on="doc_id",
            ).select(
                "doc_id",
                "cluster_id",
                (F.col("cluster_id") != F.col("_prev")).alias("_chg"),
            )
        )
        changed = updated.filter(F.col("_chg")).count()
        labels = updated.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"near_dedup_components did not converge within {max_iters} "
            "rounds — cluster ids may be partial; raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_components_keep(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster-canonical survivor set: keep exactly ONE document per
    duplicate cluster (the smallest id) plus every unpaired document —
    the exact-clustering upgrade of ``near_dedup_filter``'s keep-first
    heuristic."""
    comps = near_dedup_components(pairs)
    drop = comps.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard join (the scalable exact path)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    ngram: int = 5,
    threshold: float = 0.5,
    persist_frames: bool = True,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard): EXACTLY the pairs
    ``ngram_jaccard_pairs`` returns — same sets, same threshold — but
    via PPJoin-style prefix filtering instead of the all-pairs cross
    join, so it runs on the FULL corpus (no ``max_doc_id`` bound).

    Prefix-filter principle (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin): order every document's gram set by ascending global
    document frequency (rarest first, ties by gram text); for Jaccard
    ≥ t, two sets MUST share at least one gram inside their first
    ``s − ⌈t·s⌉ + 1`` grams under any shared total order — so an
    equi-join on prefix grams generates a candidate superset, the
    length filter ``min(s_a,s_b) ≥ t·max(s_a,s_b)`` prunes impossible
    size ratios, and an exact array-intersection verify on the
    surviving candidates keeps precision at 1.  Recall is 1 by the
    pigeonhole bound, so output == brute force — which is what the
    oracle (the unbounded brute-force SQL) checks.

    100 TB posture: the df-ordering join shuffles (doc, gram) pairs
    once on the gram key (the same exchange the candidate join needs
    anyway); prefixes shrink the exploded frame by ~t; candidate
    volume concentrates in RARE grams by construction — the frequent
    grams that would explode a naive token join sit at the tail of
    every prefix order and never join.  Verification touches only
    candidate pairs.  The brute-force variant stays what it is
    documented as: a bounded oracle baseline.

    DISTRIBUTION CAVEAT — ``ngram`` is the entropy dial: prefix
    filtering is only sub-quadratic when the gram df distribution is
    heavy-tailed (real text is).  On a low-entropy corpus the gram
    vocabulary saturates (the synthetic word-soup corpus has ~2k
    distinct 5-grams across 5 000 docs; Σdf² ≈ 1.5e9 candidate floor)
    and NO candidate filter can help, because the sets genuinely
    collide.  Raising n restores entropy multiplicatively (n=12 →
    131k distinct grams, Σdf² down 13×, and the prefix's rarest-first
    selection then bites).  Pick n so that distinct-gram count ≫
    corpus size; the registered query uses n=12 for exactly this
    reason.

    ``persist_frames`` (default on) materializes the shingled frame
    and the prefix frame as STAGE BOUNDARIES (operators/boundary.py —
    session-selectable localCheckpoint/checkpoint/persist): the DAG
    references grams in SIX branches (df count, rank join, both
    candidate sides, both verify sides) and without a boundary each
    branch re-shingles the corpus — measured 6× end-to-end at sf0.1
    (18.7 s → 3.2 s warm under the original persist()).  r16 moved the
    mechanism from persist() to the shared boundary helper: persist
    kept the full logical plan under every consumer, so Catalyst
    re-planned the window subtree per branch and AQE compiled the
    candidate join without runtime size facts; the boundary hands
    every consumer a leaf and the verify joins'
    strategies are now AQE-chosen from real sizes instead of forced
    shuffle_hash hints — the same migration minhash_lsh_pairs made in
    r15.  ``persist_frames=False`` stays the fully-lazy recomputable
    form for oracle comparison.

    SHUFFLE-WIDTH NOTE — grams are hashed to 64-bit longs
    (``xxhash64``) immediately after shingling, and every downstream
    stage (df count, prefix rank, candidate join key, verify arrays)
    operates on the hashes.  Jaccard over the hashed sets equals
    Jaccard over the raw gram sets unless two DISTINCT grams of one
    document pair collide in 64 bits — birthday bound ~s²/2⁶⁴ ≈ 1e-15
    per pair at s≈300 — while an n=12 UTF-8 gram costs 12 bytes + 8
    of UnsafeArray overhead vs a fixed 8 per long: the candidate
    exchange key and BOTH array-carrying verify exchanges shrink
    ~2.5×.  (The positional/length filters only read sizes and are
    unaffected.)  The prefix order becomes (df, hash) instead of
    (df, gram text); any SHARED total order preserves the pigeonhole
    recall bound, so output is still exactly brute force.
    """
    from eventhub_to_timescale_spark.operators.boundary import (
        stage_boundary as _boundary,
    )

    d = docs.filter(F.col(text_col).isNotNull())
    g = d.select(
        "doc_id",
        F.transform(
            char_shingles(F.col(text_col), ngram), lambda t: F.xxhash64(t)
        ).alias("grams"),
    )
    if persist_frames:
        g = _boundary(g)
    # set size from the array — no second window pass
    toks = g.select(
        "doc_id", F.size("grams").alias("s"), F.explode("grams").alias("gram")
    )
    dfreq = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (
        toks.join(dfreq, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1
        )
        .select("doc_id", "gram", "s", "rn")
    )
    if persist_frames:
        prefix = _boundary(prefix)
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: matching at prefix positions (i, j)
    # bounds the achievable overlap at 1 + min(s_a−i, s_b−j); Jaccard
    # ≥ t needs overlap ≥ t/(1+t)·(s_a+s_b), so pairs that can only
    # meet via late prefix positions are pruned BEFORE the dedup
    # exchange and the array verify (no over-pruning: the bound is an
    # upper bound on true overlap)
    overlap_ub = F.lit(1) + F.least(
        F.col("a.s") - F.col("a.rn"), F.col("b.s") - F.col("b.rn")
    )
    alpha = (
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.s") + F.col("b.s"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.s"), F.col("b.s"))
                >= F.lit(threshold) * F.greatest(F.col("a.s"), F.col("b.s"))
            )
            & (overlap_ub >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ga = g.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a")
    )
    gb = g.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b")
    )
    jac = F.size(
        F.array_intersect(F.col("grams_a"), F.col("grams_b"))
    ) / F.size(F.array_union(F.col("grams_a"), F.col("grams_b")))
    # the gram-array payload is kilobytes per row: a SortMergeJoin
    # here sorts candidate×array bytes and spills catastrophically on
    # duplicate-dense corpora (measured: >200 GB of sorter spill at
    # the 10× sweep).  The joins are left UNHINTED (r16, matching the
    # r15 minhash migration): the session-level
    # adaptive.maxShuffledHashJoinLocalMapThreshold=64 MB lets AQE
    # convert the sort-merge to a shuffled-hash join from REAL
    # post-shuffle sizes — same no-sorted-array-exchange guarantee the
    # old shuffle_hash hints forced, without blocking AQE's broadcast
    # conversion when the doc-level side fits the broadcast threshold.
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def cross_source_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate contamination matrix → (src_a, src_b, n_pairs):
    how many near-dup pairs cross each (source, source) boundary,
    with the pair's two group labels ordered lexicographically so the
    matrix is upper-triangular regardless of pair orientation.

    The corpus-governance question behind every dedup run: WHICH
    sources duplicate each other (mirror sites, cross-posted docs,
    licensed re-dumps)? Diagonal entries are within-source dup mass;
    off-diagonal entries tell you which source to drop or down-weight
    (feeds temperature_mix / source_quota decisions).

    100 TB posture: two hash joins of the (small) pair set against the
    (id → group) projection of the corpus — the corpus ships only two
    columns into each join, the pair side is banding-bounded, and the
    final aggregate is a map-side-combinable count over ≤|sources|²
    keys.
    """
    lab = docs.select(
        F.col(id_col), F.col(group_col).cast("string").alias("_g")
    )
    both = (
        pairs.join(lab.withColumnRenamed("_g", "_ga"),
                   pairs["doc_a"] == lab[id_col])
        .drop(id_col)
        .join(lab.withColumnRenamed("_g", "_gb"),
              F.col("doc_b") == lab[id_col])
    )
    return (
        both.select(
            F.least("_ga", "_gb").alias("src_a"),
            F.greatest("_ga", "_gb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("src_a", "src_b")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot delta → (doc_id, status ∈ added|removed|changed):
    which documents appeared, disappeared, or changed content between
    two corpus versions. Unchanged documents are filtered out — at
    pipeline scale the delta IS the work-list (re-embed, re-score,
    re-shard only what moved), so emitting the unchanged majority
    would defeat the point.

    Content comparison is by ``xxhash64(text)`` so the join carries an
    8-byte digest instead of document bodies, and the comparison cost
    is independent of document length past the scan.

    100 TB posture: one full-outer hash join co-partitioned on the id
    (both sides shuffle once on the same key — with both snapshots
    bucketed by id on disk, zero Exchange, cf. tests/
    test_bucketed_store.py); everything else is scan-side projection.
    """
    o = old.select(
        F.col(id_col).alias("_id"),
        F.xxhash64(F.col(text_col)).alias("_ho"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.xxhash64(F.col(text_col)).alias("_hn"),
    )
    joined = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
    )
    return (
        joined.select(F.col("_id").alias(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
        .orderBy(id_col)
    )
