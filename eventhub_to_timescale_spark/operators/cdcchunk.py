"""Content-defined chunking (CDC) + chunk-level duplicate evidence —
the storage-dedup primitive (Muthitacharoen et al., SOSP 2001 "A
Low-Bandwidth Network File System": Rabin-fingerprint boundaries)
applied to corpus curation: split every document at positions where a
rolling window hash ≡ 0 (mod divisor), so chunk boundaries move WITH
the content — an insertion or deletion reshapes only the chunk it
touches, unlike fixed-width windows (substrdup.py) whose every
downstream window shifts. Shared chunk hashes across documents are
then copied-span evidence robust to offset drift.

Boundary rule: position ``i`` (1-based, i ≥ w) is a cut iff
``portable_hash32(substring(text, i−w+1, w), 'cdc:') % divisor == 0``
— i.e. the decision depends ONLY on the w-char window ending at i,
never on earlier cuts, which is what makes the whole computation a
per-row array expression (no sequential scan, no UDF): build the
boundary list with transform+filter, slice chunks with one more
transform, explode. Documents shorter than ``w`` form a single chunk.

TWO chunkers live here — pick by role:

- ``gear_chunks`` is the DOCUMENTED DEFAULT and the at-scale path: an
  O(1)-per-position gear rolling hash (the FastCDC/gear family, Xia
  et al., USENIX ATC 2016) vectorized in numpy inside a zero-shuffle
  ``mapInPandas`` (plan-pinned, tests/test_plan_pins_r12.py).
  Measured sf1: 1.15 s, scale exponent −0.09.
- ``cdc_chunks`` (md5-window boundaries, below) is the ORACLE-WITNESS
  form ONLY — retained because its boundary rule is reproducible
  verbatim in DuckDB SQL, which makes it the cross-engine anchor the
  differential property tests (tests/test_cdc_property.py) compare
  ``gear_chunks`` against. Its window hash costs one md5 per position
  (w× the corpus bytes: 79.5 s at sf1) — never the documented-usage
  path, same labeling convention as ``dedup_semantic_keep``.

Deliberate simplifications vs production CDC, documented:
- no min/max chunk-size clamps — those make cut eligibility depend on
  the previous cut (a sequential fold); the unclamped gear-style rule
  keeps boundaries content-local and (in the md5 form) the plan
  declarative. Expected chunk length is ``divisor`` chars; the tails
  are geometric.

100 TB posture: chunking is projection-only per-row work (zero
shuffle); the shared-chunk report shuffles once on ``chunk_hash`` —
map-side partial aggregation collapses per-partition repeats first,
and the output is bounded by the distinct-shared-chunk count, never
corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import portable_hash32


def _boundaries(t: Column, w: int, divisor: int) -> Column:
    """Sorted cut positions (1-based, inclusive end of each window)
    of ``t``; empty for texts shorter than ``w`` (guarded — see
    editsim's sequence(1,0) lesson)."""
    pos = F.filter(
        F.transform(
            F.sequence(F.lit(w), F.length(t)),
            lambda i: F.when(
                portable_hash32(F.substring(t, i - (w - 1), w), "cdc:")
                % divisor
                == 0,
                i,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return F.when(F.length(t) >= w, pos).otherwise(
        F.array().cast("array<int>")
    )


def cdc_chunks(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, chunk_idx, chunk_hash, chunk_len): every document
    split at content-defined boundaries; chunk_hash = md5 of the chunk
    text. NULL/empty texts produce no rows. Ordered by
    (doc_id, chunk_idx)."""
    if window < 1 or divisor < 1:
        raise ValueError(f"need window ≥ 1 and divisor ≥ 1, got {window}, {divisor}")
    t = F.col("_t")
    bounds = F.concat(
        F.array(F.lit(0)),
        F.filter(
            _boundaries(t, window, divisor), lambda b: b < F.length(t)
        ),
        F.array(F.length(t)),
    )

    # Bind the boundary array ONCE per row via the single-element
    # ``transform`` idiom (ingest/dynamic.py ``_node`` — the repo's
    # no-CSE workaround): the chunk lambda below references the
    # boundary list 6 times (size, lo, hi, and the length twice), and
    # Catalyst inlines a fresh copy of the full boundary expression —
    # an md5 per text POSITION — at every reference.  Bound as a
    # lambda variable, the rolling-hash pass runs once per document
    # instead of six times; the per-chunk expressions are identical,
    # so the emitted rows are bit-for-bit the same.
    def _packed(bs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(bs) - 1),
            lambda j: F.struct(
                F.md5(
                    F.substring(t, bs[j - 1] + 1, bs[j] - bs[j - 1])
                ).alias("h"),
                (bs[j] - bs[j - 1]).alias("n"),
            ),
        )

    base = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    exploded = base.select(
        "doc_id",
        F.posexplode(
            F.element_at(F.transform(F.array(bounds), _packed), 1)
        ).alias("chunk_idx", "c"),
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.col("c.h").alias("chunk_hash"),
        F.col("c.n").cast("long").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_idx")


def cdc_shared_chunks(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (chunk_hash, chunk_len, n_docs, n_occ, first_doc): chunks of
    at least ``min_len`` chars appearing in ≥ 2 DISTINCT documents —
    the copied-span dedup evidence (first_doc = smallest containing
    doc_id, the keep-first representative). Ordered by chunk_hash."""
    ch = cdc_chunks(
        docs, window=window, divisor=divisor,
        text_col=text_col, id_col=id_col,
    )
    return (
        ch.filter(F.col("chunk_len") >= min_len)
        .groupBy("chunk_hash", "chunk_len")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


def _h32_sql(expr: str, seed: str) -> str:
    return f"CAST(('0x' || substr(md5('{seed}' || {expr}), 1, 8)) AS BIGINT)"


def _chunks_cte(window: int, divisor: int, table: str, text_expr: str) -> str:
    """Shared CTE chain producing (doc_id, chunk_idx, chunk_hash,
    chunk_len) — DuckDB rendering of ``cdc_chunks``. DuckDB lists are
    1-indexed; ``range(a, b)`` is end-exclusive."""
    win_sub = f"substring(txt, CAST(i - {window - 1} AS INTEGER), {window})"
    return f"""
base AS (
  SELECT doc_id, {text_expr} AS txt FROM {table}
  WHERE {text_expr} IS NOT NULL AND length({text_expr}) > 0
),
bnd AS (
  SELECT doc_id, txt,
         list_concat(
           list_concat([0], CASE WHEN length(txt) >= {window}
             THEN list_filter(
               list_transform(
                 range({window}, length(txt) + 1),
                 i -> CASE WHEN {_h32_sql(win_sub, 'cdc:')} % {divisor} = 0
                           AND i < length(txt)
                      THEN CAST(i AS BIGINT) END),
               x -> x IS NOT NULL)
             ELSE [] END),
           [CAST(length(txt) AS BIGINT)]) AS bounds
  FROM base
),
packed AS (
  SELECT doc_id,
         unnest(list_transform(range(2, len(bounds) + 1),
           j -> struct_pack(
                  idx := CAST(j - 2 AS INTEGER),
                  h := md5(substring(txt,
                           CAST(bounds[j - 1] + 1 AS INTEGER),
                           CAST(bounds[j] - bounds[j - 1] AS INTEGER))),
                  n := bounds[j] - bounds[j - 1]))) AS c
  FROM bnd
),
chunks AS (
  SELECT doc_id, c.idx AS chunk_idx, c.h AS chunk_hash, c.n AS chunk_len
  FROM packed
)"""


def cdc_chunks_oracle_sql(
    window: int = 8,
    divisor: int = 32,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    return f"""
WITH {_chunks_cte(window, divisor, table, text_expr)}
SELECT doc_id, chunk_idx, chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len
FROM chunks ORDER BY doc_id, chunk_idx
"""


def cdc_shared_chunks_oracle_sql(
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    return f"""
WITH {_chunks_cte(window, divisor, table, text_expr)}
SELECT chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       MIN(doc_id) AS first_doc
FROM chunks
WHERE chunk_len >= {min_len}
GROUP BY chunk_hash, chunk_len
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""


# ---------------------------------------------------------------------------
# Gear rolling-hash CDC — the scale path (r11 verdict ask #2)
# ---------------------------------------------------------------------------
#
# The md5-window form above is the cross-engine-reproducible baseline,
# but its constant is one md5 per character POSITION (O(w) digest work
# each) — measured 69.2 s at sf1, the heaviest query in the suite.
# The gear form replaces the window hash with the classical gear/
# shift-add rolling hash (the FastCDC/ddelta family): a per-character
# pseudo-random 32-bit "gear" value, combined over the w-char window
# as  H(i) = ( Σ_{j=0..w-1} gear(c_{i-j}) · 2^j ) mod 2^32.
# Same contract as ``cdc_chunks`` — H depends ONLY on the w-char
# window ending at i, so boundaries stay content-local (an edit
# reshapes only the chunks it touches) and the cut rule stays a pure
# per-position predicate, never a sequential fold.
#
# Instead of a lookup table (engine-unportable), the gear value is the
# Knuth multiplicative hash of the CODEPOINT:
#     gear(c) = (unicode(c) · 2654435761) mod 2^32
# — closed-form in numpy (one vectorized multiply over the utf-32
# view of the text) and in DuckDB (unicode() + integer arithmetic),
# so the oracle reproduces the boundaries bit-for-bit.
#
# Engine side is an Arrow-batched ``mapInPandas``: codepoints via the
# utf-32 buffer view (zero Python-per-char work), the window sum as w
# shifted adds over the gear array, boundary positions via one
# flatnonzero — O(w·n) integer adds instead of O(w·n) md5 DIGESTS,
# i.e. the same asymptotics with a ~100× smaller constant.  Only the
# (doc_id, chunk_idx, chunk_hash, chunk_len) rows return to the JVM.

_GEAR_MULT = 2654435761  # Knuth multiplicative constant
_GEAR_MOD = 4294967296  # 2^32


def _gear_cut_positions(text: str, window: int, divisor: int):
    """1-based cut positions of ``text`` under the gear rule — the
    single definition both the batch and streaming chunkers share.
    Returns a Python list; empty for texts shorter than ``window``."""
    import numpy as np

    n = len(text)
    if n < window:
        return []
    cp = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(
        np.uint64
    )
    gear = (cp * np.uint64(_GEAR_MULT)) & np.uint64(_GEAR_MOD - 1)
    acc = np.zeros(n - window + 1, dtype=np.uint64)
    for j in range(window):
        acc += gear[window - 1 - j : n - j] << np.uint64(j)
    acc &= np.uint64(_GEAR_MOD - 1)
    cuts = np.flatnonzero(acc % np.uint64(divisor) == 0) + window
    return [int(c) for c in cuts if c < n]


def gear_chunk_rows(text: str, window: int, divisor: int):
    """(chunk_idx, chunk_hash, chunk_len, chunk_text) rows for one
    document — shared by the batch ``mapInPandas`` and the streaming
    chunker so both paths cut identically."""
    import hashlib

    bounds = [0] + _gear_cut_positions(text, window, divisor) + [len(text)]
    out = []
    for idx in range(len(bounds) - 1):
        piece = text[bounds[idx] : bounds[idx + 1]]
        out.append(
            (
                idx,
                hashlib.md5(piece.encode("utf-8")).hexdigest(),
                len(piece),
                piece,
            )
        )
    return out


def gear_chunks(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, chunk_idx, chunk_hash, chunk_len): the gear-hash
    twin of ``cdc_chunks`` — same output shape, same md5 chunk ids,
    boundaries from the O(1)-per-position gear rule above.  Ordered
    by (doc_id, chunk_idx).

    100 TB posture: chunking is projection-only per-row numpy work
    (zero shuffle, Arrow batches in, 4 narrow columns out); every
    downstream consumer shuffles once on ``chunk_hash`` exactly like
    the md5 form."""
    if window < 1 or divisor < 1:
        raise ValueError(
            f"need window ≥ 1 and divisor ≥ 1, got {window}, {divisor}"
        )
    from typing import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, hashes, lens = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["_t"]):
                for idx, h, ln, _ in gear_chunk_rows(
                    text, window, divisor
                ):
                    ids.append(int(doc_id))
                    idxs.append(idx)
                    hashes.append(h)
                    lens.append(ln)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "chunk_idx": pd.array(idxs, dtype="int32"),
                    "chunk_hash": hashes,
                    "chunk_len": pd.array(lens, dtype="int64"),
                }
            )

    base = docs.filter(
        # id NULL-guard matters specifically in the Arrow path: the
        # md5 form tolerates NULL ids inside JVM expressions, but
        # int(doc_id) in the batch loop below raises on NaN/None and
        # fails the whole stage.
        F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
        & (F.length(text_col) > 0)
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    return base.mapInPandas(
        batches,
        schema="doc_id long, chunk_idx int, chunk_hash string, "
        "chunk_len long",
    ).orderBy("doc_id", "chunk_idx")


def gear_shared_chunks(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gear twin of ``cdc_shared_chunks`` — identical output contract
    (chunk_hash, chunk_len, n_docs, n_occ, first_doc), boundaries from
    the gear rule."""
    ch = gear_chunks(
        docs, window=window, divisor=divisor,
        text_col=text_col, id_col=id_col,
    )
    return (
        ch.filter(F.col("chunk_len") >= min_len)
        .groupBy("chunk_hash", "chunk_len")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


def cdc_dup_verdicts(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-first chunk-sharing verdicts — the batch twin of
    ``streaming/cdcdedup.py streaming_cdc_verdicts``: → (doc_id,
    dup_of) for every non-empty-text document; ``dup_of`` = the
    SMALLEST earlier document sharing at least one chunk of
    ``min_len``+ chars, NULL ⇒ survivor.

    Equivalence note (why this matches the streaming seen-set): the
    stream's state per chunk_hash is its FIRST owner; a document's
    verdict is the min first-owner over its chunks.  For any earlier
    sharer d' of chunk c, owner(c) ≤ d', so min-over-owners equals
    min-over-earlier-sharers — the self-join below.

    100 TB posture: one shuffle on chunk_hash for the owner agg, one
    equi-join on chunk_hash (bounded per-key by ``n_occ``), one
    map-side-combinable min per doc.  Never all-pairs."""
    ch = (
        gear_chunks(
            docs, window=window, divisor=divisor,
            text_col=text_col, id_col=id_col,
        )
        .filter(F.col("chunk_len") >= min_len)
        .select("doc_id", "chunk_hash")
        .distinct()
    )
    owners = ch.groupBy("chunk_hash").agg(
        F.min("doc_id").alias("owner")
    )
    dup = (
        ch.join(owners, "chunk_hash")
        .filter(F.col("owner") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("owner").alias("dup_of"))
    )
    all_docs = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(F.col(id_col).alias("doc_id"))
    return (
        all_docs.join(dup, "doc_id", "left")
        .select("doc_id", "dup_of")
        .orderBy("doc_id")
    )


def _gear_chunks_cte(
    window: int, divisor: int, table: str, text_expr: str
) -> str:
    """DuckDB rendering of the gear rule — same chunks CTE contract as
    ``_chunks_cte``.  The window hash is the literal closed form:
    list_sum of gear(codepoint)·2^j over the w trailing characters,
    mod 2^32, mod divisor."""
    gear_sum = (
        f"list_sum(list_transform(range(0, {window}), j -> "
        f"((unicode(substring(txt, CAST(i - j AS INTEGER), 1)) "
        f"* {_GEAR_MULT}) % {_GEAR_MOD}) * (1::BIGINT << j)))"
    )
    return f"""
base AS (
  SELECT doc_id, {text_expr} AS txt FROM {table}
  WHERE {text_expr} IS NOT NULL AND length({text_expr}) > 0
),
bnd AS (
  SELECT doc_id, txt,
         list_concat(
           list_concat([0], CASE WHEN length(txt) >= {window}
             THEN list_filter(
               list_transform(
                 range({window}, length(txt) + 1),
                 i -> CASE WHEN ({gear_sum} % {_GEAR_MOD}) % {divisor} = 0
                           AND i < length(txt)
                      THEN CAST(i AS BIGINT) END),
               x -> x IS NOT NULL)
             ELSE [] END),
           [CAST(length(txt) AS BIGINT)]) AS bounds
  FROM base
),
packed AS (
  SELECT doc_id,
         unnest(list_transform(range(2, len(bounds) + 1),
           j -> struct_pack(
                  idx := CAST(j - 2 AS INTEGER),
                  h := md5(substring(txt,
                           CAST(bounds[j - 1] + 1 AS INTEGER),
                           CAST(bounds[j] - bounds[j - 1] AS INTEGER))),
                  n := bounds[j] - bounds[j - 1]))) AS c
  FROM bnd
),
chunks AS (
  SELECT doc_id, c.idx AS chunk_idx, c.h AS chunk_hash, c.n AS chunk_len
  FROM packed
)"""


def gear_chunks_oracle_sql(
    window: int = 8,
    divisor: int = 32,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    return f"""
WITH {_gear_chunks_cte(window, divisor, table, text_expr)}
SELECT doc_id, chunk_idx, chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len
FROM chunks ORDER BY doc_id, chunk_idx
"""


def gear_shared_chunks_oracle_sql(
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    return f"""
WITH {_gear_chunks_cte(window, divisor, table, text_expr)}
SELECT chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       MIN(doc_id) AS first_doc
FROM chunks
WHERE chunk_len >= {min_len}
GROUP BY chunk_hash, chunk_len
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""


def cdc_dup_verdicts_oracle_sql(
    window: int = 8,
    divisor: int = 32,
    min_len: int = 16,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    return f"""
WITH {_gear_chunks_cte(window, divisor, table, text_expr)},
dch AS (
  SELECT DISTINCT doc_id, chunk_hash
  FROM chunks WHERE chunk_len >= {min_len}
),
owners AS (
  SELECT chunk_hash, MIN(doc_id) AS owner FROM dch GROUP BY chunk_hash
),
dup AS (
  SELECT d.doc_id, MIN(o.owner) AS dup_of
  FROM dch d JOIN owners o ON o.chunk_hash = d.chunk_hash
  WHERE o.owner < d.doc_id
  GROUP BY d.doc_id
)
SELECT b.doc_id, dup.dup_of
FROM base b LEFT JOIN dup ON dup.doc_id = b.doc_id
ORDER BY b.doc_id
"""


__all__ = [
    "cdc_chunks",
    "cdc_shared_chunks",
    "cdc_chunks_oracle_sql",
    "cdc_shared_chunks_oracle_sql",
    "gear_chunks",
    "gear_shared_chunks",
    "gear_chunk_rows",
    "cdc_dup_verdicts",
    "gear_chunks_oracle_sql",
    "gear_shared_chunks_oracle_sql",
    "cdc_dup_verdicts_oracle_sql",
]
