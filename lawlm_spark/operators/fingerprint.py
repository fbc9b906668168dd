"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm).

The fourth member of this repo's fingerprinting family (exact hash =
dedup.py exact, MinHash = d2/d5, SimHash = d6, dup spans = spans.py):
winnowing selects, from every window of w consecutive k-gram hashes,
the MINIMUM hash (rightmost position on ties) — a local rule, so two
documents sharing any substring of length >= w + k - 1 are GUARANTEED
at least one common selected fingerprint (the property MinHash provides
only probabilistically), while the expected density of selections stays
fixed at 2/(w+1) per position.

Spark shape, and why it scales:

- k-gram hashing is map-side only (sequence/explode + substring + md5
  before any exchange), so the one shuffle this operator performs — the
  per-document window — carries (id, pos, key) triples, never the text.
- The window-min is doc-partitioned: embarrassingly parallel, state
  bounded by the longest document, no cross-document communication.
- The pair join is blocked on the fingerprint hash with a document-
  frequency cap (`max_doc_freq`): ubiquitous fingerprints (boilerplate
  shingles) carry no duplication signal and would otherwise blow the
  join up quadratically — the same hot-bucket discipline as the LSH
  band join in dedup.py.  Nothing here is all-pairs.

Tie-break without argmin: the 32-bit hash and the position are packed
into one BIGINT key = h * 2^24 + (2^24 - 1 - pos), so an ordinary
`min()` aggregate realizes "smallest hash, rightmost position" exactly
— portable to any engine with 64-bit integer min (the DuckDB oracle
replays it verbatim).  The packing bounds documents to 2^24 - 1
k-grams (~16.7M chars); chunk longer documents first (chunking.py), as
every operator in this family assumes.

Determinism: the hash is the repo-standard 32-bit md5-prefix recipe
(sampling.py), so the fingerprint set is a pure function of the text —
layout-stable, rerun-stable, engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Position-packing base: documents are bounded to _B - 1 k-grams so the
# packed (hash, position) key stays < 2^56 (exact in BIGINT, and still
# exact through any engine's 64-bit integer min).
_B = 1 << 24


def _packed_key(h, p):
    """h * 2^24 + (2^24 - 1 - p), guarded: positions past the packing
    bound raise INSIDE the key expression (not a droppable side column,
    so Catalyst cannot prune the check) — a silent `_B - 1 - p`
    underflow would decode as a NEIGHBORING hash's fingerprint and
    corrupt pair scores with no symptom."""
    return F.when(
        p < F.lit(_B),
        h * F.lit(_B) + (F.lit(_B - 1) - p),
    ).otherwise(
        F.expr(
            "raise_error('fingerprint.kgram_hashes: document exceeds "
            "2^24-1 k-grams; chunk it first (operators/chunking.py)')"
        ).cast("long")
    )


def kgram_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(id, p, key): packed 32-bit hash of the k-gram at 1-based char
    position p, for every position.  Documents shorter than k
    contribute their whole text as the single gram at p=1, so every
    document owns >= 1 fingerprint downstream.

    The projection drops the text BEFORE any exchange: explode,
    substring, and md5 are all map-side, so downstream shuffles move
    ~24-byte triples, not documents.

    Documents past the packing bound (>= 2^24 k-grams, ~16.7M chars)
    fail LOUDLY here via raise_error — a silent `_B - 1 - p` underflow
    would decode as a NEIGHBORING hash's fingerprint and corrupt pair
    scores with no symptom.  Chunk first (operators/chunking.py).
    """
    npos = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_t"),
        F.explode(F.sequence(F.lit(1), npos)).alias("p"),
    )
    h = F.conv(
        F.substring(F.md5(F.expr(f"substring(_t, p, {k})")), 1, 8), 16, 10
    ).cast("long")
    return exploded.select(
        "id", "p", _packed_key(h, F.col("p")).alias("key")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 6,
) -> DataFrame:
    """(id, pos, fhash): the winnowing selection — for every window of
    w consecutive k-gram hashes, the minimum (rightmost on ties),
    deduplicated.  Windows at the start of a document that are shorter
    than w are included (their min over the available prefix), a
    documented deviation from the paper's fully-interior windows: it
    keeps every document non-empty and is engine-portable, at the cost
    of a few extra selections near position 1.
    """
    grams = kgram_hashes(docs, id_col, text_col, k)
    win = Window.partitionBy("id").orderBy("p").rowsBetween(-(w - 1), 0)
    sel = grams.select("id", F.min("key").over(win).alias("sel")).distinct()
    return sel.select(
        "id",
        (F.lit(_B - 1) - F.col("sel") % F.lit(_B)).alias("pos"),
        F.expr(f"sel div {_B}").alias("fhash"),
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 6,
    max_doc_freq: int = 50,
    cache_registry: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, shared): candidate near-duplicate pairs scored by
    the number of distinct winnowing fingerprints they share, blocked
    on the fingerprint hash.  Fingerprints present in more than
    `max_doc_freq` documents are dropped before the join (boilerplate
    shingles — no signal, quadratic cost), so per-hash join groups are
    capped and the plan never degenerates toward all-pairs.

    The fingerprint relation feeds three consumers (the doc-frequency
    cap, and both sides of the self-join); Spark shares no subplans, so
    it is persisted AND eagerly forced — otherwise the corpus-sized
    explode + window-min pipeline recomputes once per consumer (the
    same three-consumer hazard as dedup.near_dup_pairs, and the same
    fix).  At 100 TB, checkpoint to reliable storage instead.  The
    cached frame outlives this call (the returned plan reads it); pass
    `cache_registry` to receive the handle for unpersist after your
    final action — without it the block stays until session LRU
    eviction (fine for one-shot jobs).
    """
    from lawlm_spark.session import materialize

    fp = winnow_fingerprints(docs, id_col, text_col, k, w).select("id", "fhash")
    fp, _n = materialize(fp.distinct(), cache_registry)
    kept = (
        fp.groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("fhash")
    )
    rare = fp.join(kept, "fhash")
    a = rare.select(F.col("fhash"), F.col("id").alias("doc_a"))
    b = rare.select(F.col("fhash"), F.col("id").alias("doc_b"))
    return (
        a.join(b, "fhash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
