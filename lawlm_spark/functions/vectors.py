"""Dense-vector column expressions.

Everything here is a pure Catalyst expression over `array<float|double>`
— sequential left-to-right folds, so results are bitwise deterministic
and identical across engines (the DuckDB oracle computes the same fold).
No Python boundary is crossed; at scale these run inside whole-stage
codegen next to the scan.

The reference delegates all vector math to Qdrant (COSINE space,
qdrant_manager.py:21-26) and never normalizes client-side (bug B6,
data_extraction.py:269-274); this engine normalizes explicitly.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i, accumulated left-to-right in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# NOTE (r19): dim-unrolled "codegen twins" of dot/norm/cosine (explicit
# left-associated sums of get(a,i)*get(b,i)) were built, proven
# bit-identical and measured — and rejected: at dim=64 the unrolled
# projection method exceeds HotSpot's JIT bytecode-size threshold and
# executes as interpreted bytecode, measuring 4-6x SLOWER than the HOF
# fold on a 2M-row microbench (fold 2.1 s vs unrolled 12-13 s) and
# 2-2.5x slower on the r11 maxsim pair stream at sf0.1 (query 2.75-2.79 s
# vs 5.47-6.94 s, 3 interleaved pairs).  The folds below are the one
# cosine implementation.


def cos_micros(a: Column, b: Column) -> Column:
    """Cosine in exact integer micro-units: round(cos * 1e6) as long.

    The integer domain is the cross-engine safe currency for DOWNSTREAM
    arithmetic on similarities (MMR's greedy re-scoring, threshold
    ladders): both engines compute the identical cosine double (same
    left-to-right fold), the scale-then-round is the same two IEEE ops
    on it, and from there every comparison and linear combination is
    exact integer math — no summation-order or -0.0 hazards survive.
    round() is half-away-from-zero on BOTH engines (Spark HALF_UP on
    doubles, DuckDB std::round), so the oracle twin is
    `CAST(round(cos_expr * 1000000) AS BIGINT)`.
    """
    return F.round(cosine(a, b) * F.lit(1000000.0), 0).cast("long")


def cos_micros_py(va, vb) -> int:
    """Exact Python replica of `cos_micros` for Pandas-UDF interiors
    (mmr_select's greedy computes only the O(k·N) pairs it needs there,
    instead of paying an N² pair join — VERDICT r14 item 5).

    Why each step is bit-identical to the JVM expression:
    - the three dots replay `dot`'s shape exactly: per-element cast to
      double (float32→float64 is exact) then multiply, accumulated
      LEFT-TO-RIGHT from 0.0 — the same IEEE op sequence;
    - math.sqrt and '/' and '* 1000000.0' are single correctly-rounded
      IEEE-754 ops on both runtimes (java.lang.Math.sqrt == libm sqrt);
    - Spark's round(double, 0) is BigDecimal.valueOf(d) (shortest
      round-trip decimal string) + setScale(0, HALF_UP); Python's
      repr(float) is the same shortest round-trip string, so
      Decimal(repr(x)) HALF_UP reproduces it.  At |x| ≤ ~1e6 every
      decimal .5 boundary is exactly representable in double, so the
      string-based and binary-value-based roundings cannot disagree.

    Pinned against the JVM expression by
    tests/test_mmr.py::test_mmr_scores_match_integer_recompute and by
    the r10_mmr_diversify DuckDB oracle hash.

    PRECONDITION: equal-length vectors.  zip() would silently truncate
    a ragged pair, while the JVM cos_micros contract (zip_with pads to
    the longer array, NULL product → NULL denom → 0) returns 0 — so a
    length mismatch raises instead of quietly diverging from the
    documented JVM-exact contract (ADVICE r15)."""
    if len(va) != len(vb):
        raise ValueError(
            f"cos_micros_py requires equal-length vectors, got "
            f"{len(va)} vs {len(vb)} — the JVM cos_micros zero-pads via "
            "zip_with NULL semantics; fix the ragged column upstream"
        )

    def _dot(xs, ys):
        acc = 0.0
        for x, y in zip(xs, ys):
            acc += float(x) * float(y)
        return acc

    denom = math.sqrt(_dot(va, va)) * math.sqrt(_dot(vb, vb))
    cos = _dot(va, vb) / denom if denom > 0 else 0.0
    return int(
        Decimal(repr(cos * 1000000.0)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
    )


def normalize(a: Column) -> Column:
    """Unit-normalize (fixes reference bug B6 — SURVEY.md §1.4)."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def fake_embedding(text: Column, dim: int = 64, seed: str = "v1") -> Column:
    """Deterministic fake embedder (SURVEY.md §5.4): seeded md5 hash of the
    text per dimension -> value in [-1, 1), then unit-normalized.

    Portable: the DuckDB oracle can compute the identical vector
    (md5 + hex->int), so embed pipelines are oracle-checkable end to end.
    The real-model path (operators/embedding.py) swaps in behind the same
    schema.

    NOTE: suitable for SMALL sides (query vectors).  For corpus-scale
    embedding use `add_fake_embedding` — this pure-Column form re-runs the
    md5 transform inside the normalization lambda (O(dim²) hashes/row).
    """
    return normalize(fake_embedding_raw(text, dim, seed))


def fake_embedding_raw(text: Column, dim: int = 64, seed: str = "v1") -> Column:
    """The pre-normalization fake embedding (see fake_embedding)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(seed), i, text)), 1, 8), 16, 10).cast(
                "double"
            )
            % 2000.0
            - 1000.0
        )
        / 1000.0,
    )


def add_fake_embedding(
    df, text_col: str, out_col: str = "embedding", dim: int = 64, seed: str = "v1"
):
    """Corpus-scale fake embedding: same values as `fake_embedding`, staged
    through real columns so each piece evaluates ONCE per row.

    The pure-Column form re-evaluates the 64-way md5 transform inside the
    normalization lambda (higher-order-function bodies run per element and
    don't share subexpressions), turning O(dim) hashes into O(dim²) per
    row — measured 60x slower at bench scale.  CollapseProject keeps these
    staged projections separate because the producing expressions are
    non-cheap and referenced more than once.
    """
    raw, nrm = f"__raw_{out_col}", f"__nrm_{out_col}"
    staged = (
        df.withColumn(raw, fake_embedding_raw(F.col(text_col), dim, seed))
        .withColumn(
            nrm,
            F.sqrt(
                F.aggregate(
                    F.transform(F.col(raw), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
        )
        .withColumn(
            out_col,
            F.when(
                F.col(nrm) > 0, F.transform(F.col(raw), lambda x: x / F.col(nrm))
            ).otherwise(F.col(raw)),
        )
    )
    return staged.drop(raw, nrm)


def fake_embedding_oracle_sql(text_expr: str, dim: int = 64, seed: str = "v1") -> str:
    """DuckDB SQL computing exactly `fake_embedding` (for oracle queries)."""
    raw = (
        f"list_transform(generate_series(0, {dim - 1}), i -> "
        f"((('0x' || substring(md5(concat_ws(':', '{seed}', i, {text_expr})), 1, 8))::BIGINT "
        f"% 2000.0 - 1000.0) / 1000.0))"
    )
    nrm = f"sqrt(list_sum(list_transform({raw}, x -> x * x)))"
    return f"list_transform({raw}, x -> x / {nrm})"


def feature_hash(
    tokens, dim: int = 256, salt: str = ""
):
    """(idx, sign) from a token: the hashing trick (Weinberger et al.
    2009) — fixed-width sparse features with no vocabulary pass.
    idx = md5 % dim; sign from an independent hash bit (the signed
    variant keeps collision noise zero-mean).  Pure codegen — the
    feature extractor runs at the scan with no vocabulary broadcast,
    which is the point at 100 TB: vocabulary-free, layout-stable,
    identically replayable cross-engine (d65's oracle)."""
    h = F.md5(F.concat_ws(":", F.lit(salt), tokens))
    idx = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return idx, sign


def hashed_features(
    docs, id_col: str, text_col: str, dim: int = 256, salt: str = ""
):
    """(id, idx, weight): signed-sum sparse feature vectors per doc —
    one explode + one (id, idx) aggregate, weights are exact integers."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("_tok"),
    )
    idx, sign = feature_hash(F.col("_tok"), dim, salt)
    return (
        toks.select(id_col, idx.alias("idx"), sign.alias("_s"))
        .groupBy(id_col, "idx")
        .agg(F.sum("_s").alias("weight"))
    )
