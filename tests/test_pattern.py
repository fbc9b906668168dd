"""operators/pattern.py: run-encoded quantified pattern matching."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lawlm_spark.operators.pattern import encode_runs, match_quantified


def _events(spark, rows):
    # rows: (user, seq, sym)
    return spark.createDataFrame(rows, "user_id long, seq long, sym string")


def _runs(spark, rows):
    return encode_runs(_events(spark, rows), "user_id", ["seq"], "sym")


def _py_match_recognize(symbols: str, pattern: str) -> list[tuple[int, int]]:
    """Row-level reference: greedy regex + SKIP PAST LAST ROW over one
    key's symbol string.  Returns (start_idx, end_idx) per match —
    regex with greedy quantifiers on a linearized symbol string IS the
    MATCH_RECOGNIZE contract for single-char symbols."""
    out, i = [], 0
    rx = re.compile(pattern)
    while i < len(symbols):
        m = rx.match(symbols, i)
        if m and m.end() > m.start():
            out.append((m.start(), m.end() - 1))
            i = m.end()
        else:
            i += 1
    return out


SYMS = "VVCPVVPXPCVCPVVVCCCPPP"


def test_matches_row_level_reference(spark):
    """The run-level matcher must agree with a row-level greedy regex
    (the true MATCH_RECOGNIZE semantics) on V+C*P — full extents and
    per-element row counts, not just anchors (a wrong lead offset in a
    payload struct would otherwise pass on correct anchors alone)."""
    rows = [(1, i, s) for i, s in enumerate(SYMS)]
    runs = _runs(spark, rows)
    got = sorted(
        (
            r["e0"]["first_seq"],          # match start row
            r["e2"]["first_seq"],          # match end row ('1' = one P)
            r["e0"]["n_rows"],             # V count
            r["e1"]["n_rows"] if r["e1"] is not None else 0,  # C count
        )
        for r in match_quantified(
            runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id"
        ).collect()
    )
    want = sorted(
        (s, e, SYMS[s:e + 1].count("V"), SYMS[s:e + 1].count("C"))
        for s, e in _py_match_recognize(SYMS, r"V+C*P")
    )
    assert got == want


def test_quantifier_counts_and_optional_absence(spark):
    rows = [(1, i, s) for i, s in enumerate("VVVCCPXVP")]
    runs = _runs(spark, rows)
    m = (
        match_quantified(runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id")
        .orderBy("anchor_run_id")
        .collect()
    )
    assert len(m) == 2
    # match 1: VVV CC P — both quantified elements present, counted
    assert m[0]["e0"]["n_rows"] == 3 and m[0]["e1"]["n_rows"] == 2
    assert m[0]["present"] == [True, True, True]
    # match 2: V P — the '*' element absent, its payload NULL
    assert m[1]["e0"]["n_rows"] == 1 and m[1]["e1"] is None
    assert m[1]["present"] == [True, False, True]


def test_measures_segment_aggregates(spark):
    """MEASURES semantics (v73): per-element sums ride the encode_runs
    agg_cols hook — a '+'/'*' element's measure covers its WHOLE run,
    the final '1' element's measure is the consumed FIRST row only
    (the pattern.py payload caveat), so trailing P rows must be
    excluded from the match total."""
    #             V   V   C   P   P
    cents = [10, 20, 5, 100, 999]  # second P row NOT consumed
    rows = [
        (1, i, s, c) for i, (s, c) in enumerate(zip("VVCPP", cents))
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, seq long, sym string, cents long"
    )
    runs = encode_runs(
        ev,
        "user_id",
        ["seq"],
        "sym",
        agg_cols=[
            F.min(F.struct("seq", "cents"))["cents"].alias("first_cents"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        ],
    )
    m = match_quantified(
        runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id"
    ).collect()
    assert len(m) == 1
    r = m[0]
    assert r["e0"]["sum_cents"] == 30      # whole V run
    assert r["e0"]["max_cents"] == 20
    assert r["e1"]["sum_cents"] == 5       # whole C run
    assert r["e2"]["first_cents"] == 100   # consumed P row only
    # the run-level sum of the P run (1099) must NOT be the measure a
    # caller uses for '1' — v73 reads first_cents
    assert r["e2"]["sum_cents"] == 1099


def test_skip_past_last_row_nonoverlap(spark):
    # PPP after a match cannot re-anchor; V run not followed by P makes
    # no match at all
    rows = [(1, i, s) for i, s in enumerate("VCPPPVVX")]
    runs = _runs(spark, rows)
    m = match_quantified(
        runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id"
    ).collect()
    assert len(m) == 1


def test_invalid_patterns_raise(spark):
    runs = _runs(spark, [(1, 0, "V")])
    with pytest.raises(ValueError, match="repeated"):
        match_quantified(runs, [("V", "+"), ("C", "+"), ("V", "+")], "user_id")
    with pytest.raises(ValueError, match="head"):
        match_quantified(runs, [("V", "*"), ("P", "1")], "user_id")
    with pytest.raises(ValueError, match="final"):
        match_quantified(runs, [("V", "+"), ("C", "1"), ("P", "+")], "user_id")
    with pytest.raises(ValueError, match="quantifier"):
        match_quantified(runs, [("V", "?")], "user_id")


def test_run_encoding_null_and_ties(spark):
    # null symbols form runs too (eqNullSafe), and run_id is dense
    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, None), (1, 2, "A"), (1, 3, None)],
        "user_id long, seq long, sym string",
    )
    runs = encode_runs(df, "user_id", ["seq"], "sym").orderBy("run_id").collect()
    assert [(r["run_id"], r["sym"], r["n_rows"]) for r in runs] == [
        (0, None, 2), (1, "A", 1), (2, None, 1),
    ]


def test_single_exchange_plan(spark):
    """The 100 TB contract: encode window, per-run aggregate, and the
    lead-probe window all reuse ONE hash partitioning on the key —
    exactly one Exchange in the physical plan (plus nothing quadratic:
    no Cartesian/BNLJ)."""
    ev = spark.range(1000).select(
        (F.col("id") % 50).alias("user_id"),
        F.col("id").alias("seq"),
        F.element_at(
            F.array(F.lit("V"), F.lit("C"), F.lit("P"), F.lit("X")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("sym"),
    )
    runs = encode_runs(ev, "user_id", ["seq"], "sym")
    m = match_quantified(runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id")
    plan = m._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1, plan
    assert "user_id" in ex[0]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_measures_add_no_exchange(spark):
    """The v73 plan claim (PLANS.md): segment measures are COLUMNS on
    the per-run aggregate, not stages — the plan with sum/max measures
    has exactly the same single Exchange as without them."""
    ev = spark.range(1000).select(
        (F.col("id") % 50).alias("user_id"),
        F.col("id").alias("seq"),
        F.element_at(
            F.array(F.lit("V"), F.lit("C"), F.lit("P"), F.lit("X")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("sym"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000))).alias("cents"),
    )
    runs = encode_runs(
        ev,
        "user_id",
        ["seq"],
        "sym",
        agg_cols=[
            F.min(F.struct("seq", "cents"))["cents"].alias("first_cents"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        ],
    )
    m = match_quantified(runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id")
    plan = m._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def _randomized_differential(spark, seed, n_users, pattern, regex):
    """Seeded Spark-side differential: n_users random V/C/P/X strings
    (uniform over the four symbols, lengths 1-40) matched in ONE job
    and compared per-user against the row-level greedy-regex reference
    — full extents plus every quantified element's row count.  The
    in-process fuzz during the r10 review covered the disjunct LOGIC;
    this pins the actual Spark implementation end to end."""
    import random

    rng = random.Random(seed)
    cases = {
        u: "".join(rng.choice("VCPX") for _ in range(rng.randint(1, 40)))
        for u in range(n_users)
    }
    rows = [(u, i, s) for u, syms in cases.items() for i, s in enumerate(syms)]
    runs = _runs(spark, rows)
    last = len(pattern) - 1
    quantified = [i for i, (_, q) in enumerate(pattern) if q in ("+", "*")]
    got = sorted(
        (
            r["user_id"],
            r["e0"]["first_seq"],
            r[f"e{last}"]["first_seq"],
            *(
                r[f"e{i}"]["n_rows"] if r[f"e{i}"] is not None else 0
                for i in quantified
            ),
        )
        for r in match_quantified(runs, pattern, "user_id").collect()
    )
    want = sorted(
        (
            u, s, e,
            *(syms[s:e + 1].count(pattern[i][0]) for i in quantified),
        )
        for u, syms in cases.items()
        for s, e in _py_match_recognize(syms, regex)
    )
    assert got == want


def test_randomized_measures_differential(spark):
    """Seeded measures differential (v73 hardening, r11): random
    symbol strings with random per-row cents; per-match segment sums
    and maxes must equal the row-level reference — a quantified
    element's measure covers every row of its symbol inside the match
    extent (runs are maximal and pattern symbols distinct, so symbol
    membership IS segment membership), the final '1' element's
    measure is the one consumed row's cents."""
    import random

    rng = random.Random(0x73AE)
    pattern = [("V", "+"), ("C", "*"), ("P", "1")]
    cases = {}
    for u in range(48):
        syms = "".join(rng.choice("VCPX") for _ in range(rng.randint(1, 40)))
        cases[u] = (syms, [rng.randint(-500, 500) for _ in syms])
    rows = [
        (u, i, s, c)
        for u, (syms, cents) in cases.items()
        for i, (s, c) in enumerate(zip(syms, cents))
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, seq long, sym string, cents long"
    )
    runs = encode_runs(
        ev,
        "user_id",
        ["seq"],
        "sym",
        agg_cols=[
            F.min(F.struct("seq", "cents"))["cents"].alias("first_cents"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        ],
    )
    got = sorted(
        (
            r["user_id"],
            r["e0"]["first_seq"],
            r["e0"]["sum_cents"],
            r["e0"]["max_cents"],
            r["e1"]["sum_cents"] if r["e1"] is not None else 0,
            r["e2"]["first_cents"],
        )
        for r in match_quantified(runs, pattern, "user_id").collect()
    )
    want = []
    for u, (syms, cents) in cases.items():
        for s, e in _py_match_recognize(syms, r"V+C*P"):
            span = range(s, e + 1)
            v_rows = [cents[i] for i in span if syms[i] == "V"]
            c_rows = [cents[i] for i in span if syms[i] == "C"]
            want.append(
                (u, s, sum(v_rows), max(v_rows),
                 sum(c_rows) if c_rows else 0, cents[e])
            )
    assert got == sorted(want)


def test_encode_runs_reconstruction_property(spark):
    """Property (one Spark job, 100 random keys, r11): encode_runs is
    a lossless run-length encoding — per key, concatenating sym x
    n_rows in run_id order rebuilds the original sequence; run_ids are
    dense from 0; first_seq is the position where each run starts;
    adjacent runs differ.  Includes NULL symbols (the eqNullSafe path:
    a null run is a run, and a leading null must not merge with the
    row_number()==1 run-start, the lag-null trap in encode_runs)."""
    import random

    rng = random.Random(0xE4C0)
    cases = {
        u: [rng.choice(["V", "C", "P", None]) for _ in range(rng.randint(1, 30))]
        for u in range(100)
    }
    rows = [
        (u, i, s) for u, syms in cases.items() for i, s in enumerate(syms)
    ]
    got = {}
    runs = encode_runs(_events(spark, rows), "user_id", ["seq"], "sym")
    for r in runs.collect():
        got.setdefault(r["user_id"], []).append(
            (r["run_id"], r["sym"], r["n_rows"], r["first_seq"])
        )
    for u, syms in cases.items():
        per_key = sorted(got[u])
        # dense run ids from 0
        assert [r[0] for r in per_key] == list(range(len(per_key)))
        # lossless reconstruction + run starts + maximality
        rebuilt, pos = [], 0
        prev_sym = object()
        for _, sym, n, first_seq in per_key:
            assert first_seq == pos
            assert sym != prev_sym  # adjacent runs differ (None-safe: !=)
            prev_sym = sym
            rebuilt.extend([sym] * n)
            pos += n
        assert rebuilt == syms, u


def test_randomized_differential_many_keys(spark):
    _randomized_differential(
        spark, 0xA71, 64, [("V", "+"), ("C", "*"), ("P", "1")], r"V+C*P"
    )


def test_randomized_differential_two_optionals(spark):
    # TWO '*' elements (4 disjuncts): pins the longest-first coalesce
    # order on Spark, not just in the review fuzz
    _randomized_differential(
        spark, 0x5EED, 48,
        [("V", "+"), ("X", "*"), ("C", "*"), ("P", "1")], r"V+X*C*P",
    )


# ---------------------------------------------------------------------------
# match_nfa (r12): repeated-symbol patterns via per-key backtracking NFA
# over the encoded run sequence

from lawlm_spark.operators.pattern import match_nfa  # noqa: E402


def test_nfa_repeated_symbol_skip_past_last_row(spark):
    """The case the lead-probe matcher cannot express: A+ B+ A+ over
    ABABA has candidate anchors at runs 0 AND 2, but run 2 is inside
    the first match's consumed span — sequential consumption must emit
    exactly ONE match (a window probe would emit two)."""
    rows = [(1, i, s) for i, s in enumerate("ABABA")]
    runs = _runs(spark, rows)
    got = match_nfa(
        runs, [("A", "+"), ("B", "+"), ("A", "+")], "user_id"
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["anchor_run_id"] == 0 and r["match_len_runs"] == 3
    assert (r["e0_first_seq"], r["e1_first_seq"], r["e2_first_seq"]) == (0, 1, 2)


def test_nfa_big_int_payload_exact_with_absent_optional(spark):
    """int64 exactness through the Python boundary (ADVICE r12): a key
    whose matches MIX a present and an absent '*' element used to make
    the e1_* long column float64 (list-of-dicts dtype inference), which
    corrupts values >= 2^53 on the Arrow round-trip.  The columnar
    nullable-Int64 assembly must return the payload bit-exact."""
    big = 2**53 + 1  # not representable in float64 (rounds to 2**53)
    # key 1: A C A B C -> two matches of A+ B* C+: (A,C) with B absent,
    # then (A,B,C) with B present -> e1_sum_payload mixes None and big
    rows = [
        (1, 0, "A", 7), (1, 1, "C", 7), (1, 2, "A", 7),
        (1, 3, "B", big), (1, 4, "C", 7),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, seq long, sym string, payload long"
    )
    runs = encode_runs(
        ev, "user_id", ["seq"], "sym",
        agg_cols=[F.sum("payload").alias("sum_payload")],
    )
    got = sorted(
        match_nfa(runs, [("A", "+"), ("B", "*"), ("C", "+")], "user_id").collect(),
        key=lambda r: r["anchor_run_id"],
    )
    assert [(r["e1_present"], r["e1_sum_payload"]) for r in got] == [
        (False, None), (True, big),
    ]


def test_nfa_row_level_reference_repeated(spark):
    """Differential vs the row-level greedy regex on a long mixed
    string: V+P+V+ anchors, extents and per-element counts must match
    MATCH_RECOGNIZE row semantics exactly."""
    symbols = "VVPVVPPVXVPVVPVPV"
    rows = [(1, i, s) for i, s in enumerate(symbols)]
    runs = _runs(spark, rows)
    got = sorted(
        (r["e0_first_seq"], r["e0_n_rows"], r["e1_n_rows"], r["e2_n_rows"])
        for r in match_nfa(
            runs, [("V", "+"), ("P", "+"), ("V", "+")], "user_id"
        ).collect()
    )
    want = []
    for s, e in _py_match_recognize(symbols, r"V+P+V+"):
        seg = symbols[s : e + 1]
        nv1 = len(seg) - len(seg.lstrip("V"))
        nv2 = len(seg) - len(seg.rstrip("V"))
        want.append((s, nv1, len(seg) - nv1 - nv2, nv2))
    assert got == sorted(want) and got, symbols


def test_nfa_rejects_star_gapped_same_symbol(spark):
    """Two same-symbol elements separated only by '*' elements must be
    REJECTED (r12 review finding): with the optionals absent, row-level
    matching can split one maximal run across both elements (A+ B* A+
    matches the single two-row run 'AA'), which run-level matching
    cannot express — accepting the pattern would silently under-match.
    This is also exactly the class where skipping a consumable '*'
    could beat consuming it, so with it rejected, consume-first greedy
    is exact."""
    runs = _runs(spark, [(1, 0, "A"), (1, 1, "B")])
    with pytest.raises(ValueError, match="split one"):
        match_nfa(runs, [("A", "+"), ("B", "*"), ("A", "+")], "user_id")
    with pytest.raises(ValueError, match="split one"):
        match_nfa(
            runs, [("A", "+"), ("B", "*"), ("C", "*"), ("B", "+")], "user_id"
        )
    # an intervening NON-optional breaks the gap: A+ B+ A+ stays legal
    match_nfa(runs, [("A", "+"), ("B", "+"), ("A", "+")], "user_id")


def test_nfa_optional_skip(spark):
    """Legal optional handling: A+ B* C* D+ over AD matches with both
    optionals absent; over ABD with only C* absent; over ACD with only
    B* absent — all three present-masks from one pattern."""
    rows = (
        [(1, 0, "A"), (1, 1, "D")]
        + [(2, 0, "A"), (2, 1, "B"), (2, 2, "D")]
        + [(3, 0, "A"), (3, 1, "C"), (3, 2, "D")]
    )
    runs = _runs(spark, rows)
    got = {
        r["user_id"]: (r["e1_present"], r["e2_present"], r["match_len_runs"])
        for r in match_nfa(
            runs, [("A", "+"), ("B", "*"), ("C", "*"), ("D", "+")], "user_id"
        ).collect()
    }
    assert got == {1: (False, False, 2), 2: (True, False, 3),
                   3: (False, True, 3)}


def test_nfa_agrees_with_lead_probe_matcher(spark):
    """On patterns match_quantified accepts (distinct symbols), the
    two matchers are the same function — anchors, extents, counts,
    and the '1' first-row payloads, over a randomized multi-key mix."""
    import random

    rng = random.Random(0x75AA)
    rows = []
    for u in range(24):
        s = "".join(rng.choice("VCPX") for _ in range(rng.randint(3, 40)))
        rows.extend((u, i, ch) for i, ch in enumerate(s))
    runs = _runs(spark, rows).cache()
    pattern = [("V", "+"), ("C", "*"), ("P", "1")]
    lead = sorted(
        (
            r["user_id"], r["anchor_run_id"], r["match_len_runs"],
            r["e0"]["n_rows"], r["e0"]["first_seq"],
            r["e1"]["n_rows"] if r["e1"] is not None else None,
            r["e2"]["first_seq"],
        )
        for r in match_quantified(runs, pattern, "user_id").collect()
    )
    nfa = sorted(
        (
            r["user_id"], r["anchor_run_id"], r["match_len_runs"],
            r["e0_n_rows"], r["e0_first_seq"],
            r["e1_n_rows"], r["e2_first_seq"],
        )
        for r in match_nfa(runs, pattern, "user_id").collect()
    )
    runs.unpersist()
    assert nfa == lead and lead


def test_nfa_validation(spark):
    runs = _runs(spark, [(1, 0, "A")])
    with pytest.raises(ValueError, match="adjacent"):
        match_nfa(runs, [("A", "+"), ("A", "*")], "user_id")
    with pytest.raises(ValueError, match="head"):
        match_nfa(runs, [("A", "*"), ("B", "+")], "user_id")
    with pytest.raises(ValueError, match="final"):
        match_nfa(runs, [("A", "+"), ("B", "1"), ("A", "+")], "user_id")
    with pytest.raises(ValueError, match="head symbol"):
        # final-'1' sharing the head symbol: leftover rows could anchor
        # a row-level match the run-level scan cannot see
        match_nfa(runs, [("A", "+"), ("B", "+"), ("A", "1")], "user_id")
    # and match_quantified still refuses repeats, pointing at match_nfa
    with pytest.raises(ValueError, match="match_nfa"):
        match_quantified(runs, [("A", "+"), ("B", "+"), ("A", "+")], "user_id")


def test_nfa_single_exchange_plan(spark):
    """The prefilter windows' hashpartitioning(user_id) must satisfy the
    batched map's clustering (r19: mapInPandas + in-batch groupby, one
    Python call per Arrow batch instead of per key) — ONE exchange for
    the whole pipeline, and the defensive sortWithinPartitions must be
    elided (RemoveRedundantSorts) rather than re-sorting."""
    rows = [(1, i, s) for i, s in enumerate("VVPV")]
    runs = _runs(spark, rows)
    out = match_nfa(runs, [("V", "+"), ("P", "+"), ("V", "+")], "user_id")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    ex = [ln for ln in plan.splitlines()
          if "Exchange" in ln and "Reused" not in ln]
    assert len(ex) == 1 and "hashpartitioning(user_id" in ex[0], plan
    # exactly the pipeline's two inherent sorts (encode window's
    # (user_id, seq) and the run-level (user_id, run_id)); the map's
    # defensive sortWithinPartitions must not survive planning as a third
    sorts = [ln for ln in plan.splitlines() if ln.lstrip("+- *(0123456789) ").startswith("Sort ")]
    assert len(sorts) == 2, plan


def test_nfa_batch_straddling_groups(spark):
    """The r19 mapInPandas rewrite carries a batch's trailing key-block
    into the next Arrow batch.  Force tiny Arrow batches so many keys
    straddle batch boundaries (including one key whose run sequence
    spans several whole batches) and pin the result against the same
    pipeline at the session's default batch size."""
    _ARROW = "spark.sql.execution.arrow.maxRecordsPerBatch"
    rows = []
    # key 1: a long alternating V/P sequence -> many runs, spans batches
    for i in range(120):
        rows.append((1, i, "VP"[(i // 3) % 2]))
    # keys 2..40: short sequences with and without matches
    for u in range(2, 41):
        for i, s in enumerate("VVPPVV" if u % 2 else "VVCC"):
            rows.append((u, i, s))
    runs = _runs(spark, rows)
    pattern = [("V", "+"), ("P", "+"), ("V", "+")]

    def collect(df):
        return sorted(
            (r["user_id"], r["anchor_run_id"], r["match_len_runs"])
            for r in df.collect()
        )

    baseline = collect(match_nfa(runs, pattern, "user_id"))
    assert baseline  # non-trivial: matches exist
    old = spark.conf.get(_ARROW, None)
    spark.conf.set(_ARROW, "7")
    try:
        tiny = collect(match_nfa(runs, pattern, "user_id"))
    finally:
        if old is None:
            spark.conf.unset(_ARROW)
        else:
            spark.conf.set(_ARROW, old)
    assert tiny == baseline


def test_nfa_randomized_row_level_differential(spark):
    """Seeded randomized differential for the NFA matcher: many keys,
    random symbol strings, THREE repeated-symbol patterns — anchors,
    extents and per-element row counts must equal the row-level greedy
    regex (the true MATCH_RECOGNIZE semantics) on every key.  The
    single-string test pins one trace; this pins the space."""
    import random

    rng = random.Random(0x75D1FF)
    cases = [
        ([("V", "+"), ("P", "+"), ("V", "+")], r"V+P+V+"),
        ([("A", "+"), ("B", "+"), ("A", "+"), ("B", "+")], r"A+B+A+B+"),
        # optional element between repeats (gap contains a non-'*').
        # NB the regex twin of a '*' ELEMENT is C* (a whole maximal
        # run = zero or MORE rows), not C? (r12 second review: C? only
        # passed by seed luck — no generated string had a multi-row C
        # run in match position)
        ([("V", "+"), ("C", "*"), ("P", "+"), ("V", "+")], r"V+C*P+V+"),
    ]
    for pattern, rx in cases:
        alphabet = sorted({s for s, _ in pattern}) + ["X"]
        rows = []
        strings = {}
        for u in range(40):
            s = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
            strings[u] = s
            rows.extend((u, i, ch) for i, ch in enumerate(s))
        runs = _runs(spark, rows)
        got = sorted(
            (r["user_id"], r["e0_first_seq"])
            for r in match_nfa(runs, pattern, "user_id").collect()
        )
        want = sorted(
            (u, s0)
            for u, s in strings.items()
            for s0, _ in _py_match_recognize(s, rx)
        )
        assert got == want, (pattern, [
            (u, strings[u]) for u in {g[0] for g in set(got) ^ set(want)}
        ])


def test_alternation_via_upstream_symbol_mapping(spark):
    """The documented composition for alternation groups (module
    docstring): map the alternation into ONE symbol before
    encode_runs, which turns the row-level chain into a single run.
    `(V|C)+ P` becomes symbol 'VC' + pattern [(VC,+),(P,1)] and must
    equal the row-level greedy regex [VC]+P on the original symbols."""
    symbols = "VCVVPCCPXVCPPVV"
    rows = [(1, i, s) for i, s in enumerate(symbols)]
    ev = _events(spark, rows).withColumn(
        "sym",
        F.when(F.col("sym").isin("V", "C"), F.lit("VC"))
        .otherwise(F.col("sym")),
    )
    runs = encode_runs(ev, "user_id", ["seq"], "sym")
    got = sorted(
        (r["e0"]["first_seq"], r["e0"]["n_rows"], r["e1"]["first_seq"])
        for r in match_quantified(
            runs, [("VC", "+"), ("P", "1")], "user_id"
        ).collect()
    )
    want = sorted(
        (s, e - s, e)  # [VC]+ rows then the single consumed P row
        for s, e in _py_match_recognize(symbols, r"[VC]+P")
    )
    assert got == want and got


def test_nfa_core_property_vs_regex():
    """Hypothesis property: the pure NFA core (_scan_runs, extracted in
    r12 exactly so this test needs no Spark job per example) agrees
    with the row-level greedy-regex reference on RANDOM valid patterns
    over RANDOM symbol strings — anchors and extents, thousands of
    (pattern, string) pairs.  The regex twin: '+' -> 'S+', '*' -> 'S*',
    final '1' -> 'S' (one row), bounded '{n,}'/'{n,m}' -> the same
    regex quantifier (r13: the generator draws bounded quants too, so
    the mid-pattern row-exactness argument is property-checked, not
    just proven in the docstring); run-level assignments are mapped
    back to row extents through the run boundaries."""
    import re as _re

    from hypothesis import given, settings, strategies as st

    from lawlm_spark.operators.pattern import (
        _scan_runs,
        _validate_pattern,
    )

    alphabet = "ABC"

    def valid_patterns():
        mid_q = ["+", "*", "{1,2}", "{2,}", "{2,3}"]
        head_q = ["+", "{1,}", "{2,}"]
        final_q = ["+", "*", "1", "{2,}"]

        def build(draw):
            n = draw(st.integers(2, 4))
            elems = []
            for i in range(n):
                sym = draw(st.sampled_from(alphabet))
                if i == 0:
                    q = draw(st.sampled_from(head_q))
                elif i == n - 1:
                    q = draw(st.sampled_from(final_q))
                else:
                    q = draw(st.sampled_from(mid_q))
                elems.append((sym, q))
            return elems
        return st.composite(build)()

    def runs_of(s):
        out = []
        for ch in s:
            if out and out[-1][0] == ch:
                out[-1][1] += 1
            else:
                out.append([ch, 1])
        return out

    @settings(max_examples=2000, deadline=None)
    @given(pattern=valid_patterns(),
           s=st.text(alphabet=alphabet + "X", max_size=30))
    def check(pattern, s):
        try:
            _validate_pattern(pattern, allow_repeats=True)
        except ValueError:
            return  # invalid pattern: rejection is its own contract
        # regex twin over ROWS
        rx = _re.compile("".join(
            _re.escape(sym) + ("" if q == "1" else q)
            for sym, q in pattern
        ))
        want = []
        i = 0
        while i < len(s):
            m = rx.match(s, i)
            if m and m.end() > m.start():
                want.append((m.start(), m.end() - 1))
                i = m.end()
            else:
                i += 1
        # run-level scan mapped back to row extents
        runs = runs_of(s)
        seq_syms = [r[0] for r in runs]
        seq_lens = [r[1] for r in runs]
        starts = []
        acc = 0
        for _sym, n in runs:
            starts.append(acc)
            acc += n
        got = []
        for assign in _scan_runs(seq_syms, pattern, seq_lens):
            first = min(assign.values())
            last = max(assign.values())
            start_row = starts[first]
            if pattern[-1][1] == "1" and (len(pattern) - 1) in assign:
                end_row = starts[assign[len(pattern) - 1]]  # first row only
            else:
                end_row = starts[last] + runs[last][1] - 1
            got.append((start_row, end_row))
        assert got == want, (pattern, s)

    check()


# ---------------------------------------------------------------------------
# bounded quantifiers '{n,}' / '{n,m}' (r13) + map_symbols


from lawlm_spark.operators.pattern import map_symbols  # noqa: E402


def test_bounded_quantified_matches_row_level_reference(spark):
    """V{2,} C{1,2} P1 over the standard symbol mix must agree with the
    row-level greedy regex — mid-pattern finite bounds are row-exact
    (module docstring), and this pins extents + element counts."""
    rows = [(1, i, s) for i, s in enumerate(SYMS)]
    runs = _runs(spark, rows)
    got = sorted(
        (r["e0"]["first_seq"], r["e2"]["first_seq"],
         r["e0"]["n_rows"], r["e1"]["n_rows"])
        for r in match_quantified(
            runs, [("V", "{2,}"), ("C", "{1,2}"), ("P", "1")], "user_id"
        ).collect()
    )
    want = sorted(
        (start, end, SYMS[start:end].count("V"), SYMS[start:end].count("C"))
        for start, end in _py_match_recognize(SYMS, r"V{2,}C{1,2}P")
    )
    assert got == want and got  # non-vacuous


def test_bounded_lower_bound_filters_short_runs(spark):
    # key 1: single V then P (V run too short for {2,}); key 2: VV P
    rows = [(1, 0, "V"), (1, 1, "P"), (2, 0, "V"), (2, 1, "V"), (2, 2, "P")]
    runs = _runs(spark, rows)
    got = {r["user_id"] for r in match_quantified(
        runs, [("V", "{2,}"), ("P", "1")], "user_id").collect()}
    assert got == {2}


def test_bounded_nfa_repeated_symbol(spark):
    """Bounds on the NFA path: V+ P{1,2} V+ — the purchase run must
    hold 1-2 rows.  Key 1 has a 3-row P run (no match); key 2 a 2-row
    one (match)."""
    rows = (
        [(1, i, s) for i, s in enumerate("VPPPV")]
        + [(2, i, s) for i, s in enumerate("VPPV")]
    )
    runs = _runs(spark, rows)
    got = {r["user_id"]: (r["e1_n_rows"], r["match_len_runs"])
           for r in match_nfa(
               runs, [("V", "+"), ("P", "{1,2}"), ("V", "+")], "user_id"
           ).collect()}
    assert got == {2: (2, 3)}


def test_bounded_validation(spark):
    runs = _runs(spark, [(1, 0, "A")])
    with pytest.raises(ValueError, match="HEAD"):
        match_quantified(runs, [("A", "{1,3}"), ("B", "+")], "user_id")
    with pytest.raises(ValueError, match="FINAL"):
        match_quantified(runs, [("A", "+"), ("B", "{1,3}")], "user_id")
    with pytest.raises(ValueError, match="n >= 1"):
        match_quantified(runs, [("A", "+"), ("B", "{0,3}"), ("C", "+")], "user_id")
    with pytest.raises(ValueError, match="upper < lower"):
        match_quantified(runs, [("A", "+"), ("B", "{3,2}"), ("C", "+")], "user_id")
    with pytest.raises(ValueError, match="quantifier"):
        match_quantified(runs, [("A", "+"), ("B", "{a,b}")], "user_id")
    # '{n,}' is legal on head AND final (min-only is row-exact there)
    match_quantified(runs, [("A", "{2,}"), ("B", "{1,}")], "user_id").collect()


def test_map_symbols_alternation_composition(spark):
    """The documented (A|B)+ C idiom: map V,C -> 'E' (engagement) at
    row level, so alternating V/C rows collapse into ONE run, then
    match E+ P1 — and agree with the row-level regex [VC]+P over the
    original symbols."""
    ev = _events(spark, [(1, i, s) for i, s in enumerate(SYMS)])
    mapped = map_symbols(ev, "sym", {"E": ["V", "C"]})
    runs = encode_runs(mapped, "user_id", ["seq"], "sym")
    got = sorted(
        (r["e0"]["first_seq"], r["e1"]["first_seq"], r["e0"]["n_rows"])
        for r in match_quantified(
            runs, [("E", "+"), ("P", "1")], "user_id"
        ).collect()
    )
    want = sorted(
        (start, end, end - start)
        for start, end in _py_match_recognize(SYMS, r"[VC]+P")
    )
    assert got == want and got


def test_map_symbols_other_and_validation(spark):
    ev = _events(spark, [(1, 0, "V"), (1, 1, "C"), (1, 2, "P"), (1, 3, "Q")])
    out = {r["seq"]: r["sym"] for r in
           map_symbols(ev, "sym", {"E": ["V", "C"]}, other="X").collect()}
    assert out == {0: "E", 1: "E", 2: "X", 3: "X"}
    # pass-through without `other`
    out2 = {r["seq"]: r["sym"] for r in
            map_symbols(ev, "sym", {"E": ["V", "C"]}).collect()}
    assert out2 == {0: "E", 1: "E", 2: "P", 3: "Q"}
    with pytest.raises(ValueError, match="disjoint"):
        map_symbols(ev, "sym", {"E": ["V", "C"], "F": ["C", "P"]})
    with pytest.raises(ValueError, match="empty"):
        map_symbols(ev, "sym", {"E": []})
    # ADVICE r13: an empty groups DICT must be a clear ValueError, not
    # an AttributeError on None.otherwise
    with pytest.raises(ValueError, match="non-empty"):
        map_symbols(ev, "sym", {})
    # ADVICE r13: a target colliding with ANOTHER group's member would
    # silently rename the colliding rows away while fresh rows take
    # their symbol — rejected
    with pytest.raises(ValueError, match="target"):
        map_symbols(ev, "sym", {"E": ["V"], "V": ["C"]})
    # ... but a target that is a member of its OWN group is the
    # identity mapping (fold C into the existing V symbol) — allowed
    out3 = {r["seq"]: r["sym"] for r in
            map_symbols(ev, "sym", {"V": ["V", "C"]}).collect()}
    assert out3 == {0: "V", 1: "V", 2: "P", 3: "Q"}


def test_bounded_effectively_final_rejected(spark):
    """The class the hypothesis property caught during development:
    A+ C{1,2} A* over 'ACCC' row-level under-consumes the C run (takes
    CC, ends with A* absent) — a finite upper bound on an element whose
    successors are all '*' must be rejected, not silently under-match."""
    runs = _runs(spark, [(1, 0, "A")])
    with pytest.raises(ValueError, match="FINAL"):
        match_nfa(runs, [("A", "+"), ("C", "{1,2}"), ("A", "*")], "user_id")
    with pytest.raises(ValueError, match="FINAL"):
        match_quantified(
            runs,
            [("A", "+"), ("C", "{1,2}"), ("B", "*"), ("D", "*")],
            "user_id",
        )
    # a required element after it makes the same bound legal
    match_quantified(
        runs, [("A", "+"), ("C", "{1,2}"), ("B", "*"), ("D", "+")], "user_id"
    ).collect()


def test_bounded_single_exchange_plan(spark):
    """The v76 plan claim: run-length bounds are predicates on the
    existing probe window, not stages — same single Exchange as the
    unbounded matcher."""
    ev = spark.range(1000).select(
        (F.col("id") % 50).alias("user_id"),
        F.col("id").alias("seq"),
        F.element_at(
            F.array(F.lit("V"), F.lit("C"), F.lit("P"), F.lit("X")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("sym"),
    )
    runs = encode_runs(ev, "user_id", ["seq"], "sym")
    m = match_quantified(
        runs, [("V", "{2,}"), ("C", "{1,2}"), ("P", "1")], "user_id"
    )
    plan = m._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_nfa_null_key_matches_like_any_key(spark):
    """A NULL key's runs form one group, as Spark's window partitioning
    makes them: Arrow hands the nullable long key over as float64 and
    NaN != NaN must not split the group into one group per run.  Tiny
    Arrow batches also carry the null key's block across batches."""
    _ARROW = "spark.sql.execution.arrow.maxRecordsPerBatch"
    rows = [(k, i, s) for k in (None, 1) for i, s in enumerate("ABABA")]
    runs = _runs(spark, rows)
    pattern = [("A", "+"), ("B", "+"), ("A", "+")]

    def collect():
        return sorted(
            (r["user_id"] is None, r["anchor_run_id"], r["match_len_runs"])
            for r in match_nfa(runs, pattern, "user_id").collect()
        )

    want = [(False, 0, 3), (True, 0, 3)]
    assert collect() == want
    old = spark.conf.get(_ARROW, None)
    spark.conf.set(_ARROW, "2")
    try:
        assert collect() == want
    finally:
        if old is None:
            spark.conf.unset(_ARROW)
        else:
            spark.conf.set(_ARROW, old)


def test_nfa_null_payload_in_long_column(spark):
    """A NULL in an input long run column (Arrow hands the group a
    float64 column with NaN) must round-trip as a true NULL through the
    columnar Int64 assembly, not corrupt or crash."""
    rows = [(1, 0, "A", None), (1, 1, "B", 7), (1, 2, "A", 9)]
    ev = spark.createDataFrame(
        rows, "user_id long, seq long, sym string, payload long"
    )
    runs = encode_runs(
        ev, "user_id", ["seq"], "sym",
        agg_cols=[F.max("payload").alias("max_payload")],
    )
    got = match_nfa(
        runs, [("A", "+"), ("B", "+"), ("A", "+")], "user_id"
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["e0_max_payload"] is None
    assert (r["e1_max_payload"], r["e2_max_payload"]) == (7, 9)


# ---------------------------------------------------------------------------
# PERMUTE (r14): order-free element sets over the run sequence

from lawlm_spark.operators.pattern import (  # noqa: E402
    _scan_permute,
    _validate_permute,
    match_permute,
)


def test_permute_matches_any_order_with_forced_payload_mapping(spark):
    # user 1: V C P; user 2: P V C; user 3: C P V — all must match
    # PERMUTE(V+, C+, P+), and e0 must always carry the V run
    rows = []
    for u, order in [(1, "VCP"), (2, "PVC"), (3, "CPV")]:
        s = "".join(c * (u + 1) for c in order)  # run lengths u+1
        rows.extend((u, i, ch) for i, ch in enumerate(s))
    runs = _runs(spark, rows)
    m = match_permute(
        runs, [("V", "+"), ("C", "+"), ("P", "+")], "user_id"
    ).collect()
    got = {r["user_id"]: (r["perm"], r["e0_sym"], r["e0_n_rows"],
                          r["e1_sym"], r["e2_sym"]) for r in m}
    assert got == {
        1: ("VCP", "V", 2, "C", "P"),
        2: ("PVC", "V", 3, "C", "P"),
        3: ("CPV", "V", 4, "C", "P"),
    }


def test_permute_skip_past_last_row_on_overlap(spark):
    # runs A B A: the anchor at run 1 (B A) sits inside the first
    # match's span — exactly one match survives, then ABAB gives two
    one = _runs(spark, [(1, i, s) for i, s in enumerate("ABA")])
    m1 = match_permute(one, [("A", "+"), ("B", "+")], "user_id").collect()
    assert [(r["anchor_run_id"], r["perm"]) for r in m1] == [(0, "AB")]
    two = _runs(spark, [(1, i, s) for i, s in enumerate("ABAB")])
    m2 = sorted(
        (r["anchor_run_id"], r["perm"])
        for r in match_permute(two, [("A", "+"), ("B", "+")], "user_id").collect()
    )
    assert m2 == [(0, "AB"), (2, "AB")]


def test_permute_lower_bounds(spark):
    # V{2,} rejects the single-V ordering but accepts the double
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("VP")]
                 + [(2, i, s) for i, s in enumerate("VVP")])
    m = match_permute(runs, [("V", "{2,}"), ("P", "+")], "user_id").collect()
    assert [r["user_id"] for r in m] == [2]


def test_permute_validation():
    with pytest.raises(ValueError, match="at least 2"):
        _validate_permute([("A", "+")])
    with pytest.raises(ValueError, match="distinct"):
        _validate_permute([("A", "+"), ("A", "+")])
    with pytest.raises(ValueError, match="ambiguous across permutations"):
        _validate_permute([("A", "+"), ("B", "*")])
    # finite upper bounds are legal since r15 (two-sided boundary scan),
    # and '1' is exact-one-row sugar for '{1,1}'
    _validate_permute([("A", "+"), ("B", "1")])
    _validate_permute([("A", "{1,2}"), ("B", "+")])
    with pytest.raises(ValueError, match="upper < lower"):
        _validate_permute([("A", "{3,2}"), ("B", "+")])
    with pytest.raises(ValueError, match="n >= 1"):
        _validate_permute([("A", "{0,2}"), ("B", "+")])
    with pytest.raises(ValueError, match="at most 5"):
        _validate_permute([(c, "+") for c in "ABCDEF"])


def test_permute_single_exchange_plan(spark):
    """Same shape contract as match_nfa: the prefilter windows'
    hashpartitioning(user_id) satisfies the batched map's clustering
    (r19 mapInPandas) — ONE exchange total."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("VCP")])
    out = match_permute(runs, [("V", "+"), ("C", "+"), ("P", "+")], "user_id")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    ex = [ln for ln in plan.splitlines()
          if "Exchange" in ln and "Reused" not in ln]
    assert len(ex) == 1 and "hashpartitioning(user_id" in ex[0], plan


def test_permute_bounded_head_suffix_anchor(spark):
    """A{1,2} head over the run AAAB: the row-level match starts
    MID-RUN (last 2 A-rows), reported via anchor_off=1 and
    e0_rows_used=2 while e0_n_rows stays the full run length."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("AAAB")])
    m = match_permute(runs, [("A", "{1,2}"), ("B", "+")], "user_id").collect()
    assert len(m) == 1
    r = m[0]
    assert (r["anchor_run_id"], r["anchor_off"], r["perm"]) == (0, 1, "AB")
    assert (r["e0_n_rows"], r["e0_rows_used"]) == (3, 2)
    assert (r["e1_n_rows"], r["e1_rows_used"]) == (1, 1)


def test_permute_bounded_final_leftover_anchors_next_match(spark):
    """B{1,1} final over ABBA: match 1 consumes A + the first B row;
    the leftover B row heads match 2 (B{1,1} then A+) — the mid-run
    resume the pre-r15 whole-run scan could not see."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("ABBA")])
    m = sorted(
        (r["anchor_run_id"], r["anchor_off"], r["perm"],
         r["e0_rows_used"], r["e1_rows_used"])
        for r in match_permute(
            runs, [("A", "+"), ("B", "{1,1}")], "user_id"
        ).collect()
    )
    assert m == [(0, 0, "AB", 1, 1), (1, 1, "BA", 1, 1)]


def test_permute_bounded_interior_exact_length(spark):
    """An interior element's finite bound is an exact run-length gate:
    C{1,2} between V and P rejects a 3-row C run, accepts 2."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("VCCCP")]
                 + [(2, i, s) for i, s in enumerate("VCCP")])
    m = match_permute(
        runs, [("V", "+"), ("C", "{1,2}"), ("P", "+")], "user_id"
    ).collect()
    assert [r["user_id"] for r in m] == [2]


def test_permute_unbounded_schema_unchanged(spark):
    """No finite bound -> no anchor_off / rows_used columns: the
    certified v78 surface's schema is byte-identical post-r15."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("VCP")])
    cols = match_permute(
        runs, [("V", "{2,}"), ("C", "+"), ("P", "+")], "user_id"
    ).columns
    assert "anchor_off" not in cols
    assert not any(c.endswith("_rows_used") for c in cols)


def test_permute_one_quantifier_is_exact_one_row_sugar(spark):
    """('B', '1') must behave exactly like ('B', '{1,1}') — same
    matches, same boundary columns — under the two-sided scan (the
    pre-r15 rejection message claimed an impossibility the bounded
    scan disproves)."""
    runs = _runs(spark, [(1, i, s) for i, s in enumerate("ABBA")])
    lit = sorted(
        tuple(r)
        for r in match_permute(
            runs, [("A", "+"), ("B", "{1,1}")], "user_id"
        ).collect()
    )
    sugar = sorted(
        tuple(r)
        for r in match_permute(
            runs, [("A", "+"), ("B", "1")], "user_id"
        ).collect()
    )
    assert sugar == lit and len(sugar) == 2


def test_permute_core_property_vs_regex():
    """Hypothesis property (the r13 discipline): _scan_permute agrees
    with the row-level reference — the regex alternation of ALL
    element permutations (SQL:2016's PERMUTE expansion), leftmost
    scan, SKIP PAST LAST ROW — on random element sets over random
    strings.  Distinct symbols make the expansion choice forced, so
    alternation order cannot matter; the property checks ROW extents
    (anchor row through last consumed row), not just anchors — with
    finite upper bounds in the quantifier pool this exercises the r15
    two-sided boundary scan: mid-run anchors (head suffix), mid-run
    match ends (final prefix), and leftover rows anchoring the next
    match."""
    import itertools
    import re as _re

    from hypothesis import given, settings, strategies as st

    alphabet = "ABC"

    def element_sets():
        def build(draw):
            n = draw(st.integers(2, 3))
            syms = draw(st.permutations(list(alphabet)))[:n]
            return [
                (s, draw(st.sampled_from(
                    ["+", "{2,}", "{3,}", "{1,1}", "{1,2}", "{2,3}", "{2,2}"]
                )))
                for s in syms
            ]
        return st.composite(build)()

    @settings(max_examples=2000, deadline=None)
    @given(elements=element_sets(),
           s=st.text(alphabet=alphabet + "X", max_size=30))
    def check(elements, s):
        from lawlm_spark.operators.pattern import _bounds

        _validate_permute(elements)

        def qre(q):
            if q == "+":
                return "+"
            lo, hi = _bounds(q)
            return f"{{{lo},}}" if hi is None else f"{{{lo},{hi}}}"

        rx = _re.compile("(?:" + "|".join(
            "".join(f"{sym}{qre(q)}" for sym, q in perm)
            for perm in itertools.permutations(elements)
        ) + ")")
        want = []
        i = 0
        while i < len(s):
            m = rx.match(s, i)
            if m and m.end() > m.start():
                want.append((m.start(), m.end() - 1))
                i = m.end()
            else:
                i += 1
        runs = []
        for ch in s:
            if runs and runs[-1][0] == ch:
                runs[-1][1] += 1
            else:
                runs.append([ch, 1])
        starts, acc = [], 0
        for _sym, n in runs:
            starts.append(acc)
            acc += n
        got = []
        for assign, used, anchor_off in _scan_permute(
            [r[0] for r in runs], elements, [r[1] for r in runs]
        ):
            first, last = min(assign.values()), max(assign.values())
            last_elem = max(assign, key=assign.get)
            got.append((
                starts[first] + anchor_off,
                starts[last] + used[last_elem] - 1,
            ))
        assert got == want, (elements, s)

    check()
