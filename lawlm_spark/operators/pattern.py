"""Quantified sequential-pattern matching over keyed ordered streams —
the MATCH_RECOGNIZE subset the funnel operator (funnel.py) cannot
express: row-pattern QUANTIFIERS (`A+ B* C`) with greedy matching and
the AFTER MATCH SKIP PAST LAST ROW contract (Trino/Flink/Oracle
MATCH_RECOGNIZE defaults; funnel_times only handles fixed-order
single-event stages).

Reference surface: the engine's query API (SURVEY.md §2.6 gap-ledger
"sequential patterns"); no reference file implements this — it is a
beyond-reference training-pipeline operator like d74's winnowing.

Approach — run-length encoding, not per-row NFA:

1. `encode_runs`: per key, order rows and collapse maximal runs of
   consecutive identical symbols (lag-change flag + running sum — the
   classic gaps-and-islands move).  One window partitioned on the key.
2. `match_quantified`: a pattern over DISTINCT adjacent symbols
   (`V+ C* P`) maps 1:1 onto the run sequence — `+` consumes a whole
   run (greedy, n >= 1), `*` optionally consumes a whole run, `1`
   consumes exactly the run's FIRST row (final element only — anywhere
   else the run's leftover rows sit between it and the next element
   and run-level matching would diverge from row semantics; enforced
   with ValueError).  Matching is then a constant
   number of `lead()` probes over the per-key run sequence, one
   disjunct per subset of present `*` elements.  Because the pattern
   head is a concrete symbol and runs are maximal, every candidate
   anchor yields at most one match and matches can never overlap —
   SKIP PAST LAST ROW falls out structurally instead of needing
   iterative consumption.

Scale (the 100 TB shape): ONE exchange total.  The encode window hash-
partitions on the key; the per-run aggregate groups on (key, run_id)
— a superset of the partitioning key, so Catalyst reuses the layout
with no second exchange — and the lead-probe window partitions on the
key again, also reused.  No self-join, no explode, no Python;
everything stays in whole-stage codegen.  Plan pinned by
tests/test_pattern.py::test_single_exchange_plan.

Patterns with REPEATED (non-adjacent) symbols (`A+ B+ A+`) cannot use
the lead-probe matcher: a window probe emits EVERY anchor whose
following runs fit, but with a repeated symbol a later anchor can sit
inside an earlier match's consumed span, so AFTER MATCH SKIP PAST
LAST ROW needs sequential left-to-right consumption.  `match_nfa`
(r12) covers them: a backtracking NFA over each key's ENCODED RUN
sequence via a batched mapInPandas — the Python boundary sees one row per
run, not per event, and the scan resumes after each match's last
consumed run, which is exact under the validation rules below.
`match_quantified` keeps raising ValueError for repeated symbols and
stays the fast all-JVM path when symbols are distinct.

Bounded quantifiers (r13): `{n,}` and `{n,m}` are '+' variants — the
element consumes ONE whole maximal run and additionally requires
lo <= n_rows <= hi.  n_rows is already materialized per run, so the
bound is one more predicate on the existing probe window (lead-probe
matcher) or a length check at consume time (NFA) — same ONE-exchange
plan either way.  Where run-level whole-run checking diverges from
greedy ROW semantics the pattern is rejected instead of silently
under/over-matching: a finite upper bound on the HEAD (a row-level
match can start mid-run: the last m rows of a longer run satisfy the
head) or on an EFFECTIVELY-FINAL element — one with no required
element after it, every successor '*' — where a row-level match can
consume only m of r rows and END, leaving leftovers that re-anchor
(the '1' precedent; the hypothesis property caught the all-'*'-tail
case: A+ C{1,2} A* over 'ACCC').  Mid-pattern finite bounds are
row-exact: the element's neighbors carry different symbols
(adjacent-distinct rule), so a row-level matcher consuming k < r rows
leaves same-symbol leftovers the next element cannot absorb — the
only row-level match consumes the whole run, which is exactly the
run-level check.

Alternation groups (`(A|B)+ C`) remain out of scope for BOTH matchers
— with a worked reason, not just a refusal (r12): a set-element at
ROW level consumes a maximal span of rows whose symbol is IN the set,
which may cover MULTIPLE runs ("chain" semantics), and when two
adjacent elements' sets overlap, row-level backtracking can SPLIT a
single run between them ([AB]+[BC]+ over rows "ABB" puts the first B
in element 0 and the second in element 1) — unexpressible at run
granularity.  Disjoint-adjacent-sets + chain consumption would be
exact, but per-element payloads then aggregate over a VARIABLE number
of runs, and `agg_cols` are caller-supplied expressions with no
generic combine step (a sum re-sums, a first_* takes the chain head,
an arbitrary expression has no answer).  Until a caller needs it,
the honest boundary is ValueError here and composition upstream: map
the alternation into ONE symbol before encode_runs (`map_symbols`,
the tested one-liner for exactly this), which makes the chain a
single run and every rule above apply unchanged.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_QUANTS = ("+", "*", "1")
_BOUND_RE = re.compile(r"^\{(\d+),(\d*)\}$")


def _bounds(q: str) -> tuple[int, int | None] | None:
    """(lo, hi) for a bounded quantifier '{n,}' / '{n,m}', else None.
    Bounded elements are '+' variants: they consume ONE whole maximal
    run and additionally require lo <= n_rows <= hi.  Pure, shared by
    validation, the lead-probe conditions, and the NFA core."""
    m = _BOUND_RE.match(q)
    if not m:
        return None
    lo = int(m.group(1))
    hi = int(m.group(2)) if m.group(2) else None
    return lo, hi


def encode_runs(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    sym_col: str,
    agg_cols: Sequence[Column] = (),
) -> DataFrame:
    """(key, run_id, sym, n_rows, first_<order>, *agg_cols): maximal
    runs of consecutive identical `sym_col` values per key.  run_id is
    dense and ordered (0-based per key).  `order_cols` must be a total
    order within each key (pass a unique tiebreaker last — otherwise
    run boundaries are nondeterministic).  Extra per-run aggregates go
    in `agg_cols` (evaluated in the groupBy)."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    # first row is ALWAYS a run start — lag() is NULL there, and a NULL
    # first symbol would otherwise eqNullSafe-match it (run_id = -1)
    chg = (
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .when(F.lag(sym_col).over(w).eqNullSafe(F.col(sym_col)), F.lit(0))
        .otherwise(F.lit(1))
    )
    runs = df.withColumn("_chg", chg).withColumn(
        "run_id",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )
    # first row of the run = lexicographic min over the ORDER TUPLE —
    # min(struct(...)) is the arg-min idiom both Spark and DuckDB
    # support (per-column min() would disagree with the row order
    # whenever the order columns aren't co-monotone within a run)
    first_ord = F.min(F.struct(*order_cols)).alias("_first_ord")
    agg = runs.groupBy(key_col, "run_id").agg(
        F.first(sym_col).alias("sym"),
        F.count(F.lit(1)).alias("n_rows"),
        first_ord,
        *agg_cols,
    )
    return agg.select(
        *[c for c in agg.columns if c != "_first_ord"],
        *[F.col(f"_first_ord.{c}").alias(f"first_{c}") for c in order_cols],
    )


def map_symbols(
    df: DataFrame,
    sym_col: str,
    groups: dict[str, Sequence[str]],
    other: str | None = None,
) -> DataFrame:
    """Collapse alternation groups into single symbols BEFORE
    encode_runs — the module-docstring composition idiom as a tested
    one-liner: `(A|B)+ C` becomes `map_symbols(df, "sym", {"AB":
    ["A", "B"]})` then pattern `AB+ C`.  Mapping happens at ROW level,
    so a chain of alternating A/B rows collapses into ONE maximal
    'AB' run and every run-level rule applies unchanged.  Member sets
    must be disjoint (ValueError otherwise — overlap would make the
    mapping order-dependent), and a group target must not collide with
    ANOTHER group's member (the colliding rows would be renamed away
    while fresh rows take their symbol — quietly order-dependent); a
    target that is a member of its OWN group is the identity mapping
    and fine.  Unmapped symbols pass through, or are rewritten to
    `other` when given.  NOTE: a target equal to a passthrough symbol
    already in the data merges mapped and pre-existing rows into one
    run — that is the intended way to fold new symbols into an
    existing one, not an error this function can detect."""
    if not groups:
        raise ValueError("groups must be non-empty")
    seen: dict[str, str] = {}
    for target, members in groups.items():
        if not members:
            raise ValueError(f"empty alternation group {target!r}")
        for s in members:
            if s in seen:
                raise ValueError(
                    f"symbol {s!r} appears in groups {seen[s]!r} and "
                    f"{target!r} — member sets must be disjoint"
                )
            seen[s] = target
    for target in groups:
        owner = seen.get(target)
        if owner is not None and owner != target:
            raise ValueError(
                f"group target {target!r} is a member of group {owner!r} "
                "— a target must not collide with another group's members"
            )
    expr = None
    for target, members in groups.items():
        cond = F.col(sym_col).isin(*[str(s) for s in members])
        expr = F.when(cond, F.lit(target)) if expr is None else expr.when(
            cond, F.lit(target)
        )
    fallback = F.col(sym_col) if other is None else F.lit(other)
    return df.withColumn(sym_col, expr.otherwise(fallback))


def _mask_disjuncts(syms, quants, w):
    """One disjunct per subset of present '*' elements: (absent set,
    element->run-offset map, lead-probe condition).  The present
    elements occupy consecutive run offsets 0..m-1.  Shared by
    match_quantified (the matcher itself) and match_nfa's key
    prefilter (r12 second review: the mask/offset/probe logic must
    not fork)."""
    optional = [i for i, q in enumerate(quants) if q == "*"]
    disjuncts = []
    for mask in range(1 << len(optional)):
        absent = {
            optional[j] for j in range(len(optional)) if not (mask >> j) & 1
        }
        present = [i for i in range(len(syms)) if i not in absent]
        offs = {i: o for o, i in enumerate(present)}  # element -> run offset
        cond = F.lit(True)
        for i in present:
            probe = (
                F.col("sym") if offs[i] == 0
                else F.lead("sym", offs[i]).over(w)
            )
            cond = cond & probe.eqNullSafe(F.lit(syms[i]))
            b = _bounds(quants[i])
            if b is not None:
                # bounded element: whole-run consumption PLUS a run-
                # length predicate — n_rows is already materialized per
                # run, so the bound rides the same probe window
                lo, hi = b
                nprobe = (
                    F.col("n_rows") if offs[i] == 0
                    else F.lead("n_rows", offs[i]).over(w)
                )
                cond = cond & (nprobe >= lo)
                if hi is not None:
                    cond = cond & (nprobe <= hi)
        disjuncts.append((absent, offs, cond))
    return disjuncts


def match_quantified(
    runs: DataFrame,
    pattern: Sequence[tuple[str, str]],
    key_col: str,
) -> DataFrame:
    """Match `pattern` — [(symbol, quantifier), ...] with quantifier in
    {'+', '*', '1'} or bounded '{n,}' / '{n,m}' (a '+' that also
    requires the consumed run's n_rows within bounds; module docstring
    for where finite bounds are legal) — against each key's run
    sequence.  Returns one row
    per match: (key, anchor_run_id, match_len_runs, present: array of
    booleans per pattern element, plus a `_run_<i>` struct of each
    matched element's run columns, NULL where a `*` element is absent).

    Adjacent pattern symbols must differ (runs are maximal, so equal
    neighbors can never both match) and symbols must not repeat —
    ValueError otherwise (see module docstring).

    Payload caveat for a final-element '1' (ADVICE r10): its `_run_<i>`
    struct is the WHOLE run's struct — only one row is consumed, so of
    its fields only the first_* ones reflect the consumed row; n_rows
    is the full run length, NOT 1.  Callers needing per-row counts for
    a '1' element must read first_* fields (v71 does exactly this)."""
    _validate_pattern(pattern, allow_repeats=False)
    syms = [s for s, _ in pattern]
    quants = [q for _, q in pattern]

    w = Window.partitionBy(key_col).orderBy("run_id")
    run_struct = F.struct(
        *[F.col(c) for c in runs.columns if c != key_col]
    )
    seq = runs.withColumn("_self", run_struct)

    disjuncts = _mask_disjuncts(syms, quants, w)

    # greedy tie-break between disjuncts: prefer the one consuming the
    # MOST runs (all '*' present beats any absent) — standard greedy
    # quantifier semantics.  Evaluate longest-first and take the first
    # hit via coalesce over struct payloads.
    disjuncts.sort(key=lambda d: -len(d[1]))
    payloads = []
    for absent, offs, cond in disjuncts:
        elems = []
        for i in range(len(pattern)):
            if i in absent:
                elems.append(F.lit(None).cast(seq.schema["_self"].dataType).alias(f"_run_{i}"))
            elif offs[i] == 0:
                elems.append(F.col("_self").alias(f"_run_{i}"))
            else:
                elems.append(F.lead("_self", offs[i]).over(w).alias(f"_run_{i}"))
        payloads.append(
            F.when(cond, F.struct(
                F.lit(len(offs)).alias("match_len_runs"),
                F.array(*[F.lit(i not in absent) for i in range(len(pattern))]).alias("present"),
                *elems,
            ))
        )
    m = F.coalesce(*payloads) if len(payloads) > 1 else payloads[0]
    out = (
        seq.withColumn("_m", m)
        .filter(F.col("_m").isNotNull())
        .select(
            key_col,
            F.col("run_id").alias("anchor_run_id"),
            F.col("_m.match_len_runs").alias("match_len_runs"),
            F.col("_m.present").alias("present"),
            *[F.col(f"_m._run_{i}").alias(f"e{i}") for i in range(len(pattern))],
        )
    )
    return out


def _validate_pattern(pattern: Sequence[tuple[str, str]],
                      allow_repeats: bool) -> None:
    """Shared validation.  The rules that make run-level matching
    exact (module docstring): '+' head anchor, '1' final-only, adjacent
    symbols distinct (runs are maximal), <=6 '*' elements; with
    repeats allowed (match_nfa), a final-'1' symbol must differ from
    the HEAD symbol — the '1' leaves the rest of its run unconsumed,
    and if those leftover rows carried the head symbol they could
    anchor a new row-level match the run-level scan cannot see."""
    syms = [s for s, _ in pattern]
    quants = [q for _, q in pattern]
    if not allow_repeats and len(set(syms)) != len(syms):
        raise ValueError(
            f"repeated pattern symbols need NFA matching, got {syms} "
            "(use match_nfa)"
        )
    for a, b in zip(syms, syms[1:]):
        if a == b:
            raise ValueError(
                f"adjacent pattern symbols must differ (runs are "
                f"maximal — equal neighbors can never both match): {syms}"
            )
    for q in quants:
        if q not in _QUANTS and _bounds(q) is None:
            raise ValueError(
                f"quantifier must be one of {_QUANTS} or bounded "
                f"'{{n,}}' / '{{n,m}}', got {q!r}"
            )
    # Bounded-quantifier rules — each rejection is the class where a
    # run-level whole-run check diverges from greedy ROW semantics:
    for i, q in enumerate(quants):
        b = _bounds(q)
        if b is None:
            continue
        lo, hi = b
        if lo < 1:
            raise ValueError(
                f"bounded quantifier needs n >= 1, got {q!r} (element {i}; "
                "use '*' for an optional element)"
            )
        if hi is not None and hi < lo:
            raise ValueError(f"bounded quantifier upper < lower: {q!r}")
        if hi is not None and i == 0:
            raise ValueError(
                f"finite upper bound on the HEAD element ({q!r}): a "
                "row-level match can start MID-RUN (the last m rows of a "
                "longer run satisfy the head and the next element follows) "
                "— unexpressible at run granularity; use '{n,}'"
            )
        if hi is not None and all(qq == "*" for qq in quants[i + 1:]):
            # "effectively final": every successor is '*', so with the
            # optionals absent the match can END here — caught by the
            # hypothesis property (A+ C{1,2} A* over 'ACCC': row-level
            # under-consumes the C run and matches; run-level cannot)
            raise ValueError(
                f"finite upper bound on the FINAL element ({q!r}, element "
                f"{i}; final = no required element after it): a row-level "
                "match consumes only m of the run's rows and ends, and "
                "the leftover rows can anchor a new match the run-level "
                "scan cannot see (the '1' precedent) — use '{n,}'"
            )
    if quants[0] != "+" and _bounds(quants[0]) is None:
        raise ValueError("pattern head must be '+' or '{n,}' (a '*' head "
                         "has no anchor; a '1' head mid-run breaks row "
                         "semantics)")
    if quants.count("*") > 6:
        raise ValueError(
            f"at most 6 '*' elements supported (got {quants.count('*')})"
        )
    if "1" in quants[:-1]:
        raise ValueError("'1' quantifier is only supported on the final element")
    if allow_repeats and quants[-1] == "1" and syms[-1] == syms[0]:
        raise ValueError(
            "a final-'1' element must not share the head symbol when "
            "repeats are allowed: its run's leftover rows could anchor "
            "a new row-level match the run-level scan cannot see"
        )
    # Two same-symbol elements separated ONLY by '*' elements diverge
    # from row semantics (r12 review finding): with every intervening
    # '*' absent the pair becomes adjacent-in-effect and row-level
    # matching may SPLIT one maximal run across both (A+ B* A+ matches
    # the two-row run "AA"; run-level matching cannot split a run and
    # silently under-matches).  Reject the pattern instead.  This also
    # makes consume-first greedy exact without backtracking: skipping
    # a consumable '*' only ever helps when a later element wants the
    # SAME run — exactly this rejected class.
    for i in range(len(syms)):
        for j in range(i + 1, len(syms)):
            if syms[i] == syms[j] and all(
                q == "*" for q in quants[i + 1 : j]
            ):
                raise ValueError(
                    f"elements {i} and {j} share symbol {syms[i]!r} with "
                    "only '*' elements between them: when the optionals "
                    "are absent, row-level matching can split one "
                    "maximal run across both elements, which run-level "
                    "matching cannot express — rephrase the pattern"
                )


def _run_fits(seq_lens, pos, q) -> bool:
    """Does the run at `pos` satisfy the quantifier's length bounds?
    Unbounded quants always fit; bounded ones need seq_lens."""
    b = _bounds(q)
    if b is None:
        return True
    if seq_lens is None:
        raise ValueError("bounded quantifier needs run lengths (seq_lens)")
    lo, hi = b
    n = seq_lens[pos]
    return n >= lo and (hi is None or n <= hi)


def _try_match(seq_syms, pattern, pos, ei=0, seq_lens=None):
    """Leftmost-greedy backtracking over one key's run-symbol sequence:
    returns {elem -> seq pos} for present elements, or None.  '*' tries
    consume-first, so the found assignment consumes the maximal prefix
    (same tie-break as match_quantified's longest-first coalesce).
    Bounded elements ('{n,}'/'{n,m}') consume a whole run like '+' plus
    a length check on it (seq_lens = per-run row counts).
    Pure (module-level since r12 so the hypothesis property test can
    exercise the matching core without a Spark job per example)."""
    if ei == len(pattern):
        return {}
    sym, q = pattern[ei]
    if q != "*":
        if (
            pos < len(seq_syms)
            and seq_syms[pos] == sym
            and _run_fits(seq_lens, pos, q)
        ):
            rest = _try_match(seq_syms, pattern, pos + 1, ei + 1, seq_lens)
            if rest is not None:
                rest[ei] = pos
                return rest
        return None
    # '*': greedy — consume if possible, else (backtrack) skip
    if pos < len(seq_syms) and seq_syms[pos] == sym:
        rest = _try_match(seq_syms, pattern, pos + 1, ei + 1, seq_lens)
        if rest is not None:
            rest[ei] = pos
            return rest
    return _try_match(seq_syms, pattern, pos, ei + 1, seq_lens)


def _scan_runs(seq_syms, pattern, seq_lens=None):
    """The sequential scan: leftmost anchors, greedy matches, resume
    after each match's last consumed run (AFTER MATCH SKIP PAST LAST
    ROW at run granularity).  Returns a list of {elem -> seq pos}
    assignments in match order.  Pure core of match_nfa."""
    head = pattern[0][0]
    out = []
    pos = 0
    while pos < len(seq_syms):
        if seq_syms[pos] != head:
            pos += 1
            continue
        assign = _try_match(seq_syms, pattern, pos, seq_lens=seq_lens)
        if assign is None:
            pos += 1
            continue
        out.append(assign)
        pos = max(assign.values()) + 1
    return out


def _pd_nullable_dtype(dt: T.DataType) -> str | None:
    """pandas NULLABLE dtype for a Spark output field, or None for
    object fallback.  Integer fields MUST map to pandas extension ints
    ('Int64' etc.): a numpy int column that gains a None is silently
    promoted to float64, which corrupts int64 values >= 2^53 on the
    round-trip back through Arrow."""
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.ShortType):
        return "Int16"
    if isinstance(dt, T.ByteType):
        return "Int8"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    return None


def _map_groups_sorted(runs: DataFrame, key_col: str, append_group,
                       out_dtypes, out_schema) -> DataFrame:
    """One `mapInPandas` over key-clustered, (key, run_id)-sorted
    partitions with an in-batch groupby — replacing the per-key
    `applyInPandas` the NFA/PERMUTE matchers used through r18 (one
    Python invocation + one Arrow round-trip PER KEY; ~1500 calls at
    sf0.1) with one invocation per Arrow batch (guide §4: amortize the
    Python boundary; VERDICT r18 item 2).

    Why no new exchange and why the grouping is exact: the callers'
    JVM prefilter windows (Window.partitionBy(key_col).orderBy(run_id)
    lead probes + the partitionBy-only candidate max) force Spark to
    establish hashpartitioning(key_col) with a (key, run_id) sort —
    whatever the caller passed in — and window/filter/project preserve
    both.  So when rows reach this map, every key's rows are
    co-located, contiguous and run_id-sorted.  The explicit
    sortWithinPartitions below pins that contract in the plan;
    RemoveRedundantSorts (default on) elides it when the window output
    already satisfies it, keeping the certified ONE-exchange shape
    (plan-pinned in tests/test_pattern.py).

    A key's rows can still straddle adjacent Arrow batches
    (maxRecordsPerBatch cuts a partition arbitrarily), so each batch's
    trailing key-block is carried into the next batch and flushed at
    partition end.  The carry is a list of frames concatenated once,
    when its key ends, so a key spanning many batches costs linear, not
    quadratic, copying.  Key comparisons treat two nulls as equal: a
    null key is one group, as in Spark's window partitioning (Arrow
    hands a nullable long key over as float64, where NaN != NaN).
    `append_group(group_pdf, cols)` receives one key's rows
    (run_id-sorted) and appends output cells to the `cols` lists.
    """
    import numpy as np
    import pandas as pd

    def _differs(a, b):
        na, nb = pd.isna(a), pd.isna(b)
        return np.where(na | nb, na != nb, a != b)

    def _emit(block: "pd.DataFrame"):
        cols: dict[str, list] = {name: [] for name, _ in out_dtypes}
        kv = block[key_col].to_numpy()
        cuts = np.flatnonzero(_differs(kv[1:], kv[:-1])) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(kv)]))
        for s, e in zip(starts, ends):
            append_group(block.iloc[s:e], cols)
        if not cols[key_col]:
            return None
        return pd.DataFrame(
            {
                name: (
                    pd.array(cols[name], dtype=dt)
                    if dt is not None
                    else pd.Series(cols[name], dtype="object")
                )
                for name, dt in out_dtypes
            }
        )

    def _flush(frames: list):
        return _emit(
            frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        )

    def _map(batches):
        carry: list = []  # frames of one key, the last one seen
        for pdf in batches:
            if not len(pdf):
                continue
            kv = pdf[key_col].to_numpy()
            # keys are contiguous: the trailing equal-run starts right
            # after the last row belonging to any OTHER key
            other = np.flatnonzero(_differs(kv, kv[-1]))
            cut = int(other[-1]) + 1 if len(other) else 0
            if cut or (carry and _differs(carry[-1][key_col].iat[0], kv[-1])):
                out = _flush(carry + ([pdf.iloc[:cut]] if cut else []))
                if out is not None:
                    yield out
                carry = []
            carry.append(pdf.iloc[cut:])
        if carry:
            out = _flush(carry)
            if out is not None:
                yield out

    return runs.sortWithinPartitions(key_col, "run_id").mapInPandas(
        _map, out_schema
    )


def match_nfa(
    runs: DataFrame,
    pattern: Sequence[tuple[str, str]],
    key_col: str,
) -> DataFrame:
    """Sequential NFA matching over encoded runs — the generalization
    match_quantified refuses: patterns whose symbols REPEAT at
    non-adjacent positions (`A+ B+ A+`).  Backtracking is leftmost-
    greedy ('*' tries consume before skip), matches are found by a
    left-to-right scan that resumes after each match's last consumed
    run — AFTER MATCH SKIP PAST LAST ROW by construction, which the
    lead-probe matcher cannot express once a symbol repeats (a later
    anchor may sit inside an earlier match's span).

    Output is FLAT (one row per match): key, anchor_run_id,
    match_len_runs, then per pattern element i every run column c
    (except the key) as `e{i}_{c}`, NULL when a '*' element is absent,
    plus `e{i}_present`.  On patterns match_quantified accepts, the
    two matchers agree exactly (pinned in tests/test_pattern.py).

    Scale shape: the prefilter windows force hashpartitioning(key),
    so the whole pipeline still
    runs on ONE exchange (plan-pinned); the Python boundary carries
    one Arrow row per RUN (the collapsed sequence), not per event —
    the pay-for-generality path, ~#symbol-changes rows — and is crossed
    once per Arrow BATCH, not per key (_map_groups_sorted, r19).
    Prefer match_quantified (all-JVM) when symbols don't repeat."""
    _validate_pattern(pattern, allow_repeats=True)
    syms = [s for s, _ in pattern]
    quants = [q for _, q in pattern]
    k = len(pattern)

    run_cols = [c for c in runs.columns if c != key_col]
    schema_by_name = {f.name: f.dataType for f in runs.schema.fields}
    out_fields = [
        runs.schema[key_col],
        T.StructField("anchor_run_id", T.LongType()),
        T.StructField("match_len_runs", T.IntegerType()),
    ]
    for i in range(k):
        out_fields.append(T.StructField(f"e{i}_present", T.BooleanType()))
        for c in run_cols:
            out_fields.append(T.StructField(f"e{i}_{c}", schema_by_name[c]))
    out_schema = T.StructType(out_fields)

    # JVM-side key prefilter (r12 bench: 6.9 s -> Python saw every run
    # of every key).  A match consumes CONSECUTIVE runs whose symbols
    # are the present elements in order, so its anchor satisfies one of
    # the v71-style lead disjuncts; a key with no candidate anchor
    # under ANY present-mask cannot match.  Both windows ride the same
    # hashpartitioning the batched map needs — still ONE exchange
    # (plan-pinned) — and only candidate keys cross the Python
    # boundary.  Over-approximation is safe: the NFA still decides.
    wlead = Window.partitionBy(key_col).orderBy("run_id")
    any_cand = F.lit(False)
    for _absent, _offs, cond in _mask_disjuncts(syms, quants, wlead):
        any_cand = any_cand | cond
    key_has = F.max(any_cand.cast("int")).over(
        Window.partitionBy(key_col)
    )
    runs = (
        runs.withColumn("_cand", key_has)
        .filter(F.col("_cand") == 1)
        .drop("_cand")
    )

    pattern_t = [(s, q) for s, q in pattern]
    # Columnar assembly with EXPLICIT pandas nullable dtypes: a
    # list-of-dicts DataFrame infers float64 for any long column that
    # mixes ints with None (an absent '*' element in at least one match
    # of the key), and the float64 round-trip silently corrupts int64
    # values >= 2^53 before Arrow casts back — the same class the
    # enrichment ffill fixed in r11.  pd.array with 'Int64' keeps
    # absent elements true nulls and big ints exact.
    out_dtypes = [(f.name, _pd_nullable_dtype(f.dataType)) for f in out_fields]

    def _append_group(g: "pd.DataFrame", cols: dict) -> None:
        # g is one key's rows, already run_id-sorted (_map_groups_sorted)
        lens = g["n_rows"].tolist() if "n_rows" in g.columns else None
        assigns = _scan_runs(g["sym"].tolist(), pattern_t, lens)
        if not assigns:
            return
        key_val = g[key_col].iloc[0]
        for assign in assigns:
            anchor = min(assign.values())
            cols[key_col].append(key_val)
            cols["anchor_run_id"].append(int(g["run_id"].iloc[anchor]))
            cols["match_len_runs"].append(len(assign))
            for i in range(k):
                present = i in assign
                cols[f"e{i}_present"].append(present)
                for c in run_cols:
                    cols[f"e{i}_{c}"].append(
                        g[c].iloc[assign[i]] if present else None
                    )

    return _map_groups_sorted(runs, key_col, _append_group, out_dtypes, out_schema)


def _normalize_permute(
    elements: Sequence[tuple[str, str]],
) -> list[tuple[str, str]]:
    """'1' is exact-one-row sugar for '{1,1}' under the two-sided
    boundary scan (head: suffix min(avail,1); final: prefix 1 row with
    leftovers re-anchoring; interior: flanked by required different
    symbols, so the maximal run IS one row) — normalize it so the scan
    and validation see one spelling."""
    return [(sym, "{1,1}" if q == "1" else q) for sym, q in elements]


def _validate_permute(elements: Sequence[tuple[str, str]]) -> None:
    """PERMUTE-specific rules.  '*' is rejected because an absent
    optional makes the element->run mapping ambiguous across
    permutations (two expansions can claim the same span); '1' is
    accepted as sugar for '{1,1}' (see _normalize_permute).  Symbols
    must be distinct — that is what makes the
    element->run mapping FORCED and the SQL:2016 alternation-preference
    order irrelevant (the anchor row's symbol alone picks the
    expansion, so at most one can match at a given anchor).

    Finite upper bounds '{n,m}' ARE supported (r15, VERDICT r14 item
    6b): the scan tracks row offsets at both match boundaries — a
    bounded HEAD element consumes the greedy suffix min(avail, m) of
    its run (the row-level match starts mid-run), and a bounded FINAL
    element consumes the greedy prefix min(m, len), with the leftover
    rows eligible to anchor the next match (AFTER MATCH SKIP PAST
    LAST ROW lands mid-run).  Interior elements consume whole runs, so
    their bound is the exact run-length check.  See _scan_permute."""
    if len(elements) < 2:
        raise ValueError("PERMUTE needs at least 2 elements")
    if len(elements) > 5:
        raise ValueError(
            f"at most 5 PERMUTE elements supported (got {len(elements)}: "
            "the JVM anchor prefilter enumerates pairwise probes)"
        )
    syms = [s for s, _ in elements]
    if len(set(syms)) != len(syms):
        raise ValueError(
            f"PERMUTE element symbols must be distinct, got {syms} "
            "(a repeated symbol makes the element->run mapping ambiguous)"
        )
    for i, (s, q) in enumerate(_normalize_permute(elements)):
        if q == "+":
            continue
        b = _bounds(q)
        if b is None:
            raise ValueError(
                f"PERMUTE quantifier must be '+', '1', '{{n,}}' or "
                f"'{{n,m}}', got {q!r} (element {i} {s!r}): '*' makes "
                "the element->run mapping ambiguous across permutations "
                "(see _validate_permute)"
            )
        lo, hi = b
        if hi is not None and hi < lo:
            raise ValueError(f"PERMUTE bound upper < lower: {q!r}")
        if lo < 1:
            raise ValueError(f"PERMUTE bound needs n >= 1, got {q!r}")


def _scan_permute(seq_syms, elements, seq_lens):
    """Pure core of match_permute: leftmost anchors over the run
    sequence, FORCED element->run mapping (distinct symbols), resume
    past each match's last consumed row (AFTER MATCH SKIP PAST LAST
    ROW).  A match is m CONSECUTIVE runs whose symbol set equals the
    element set, with a TWO-SIDED boundary discipline for finite upper
    bounds (r15, VERDICT r14 item 6b):

    - HEAD run: the row-level match starts mid-run when the run is
      longer than the head element's upper bound — greedy consumes the
      suffix a = min(avail, hi) (avail = run length minus any rows a
      previous match already consumed), needing a >= lo.  Leftmost-row
      anchoring makes this exact: anchors further right only shrink
      the suffix, and the other elements' checks don't depend on it.
    - INTERIOR runs: flanked by different required symbols on both
      sides, so they are consumed whole — lo <= len (<= hi) is the
      exact row-semantics check.
    - FINAL run: greedy consumes the prefix min(hi, len) (needs
      len >= lo); leftover rows stay scannable — the next anchor may
      sit inside this run (offset carried forward).

    With no finite bounds every a/consumed equals the full run length
    and offsets stay 0 — bit-identical to the pre-r15 whole-run scan
    (the certified v78 surface).

    Returns [(assign {elem->seq pos}, used {elem->rows consumed},
    anchor_off rows-skipped-at-head-run-start)] in match order."""
    sym_to_elem = {s: i for i, (s, _) in enumerate(elements)}
    bounds = {}
    for i, (_, q) in enumerate(elements):
        b = _bounds(q)
        bounds[i] = (1, None) if b is None else b
    m = len(elements)
    elem_set = set(sym_to_elem)
    out = []
    pos, off = 0, 0
    n = len(seq_syms)
    while pos + m <= n:
        window = seq_syms[pos:pos + m]
        if set(window) == elem_set:
            head_e = sym_to_elem[window[0]]
            lo_h, hi_h = bounds[head_e]
            avail = seq_lens[pos] - off
            a = avail if hi_h is None else min(avail, hi_h)
            ok = a >= lo_h
            if ok:
                for j in range(1, m - 1):
                    e = sym_to_elem[window[j]]
                    lo, hi = bounds[e]
                    ln = seq_lens[pos + j]
                    if ln < lo or (hi is not None and ln > hi):
                        ok = False
                        break
            if ok:
                fin_e = sym_to_elem[window[m - 1]]
                lo_f, hi_f = bounds[fin_e]
                ln_f = seq_lens[pos + m - 1]
                if ln_f >= lo_f:
                    used_f = ln_f if hi_f is None else min(hi_f, ln_f)
                    assign = {
                        sym_to_elem[s]: pos + j for j, s in enumerate(window)
                    }
                    used = {
                        sym_to_elem[s]: (
                            a if j == 0
                            else used_f if j == m - 1
                            else seq_lens[pos + j]
                        )
                        for j, s in enumerate(window)
                    }
                    out.append((assign, used, seq_lens[pos] - a))
                    if used_f < ln_f:
                        pos, off = pos + m - 1, used_f
                    else:
                        pos, off = pos + m, 0
                    continue
        pos, off = pos + 1, 0
    return out


def match_permute(
    runs: DataFrame,
    elements: Sequence[tuple[str, str]],
    key_col: str,
) -> DataFrame:
    """MATCH_RECOGNIZE `PATTERN (PERMUTE(A, B, ...))` over encoded runs
    (SQL:2016 expands PERMUTE to the alternation of all element
    permutations; Trino/Oracle support the same surface — no reference
    file implements this, it is a beyond-reference operator like
    match_nfa).  Elements are required and whole-run ('+' or '{n,}',
    validated), symbols distinct — so at a given anchor the m
    consecutive runs determine a UNIQUE expansion and the element->run
    mapping is forced; alternation preference never fires.  Matches
    cannot be probed independently (an anchor may sit inside an earlier
    match's span — elements {A,B} over runs A B A), so selection is the
    same sequential left-to-right scan match_nfa uses: AFTER MATCH SKIP
    PAST LAST ROW by construction.

    Output is FLAT, one row per match: key, anchor_run_id, perm (the
    matched symbol order, e.g. 'CVP'), then per ORIGINAL element i
    every run column c (except the key) as `e{i}_{c}` — payloads stay
    addressable by element regardless of matched order.

    Finite upper bounds '{n,m}' (r15): supported via the two-sided
    boundary scan (_scan_permute) — the head element consumes a greedy
    run SUFFIX, the final element a greedy run PREFIX, leftovers stay
    scannable.  When any element carries a finite bound the output
    gains `anchor_off` (rows of the head run BEFORE the match's first
    row) and per-element `e{i}_rows_used` (rows actually consumed —
    differs from e{i}_n_rows only at the two boundaries); with no
    finite bound the schema and values are bit-identical to the
    certified r14 surface (offsets are identically 0, pinned by test).

    Scale shape: identical to match_nfa — the prefilter windows force
    hashpartitioning(key) (ONE exchange, plan-pinned in
    tests/test_pattern.py), the JVM lead-probe prefilter keeps
    non-candidate keys out of Python, and the Python boundary carries
    one Arrow row per RUN, crossed once per Arrow BATCH rather than per
    key (_map_groups_sorted, r19)."""
    _validate_permute(elements)
    elements = _normalize_permute(elements)
    syms = [s for s, _ in elements]
    m = len(elements)
    sym_to_elem = {s: i for i, s in enumerate(syms)}
    bounded = any(
        _bounds(q) is not None and _bounds(q)[1] is not None
        for _, q in elements
    )

    run_cols = [c for c in runs.columns if c != key_col]
    schema_by_name = {f.name: f.dataType for f in runs.schema.fields}
    out_fields = [
        runs.schema[key_col],
        T.StructField("anchor_run_id", T.LongType()),
        T.StructField("perm", T.StringType()),
    ]
    if bounded:
        out_fields.append(T.StructField("anchor_off", T.LongType()))
    for i in range(m):
        for c in run_cols:
            out_fields.append(T.StructField(f"e{i}_{c}", schema_by_name[c]))
        if bounded:
            out_fields.append(T.StructField(f"e{i}_rows_used", T.LongType()))
    out_schema = T.StructType(out_fields)

    # JVM-side key prefilter (the match_nfa pattern): an anchor needs m
    # consecutive runs whose symbols all lie in the element set, are
    # pairwise distinct (adjacent runs differ for free — only the
    # non-adjacent pairs need probes), and meet their element's lower
    # bound.  Exact at anchor level; over-approximate at match level
    # (overlaps) — safe, the scan decides.  Both windows ride the same
    # hashpartitioning the batched map needs: still ONE exchange.
    wlead = Window.partitionBy(key_col).orderBy("run_id")

    def probe(j: int, col: str) -> Column:
        return F.col(col) if j == 0 else F.lead(col, j).over(wlead)

    cond = F.lit(True)
    for j in range(m):
        cond = cond & probe(j, "sym").isin(*syms)
        bound = None
        for s in syms:
            lo = _bounds(dict(elements)[s])
            need = lo[0] if lo is not None else 1
            clause = (probe(j, "sym") == s) & (probe(j, "n_rows") >= need)
            bound = clause if bound is None else (bound | clause)
        cond = cond & bound
    for j in range(m):
        for j2 in range(j + 2, m):  # adjacent (j, j+1) differ for free
            cond = cond & (probe(j, "sym") != probe(j2, "sym"))
    key_has = F.max(cond.cast("int")).over(Window.partitionBy(key_col))
    runs = (
        runs.withColumn("_cand", key_has)
        .filter(F.col("_cand") == 1)
        .drop("_cand")
    )

    elements_t = [(s, q) for s, q in elements]
    # columnar assembly with explicit nullable dtypes (the r13
    # int-with-None lesson; here no column is ever None, but the
    # empty-group case still needs the right dtypes)
    out_dtypes = [(f.name, _pd_nullable_dtype(f.dataType)) for f in out_fields]

    def _append_group(g: "pd.DataFrame", cols: dict) -> None:
        # g is one key's rows, already run_id-sorted (_map_groups_sorted)
        seq_syms = g["sym"].tolist()
        seq_lens = g["n_rows"].tolist()
        assigns = _scan_permute(seq_syms, elements_t, seq_lens)
        if not assigns:
            return
        key_val = g[key_col].iloc[0]
        for assign, used, anchor_off in assigns:
            anchor = min(assign.values())
            order = sorted(assign, key=assign.get)
            cols[key_col].append(key_val)
            cols["anchor_run_id"].append(int(g["run_id"].iloc[anchor]))
            cols["perm"].append("".join(syms[i] for i in order))
            if bounded:
                cols["anchor_off"].append(anchor_off)
            for i in range(m):
                for c in run_cols:
                    cols[f"e{i}_{c}"].append(g[c].iloc[assign[i]])
                if bounded:
                    cols[f"e{i}_rows_used"].append(used[i])

    return _map_groups_sorted(runs, key_col, _append_group, out_dtypes, out_schema)
