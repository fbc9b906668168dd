"""Static audit: no unregistered .persist producers reachable from
queries() (VERDICT r15 item 2 — the ADVICE r9/r14 leak class, made a
permanent gate so it cannot regrow).

Two layers:

1. PRODUCER COMPLETENESS — every function in lawlm_spark/ that takes a
   `cache_registry` parameter must be in the audited set below, so a
   new persisting producer cannot be added without extending this
   audit (the audit fails loudly instead of silently narrowing).

2. CALL-SITE DISCIPLINE — every call to an audited producer from
   __spark_entry__.py or bench.py must pass `cache_registry=...`
   explicitly.  The d74/d78 pattern (register → lineage-cut the
   bounded output → unpersist) is enforced at its load-bearing first
   step; the unpersist itself is exercised by the entries' own runs
   (a forgotten unpersist after registering would show up as an
   unused-variable smell and in executor storage, but registering is
   the part that makes release POSSIBLE).

Producers whose persist is conditional (ingest_documents under
eager_share=True) are audited on the arming flag: any call passing
eager_share=True must also pass cache_registry.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Functions that persist a frame which OUTLIVES the call (the returned
# plan reads it) — callers must take the handle.  pq.py's codebook
# persist and streaming/ingest.py's per-batch persist release
# internally (finally-unpersist) and are deliberately absent.
UNCONDITIONAL_PRODUCERS = {
    "minhash_dedup_pairs",
    "curate_documents",
    "curate_mix_pack",
    "dsir_select",
    "winnow_pairs",
    "pareto_front",
    # the one persist -> register -> force helper (session.materialize)
    "materialize",
}
# producer -> flag kwarg that arms its persist
# (lsh_candidate_pairs' arming flag IS cache_registry: it persists the
# band table iff a registry is passed, so the handle cannot leak)
CONDITIONAL_PRODUCERS = {
    "ingest_documents": "eager_share",
    "lsh_candidate_pairs": "cache_registry",
}

AUDITED = UNCONDITIONAL_PRODUCERS | set(CONDITIONAL_PRODUCERS)


def _py_files(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_audited_set_covers_every_registry_producer():
    """Layer 1: the audited set tracks the cache_registry signature."""
    found = set()
    for path in _py_files(os.path.join(REPO, "lawlm_spark")):
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                argnames = {
                    a.arg
                    for a in (
                        node.args.args
                        + node.args.kwonlyargs
                        + node.args.posonlyargs
                    )
                }
                if "cache_registry" in argnames:
                    found.add(node.name)
    missing = found - AUDITED
    assert not missing, (
        f"new cache_registry producers not covered by the persist "
        f"audit: {sorted(missing)} — add them to UNCONDITIONAL_PRODUCERS "
        f"(or CONDITIONAL_PRODUCERS with their arming flag)"
    )
    stale = AUDITED - found
    assert not stale, (
        f"audited producers no longer exist / lost cache_registry: "
        f"{sorted(stale)}"
    )


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _kwargs(call: ast.Call) -> dict[str, ast.expr]:
    return {kw.arg: kw.value for kw in call.keywords if kw.arg is not None}


def test_entry_and_bench_call_sites_pass_cache_registry():
    """Layer 2: every producer call in the entry module and bench
    passes cache_registry (unconditional) or does so whenever the
    persist is armed (conditional)."""
    offenders = []
    for path in (
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ):
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node)
            if name not in AUDITED:
                continue
            kwargs = _kwargs(node)
            where = f"{os.path.basename(path)}:{node.lineno} {name}()"
            if name in UNCONDITIONAL_PRODUCERS:
                if "cache_registry" not in kwargs:
                    offenders.append(where)
            else:  # conditional: flag armed without a registry
                flag = CONDITIONAL_PRODUCERS[name]
                armed = flag in kwargs and not (
                    isinstance(kwargs[flag], ast.Constant)
                    and kwargs[flag].value is False
                )
                if armed and "cache_registry" not in kwargs:
                    offenders.append(where)
    assert not offenders, (
        "persist-producer calls without cache_registry (the frame they "
        "persist would leak until session LRU eviction — apply the "
        "d74/d78 register/lineage-cut/unpersist pattern): "
        + ", ".join(offenders)
    )


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _failing_docs(spark):
    """Two documents whose text column raises when evaluated."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 8), (2, "epsilon zeta eta " * 8)],
        "doc_id long, text string",
    )
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") > 0, F.raise_error(F.lit("forced failure"))).otherwise(
            F.col("text")
        ),
    )


def test_failed_forcing_action_leaves_no_cached_block(spark):
    """A persist whose forcing count raises must not outlive the call:
    no block stays cached, and the registered handle is released."""
    import pytest
    from pyspark import StorageLevel

    from lawlm_spark.operators.dedup import lsh_candidate_pairs
    from lawlm_spark.plans.rag import ingest_documents

    none = StorageLevel(False, False, False, False, 1)
    spark.catalog.clearCache()
    for call in (
        lambda reg: ingest_documents(
            _failing_docs(spark), eager_share=True, cache_registry=reg
        ),
        lambda reg: lsh_candidate_pairs(
            _failing_docs(spark), "doc_id", "text", cache_registry=reg
        ),
    ):
        reg: list = []
        with pytest.raises(Exception, match="forced failure"):
            call(reg)
        assert _cache_is_empty(spark)
        assert all(h.storageLevel == none for h in reg)


def _identifier(node: ast.AST) -> str | None:
    """The name a node binds or refers to, if it has one."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, (ast.arg, ast.keyword)):
        return node.arg
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    if isinstance(node, ast.alias):
        return node.asname or node.name.rsplit(".", 1)[-1]
    return None


def test_checkpoint_calls_only_in_session():
    """One lineage-cut protocol (session.lineage_cut): under lawlm_spark/
    no module but session.py calls .checkpoint, .localCheckpoint or
    getCheckpointDir, and nothing — __spark_entry__.py included — names
    the retired `_lineage_cut` helper or a `use_reliable_checkpoint`
    parameter.  AST walk, so docstrings and comments don't count."""
    cut_calls = {"checkpoint", "localCheckpoint", "getCheckpointDir"}
    retired = {"_lineage_cut", "use_reliable_checkpoint"}
    pkg = os.path.join(REPO, "lawlm_spark")
    session = os.path.join(pkg, "session.py")
    offenders = []
    for path in [*_py_files(pkg), os.path.join(REPO, "__spark_entry__.py")]:
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        in_pkg = path.startswith(pkg + os.sep)
        where = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            name = _identifier(node)
            if name in retired:
                offenders.append(f"{where}:{node.lineno} names {name}")
            if (
                in_pkg
                and path != session
                and isinstance(node, ast.Call)
                and _call_name(node) in cut_calls
            ):
                offenders.append(f"{where}:{node.lineno} calls {_call_name(node)}")
    assert not offenders, (
        "lineage cuts outside session.lineage_cut: " + ", ".join(offenders)
    )
