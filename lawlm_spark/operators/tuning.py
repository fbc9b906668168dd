"""Operator-scoped shuffle-coalescing policy (optimization round r18).

`coalesced_shuffles` wraps an operator that MATERIALIZES its work
internally (iterative loops with per-round lineage cuts, pipelines with
eager persists) in an AQE policy that sizes reduce partitions by BYTES
(`spark.sql.adaptive.coalescePartitions.parallelismFirst=false`, the
Spark docs' own recommendation) instead of pinning them at the default
parallelism.  Effect: a rank-table-sized or dedup-pair-sized shuffle
coalesces to ceil(bytes / advisoryPartitionSizeInBytes) partitions —
at bench scale that is 1-2 tasks instead of 32 per round (measured
r18: b_prep_full 0.63x, b_pagerank 0.79x of the pinned-parallelism
plan); at 100 TB the identical policy yields thousands of partitions,
governed by the advisory size, so the setting is scale-adaptive by
construction (guide §2.2 "fewer, larger reduce partitions").

Why a context manager and not a session default: partition-coalescing
by bytes is wrong for operators whose per-byte CPU cost is extreme —
the Python-boundary NFA matcher and the exploding-join triangle
counter measured 2.2x/1.7x SLOWER when their small-byte shuffles
collapsed to one task (r18 A/B).  The operator knows its own CPU
profile; the session does not.  Only operators measured faster under
the policy opt in.

The set/restore mechanism (and its session-conf lock) is
session.scoped_conf; this module only decides the key and value.
Results are partitioning-independent for every wrapped operator
(certified layout-stable), so this cannot change any query's output.

Production note: pair the policy with an explicit
`spark.sql.adaptive.advisoryPartitionSizeInBytes` sized for the
cluster (128-256m on fast networks, guide §9); the local default 64m
is left untouched so the bench measures the stock advisory.
"""

from __future__ import annotations

from lawlm_spark.session import _SESSION_CONF_LOCK, scoped_conf  # noqa: F401

_KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def coalesced_shuffles(spark):
    """Within the block, AQE coalesces shuffle partitions purely by the
    advisory byte size (parallelismFirst=false); the previous session
    value is restored on exit, raise or return."""
    return scoped_conf(spark, {_KEY: "false"})
