"""The package's materialization and parallelism policy. This is the
only module that calls ``localCheckpoint``: every operator and query
cuts lineage through ``lineage_cut`` and spreads scans through
``spread_scan``.

Lineage cuts. Spark re-executes a subtree once per consumer (the
"one-consumer rule"; the round-14 minhash plan showed 16 parquet scans
for one query). A cut replaces the subtree with a checkpointed RDD
scan, so it runs once. Two kinds, mirroring ``localCheckpoint(eager)``:

- A lazy cut (``lineage_cut(df)``) materializes inside the first job
  that consumes it and adds no action. It only saves recomputation, so
  ``BOSQL_CKPT_DISABLE=1`` (the cut-on/cut-off A/B switch) turns every
  lazy cut into the identity without changing any result. Iterative
  builders (BPE merges, connected-components rounds) then keep their
  whole lineage, so their plans grow per iteration.
- An eager cut (``lineage_cut(df, eager=True)``) runs one job now and
  ignores the switch, because it does more than save recomputation: it
  orders side effects (survivors computed from a store are pinned
  BEFORE the same store is appended to), it fires the job a driver
  loop waits on (a per-round count or convergence probe), or it pins a
  table before several consumers race to recompute it (the measured
  connected-components edge list).

Scan spreading. Every fixture table is ONE parquet file with ONE row
group, so a CPU-heavy map right after the scan (md5/shingle explodes,
HOF chains, Arrow matmuls, wide decimal sums) would run as ONE task:
the optimization guide's "one huge unsplittable file" case (§2.5).
``spread_scan`` hash-repartitions only when the planned partition
count is below the default parallelism, so at production scale it is
an exact no-op. It is not applied to cheap scan->aggregate paths,
where the exchange is pure cost. ``BOSQL_SPREAD_DISABLE=1`` and the
``no_spread()`` scope turn it off.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame

_tls = threading.local()


@contextlib.contextmanager
def no_spread():
    """Disable ``spread_scan`` for plans built inside this block (driver
    -side, thread-local). Used by paths where the per-row map is cheap
    relative to the added exchange — measured per-site this round: the
    streaming semantic ingest (many small per-microbatch actions; the
    repartition multiplied per-action constants, bench pairs 2.3-2.5x
    slower with spread)."""
    prev = getattr(_tls, "off", False)
    _tls.off = True
    try:
        yield
    finally:
        _tls.off = prev


def spread_scan(df: DataFrame, *key_cols: str, target: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism when
    (and only when) its planned partition count is lower — the
    unsplittable-tiny-input case. ``key_cols`` should be a stable,
    high-cardinality key (the doc/vec id); keyless calls fall back to
    round-robin (deterministic under retries via Spark's
    sort-before-repartition default, SPARK-23207).
    """
    # measurement kill switch (A/B tooling) and cluster escape hatch
    if os.environ.get("BOSQL_SPREAD_DISABLE") == "1":
        return df
    if getattr(_tls, "off", False):  # no_spread() scope
        return df
    sess = df.sparkSession
    if target is None:
        target = sess.sparkContext.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: exotic plans
        return df
    if nparts >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``: the package's one lineage cut (see
    the module docstring for the policy).

    Lazy (default): the checkpoint RDD materializes inside the first
    consuming job; ``BOSQL_CKPT_DISABLE=1`` returns ``df`` unchanged.
    Eager: materializes now and always runs, switch or not — eager
    cuts order side effects (data pinned before a later write touches
    its source) and fire the job a driver loop waits on."""
    if not eager and os.environ.get("BOSQL_CKPT_DISABLE") == "1":
        return df
    return df.localCheckpoint(eager=eager)
