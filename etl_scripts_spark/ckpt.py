"""The checkpoint-round contract of every iterative operator.

Each round of an iterative operator (label-propagation CC,
PageRank, k-core peel, the Lloyd trainer of k-means, IVF and PQ, BPE
training, the perceptron) pins its state with ``localCheckpoint(eager=True)``
so the plan stays flat, frees the round it superseded, and -- for a fixpoint -- stops
when the state stops changing or raises.  :func:`next_round` and
:func:`fixpoint` are the one copy of that policy; the operators supply only
the step.

Freeing.  Spark frees a localCheckpoint's blocks only when the JVM-side RDD
object is garbage-collected, which, through the py4j reference chain, can
lag the Python side by a long time.  On a shared executor that lag is real
memory pressure: SCALE.md measured a later operator inflating ~4x purely
from retained checkpoint blocks of an earlier one, and the diameter-100
chain-CC query (10 rounds of label checkpoints) is the worst producer in
the registry.  So a superseded round is freed the moment the next
round's checkpoint has materialized -- that job was its last reader.

CONTRACT: only free a checkpoint that nothing will read again.  A
localCheckpoint's lineage is truncated, so an unpersisted one cannot be
recomputed -- a later action on it raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
(loud, never silently wrong).  That is exactly the previous round's state
after the new round's checkpoint, and never the DataFrame an operator
returns.  The two exceptions keep every round: ``graph.bfs_distances`` and
``lineage.ancestors_to_root`` return the union of all their per-hop slices,
so each hop's checkpoint is still read when the result is collected.  They
call ``next_round(frame, None, cols)`` -- ``prev=None`` frees nothing -- and
stop on the observed count of 0, so the empty last hop costs no extra job.

Convergence.  A fixpoint round is fingerprinted by ``(count,
bit_xor(xxhash64(cols)))``, observed DURING the eager checkpoint's own job
-- zero extra jobs per round.  The fingerprint is order-insensitive and
``bit_xor`` never overflows (unlike a hash SUM under ANSI mode).  The steps
are deterministic, so an unchanged fingerprint means a fixpoint; a
collision between two consecutive DIFFERENT states would stop a round early
(~2^-64) -- accepted.  Stopping before the fixpoint would return a silently
wrong result, so :func:`fixpoint` raises at its round cap.  The Lloyd
trainer runs a fixed round count and only uses the fingerprint to skip the
rounds after a fixpoint, which would be exact no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def free_local_checkpoint(df: DataFrame | None) -> None:
    """Release the block-manager storage behind an eager localCheckpoint.

    Deliberately narrow: the analyzed plan of a DataFrame returned by
    ``localCheckpoint`` is a single ``LogicalRDD`` wrapping the persisted
    internal RDD, so ``analyzed().rdd()`` is exactly the block owner and
    ``unpersist(blocking=False)`` frees it without touching the
    CacheManager.  No-op for ``None``, for any other plan shape, and for
    any py4j hiccup -- hygiene must never turn a correct query into a
    failed one.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover - py4j/session teardown races
        pass


def next_round(df: DataFrame, prev: DataFrame | None, fingerprint=None):
    """Checkpoint `df` eagerly, then free `prev`, the round it supersedes.

    With `fingerprint` (column names) the checkpoint's job also observes
    the round's ``(count, bit_xor(xxhash64(cols)))`` and the call returns
    ``(checkpoint, fingerprint)``; without it, just the checkpoint.
    """
    if fingerprint is None:
        cp = df.localCheckpoint(eager=True)
        free_local_checkpoint(prev)
        return cp
    obs = Observation()
    cp = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(fingerprint)}))").alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    free_local_checkpoint(prev)
    return cp, (m["n"], m["h"])


def fixpoint(step, state: DataFrame, fingerprint, max_iter: int, name: str, fp=None):
    """Iterate ``state = step(state)`` through :func:`next_round` until the
    fingerprint repeats, and return the final checkpoint.

    `fp` is the seed state's fingerprint when the seed is itself a
    fingerprinted checkpoint (None: the seed is no candidate fixpoint).  An
    empty state is final -- every step here maps it to itself.  Raises
    RuntimeError naming `name` when `max_iter` rounds do not converge.
    """
    rounds = 0
    while fp is None or fp[0] > 0:
        if rounds == max_iter:
            raise RuntimeError(
                f"{name} did not converge in {max_iter} rounds; an unconverged "
                "state would be silently wrong -- raise max_iter"
            )
        state, new_fp = next_round(step(state), state, fingerprint)
        rounds += 1
        if new_fp == fp:
            break
        fp = new_fp
    return state


def free_session_litter(spark) -> int:
    """Unpersist EVERY leftover persistent RDD in the session — the
    release path for loop consumers of operators that pin their inputs
    under the returned plan (pagerank, link_records, batch_retrieval,
    the n-gram scorers): call it after each fully-consumed result, as
    bench.py does between queries.

    Not everything it frees is checkpoint litter: `_fastq_incoming` and
    `_ms_incoming` (__spark_entry__.py) `.persist()` their synthetic
    manifests as a predicate-pushdown barrier, and that cache outlives
    the call.  Unpersisting its blocks is still safe: the cached RDD
    keeps its lineage, so the next reader recomputes the manifest (the
    plan keeps its barrier; only the cached bytes go).

    CONTRACT: only call AFTER every outstanding result DataFrame has
    been consumed (collected / written) — a lazily-held result whose
    checkpoint this frees raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
    its next action (loud, never silently wrong).  Returns the number
    of RDDs released (best-effort; py4j hiccups return early).
    """
    n = 0
    try:
        for rdd in dict(
            spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
        ).values():
            rdd.unpersist(False)
            n += 1
    except Exception:  # pragma: no cover - py4j/session teardown races
        pass
    return n
