"""Driver-loop iteration with auto-caching (SURVEY §2.8, §4 #9).

Reference: while/do-while loops run on the driver; loop-invariant and
loop-carried bags are auto-cached by a compiler pass
(``compiler/opt/Caching.scala:57-130``: cache when used >1x, passed as
loop argument, or referenced from a loop closure); the Spark runtime
combinator is ``SparkOps.cache`` (``SparkOps.scala:54-59``).

Spark never auto-caches, so this module is the rebuild of that pass as
a *runtime service*: :func:`fixpoint` owns persistence of the loop-
carried bag, truncates lineage each iteration (localCheckpoint — long
lineage chains are the classic iterative-Spark failure mode), and
releases superseded states (an improvement over the reference, which
never unpersists — SURVEY §7.3).

Release is RDD-level, not ``DataFrame.unpersist()``: a local
checkpoint persists the Dataset's *internal RDD* in the block manager,
and ``DataFrame.unpersist()`` only evicts CacheManager entries — it is
a silent no-op for checkpoint blocks (r8 audit: a 6-iteration loop
left 7 RDDs persisted until JVM GC; on a long-lived 100×-scale driver
that is unbounded executor-memory growth). We therefore diff the
SparkContext's persistent-RDD registry around each checkpoint call and
unpersist the captured ids when — and only when — a newer materialized
checkpoint makes them unreachable. A state is never released while a
LAZY successor might still recompute from its blocks (unpersisting a
local checkpoint destroys the only copy: the lineage was truncated).
"""

from __future__ import annotations

from typing import Callable

from ..core import DataBag  # noqa: F401  (re-export for callers)


def _persistent_ids(sc) -> set[int]:
    """Ids of every RDD currently persisted in this SparkContext."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _release_ids(sc, ids) -> None:
    """Unpersist the given RDD ids (non-blocking); missing ids are
    fine — the ContextCleaner may have raced us on a GC'd object."""
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def release(bag) -> None:
    """Free the checkpoint blocks backing a bag/DataFrame carrying a
    ``_ckpt_ids`` handle (returned by :func:`fixpoint`,
    ``lib.graphs`` iterative algorithms, or propagated with
    :func:`carry_ckpt`). Call it only AFTER the final output has been
    materialized (collected / written / re-checkpointed): the handle's
    blocks are the only copy of the state — any still-lazy plan over
    them would recompute into nothing. No-op for anything else."""
    ids = getattr(bag, "_ckpt_ids", None)
    if ids:
        df = getattr(bag, "df", bag)  # DataBag or plain DataFrame
        _release_ids(df.sparkSession.sparkContext, ids)


def carry_ckpt(df, src):
    """Propagate the checkpoint-release handle from ``src`` (a
    fixpoint result bag, or anything else carrying ``_ckpt_ids``) onto
    a DataFrame DERIVED from it, so the eventual consumer — who alone
    knows when the result has been materialized — can free the state
    blocks via :func:`release`. Without this, lib functions returning
    ``bag.df`` would drop the only handle and leak one pinned state
    table per invocation on a long-lived driver."""
    ids = getattr(src, "_ckpt_ids", None)
    if ids:
        df._ckpt_ids = ids
    return df


def _content_sig(df) -> tuple:
    """(count, Σ xxhash64(row)) — a one-pass multiset-content signature.
    Row order and partitioning can't change it; any content change does
    (modulo a vanishing 64-bit collision chance)."""
    from pyspark.sql import functions as F

    # sum in decimal(38,0): full-range 64-bit hashes overflow a bigint
    # sum under ANSI mode
    row = F.xxhash64(F.struct(*[df[c] for c in df.columns])).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row).alias("h")).collect()[0]
    return (r["n"], r["h"])


def fixpoint(
    init: "DataBag",
    step: Callable[["DataBag"], "DataBag"],
    converged: Callable[["DataBag", "DataBag"], bool] | None = None,
    max_iter: int = 50,
    checkpoint_every: int = 1,
) -> "DataBag":
    """Iterate ``state = step(state)`` until ``converged(old, new)``.

    Default convergence is a CONTENT probe — (count, row-hash-sum)
    equality with the previous state — valid for any step, including
    value-propagation steps whose row count never changes (a bare count
    probe, the reference's usual fixpoint test,
    ``transitiveClosure.scala:27-41``, would falsely converge there).
    Pass ``converged`` for a cheaper problem-specific probe (e.g. the
    monotone label-sum in connected components).

    Persistence contract: the returned bag is always checkpoint-backed
    (materialized, lineage-truncated); every INTERMEDIATE state's
    blocks have been released by the time this returns, so the block
    manager holds exactly one state table afterwards. Free that last
    one with :func:`release` when done."""
    from ..core import DataBag as DB

    sc = init.df.sparkSession.sparkContext

    def ckpt(df):
        before = _persistent_ids(sc)
        out = df.localCheckpoint(eager=True)
        return out, _persistent_ids(sc) - before

    def finish(bag, bag_ids, superseded_ids):
        """Return path: hand back a checkpoint-backed bag and release
        everything else."""
        if bag_ids is None:  # not checkpointed this iteration
            df2, bag_ids = ckpt(bag.df)  # materializes; prior now safe
            bag = DB(df2)
        _release_ids(sc, superseded_ids)
        bag._ckpt_ids = bag_ids
        return bag

    # cur_ids: the most recent MATERIALIZED checkpoint — the anchor
    # every lazy successor plan hangs from; never released while any
    # live plan might recompute through it. state_backed: whether
    # `state` IS that checkpoint (false only between boundaries when
    # checkpoint_every > 1).
    state_df, cur_ids = ckpt(init.df)
    state = DB(state_df)
    state_backed = True
    prev_sig = _content_sig(state.df) if converged is None else None
    for i in range(max_iter):
        nxt = step(state)
        nxt_backed, new_ids = False, None
        if (i + 1) % checkpoint_every == 0:
            ndf, new_ids = ckpt(nxt.df)
            nxt = DB(ndf)
            nxt_backed = True
        done = (
            converged(state, nxt)
            if converged is not None
            else (sig := _content_sig(nxt.df)) == prev_sig
        )
        if converged is None:
            prev_sig = sig
        if done:
            # finish() materializes a lazy nxt off cur_ids FIRST, so
            # releasing cur_ids afterwards is safe in both shapes
            return finish(nxt, new_ids if nxt_backed else None, cur_ids)
        if nxt_backed:
            # nxt is materialized and independent of state: the old
            # anchor is unreachable — release it NOW (with
            # checkpoint_every=k only every k-th iteration swaps)
            _release_ids(sc, cur_ids)
            cur_ids = new_ids
        state, state_backed = nxt, nxt_backed
    if state_backed:
        state._ckpt_ids = cur_ids
        return state
    return finish(state, None, cur_ids)
