"""Recursive CTE: WITH RECURSIVE fixpoint evaluation.

Reference: PhysicalRecursiveCTE (src/execution/operator/set/
physical_recursive_cte.cpp — iterate the recursive half against the working
table until no new rows; UNION dedups against all prior rows, UNION ALL keeps
everything). Spark has no native recursion (SURVEY §2.8) → driver-side loop,
each iteration a distributed job; localCheckpoint() truncates the growing
lineage so plan size stays O(1) per iteration instead of O(iterations).

UNION-mode history check (round 6): exact UNION semantics need a
full-history membership test every iteration (the reference pays the same
via its working-table hash lookup), but the expensive part — shuffling the
whole accumulated history through exceptAll — is now gated behind a
row-hash SEMI-JOIN prefilter: the accumulator is first semi-joined to the
(delta-sized, usually broadcast) distinct xxhash64 set of this iteration's
candidates, so only history rows whose hash collides with a candidate ever
reach the exceptAll exchange. This is a runtime bloom expressed in
relational algebra — and unlike a real bloom it is EXACT: dropping history
rows with no candidate hash match cannot change the except result, so
correctness never depends on a false-positive rate. Per-iteration exchange
cost drops from O(|acc|) to O(|collisions|) ~= O(|delta|); the remaining
O(|acc|) work is a map-side scan. (Spark exposes no bloom_filter_agg in
the public function registry, so the semi-join is also the only
no-driver-collect spelling available.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: accumulator lineage truncation period, in steps
_CHECKPOINT_EVERY = 4
#: history-prefilter gate (round 16, re-measured round 17; see
#: recursive_cte): histories at or below this many rows, or at most
#: _PREFILTER_MIN_HISTORY_RATIO x the last delta, skip the prefilter
_PREFILTER_MIN_HISTORY_ROWS = 1 << 22
_PREFILTER_MIN_HISTORY_RATIO = 8


def _row_hash(df: DataFrame) -> Column:
    """One xxhash64 per row over all columns — both the prefilter's build
    and probe sides hash the same way, so they can never disagree."""
    return F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))


def _prefilter_history(acc: DataFrame, cand: DataFrame) -> DataFrame:
    """The history rows that can possibly affect ``cand.exceptAll(history)``:
    semi-join the accumulator to the candidates' distinct row-hash set.
    EXACT (not a bloom): a history row whose full-row hash matches no
    candidate hash cannot equal any candidate, so dropping it cannot change
    the except result. Output size is O(|hash collisions|) ~= O(|cand|)
    regardless of |acc| — the structural invariant pinned by
    test_recursive_prefilter_is_delta_sized.

    No forced broadcast hint: early iterations can carry a large delta, and
    AQE converts the semi-join to broadcast at runtime exactly when the hash
    set is actually small (the usual case in deep recursions) — the same
    gated posture as catalog.maybe_broadcast."""
    cand_hashes = cand.select(_row_hash(cand).alias("__rh")).distinct()
    return acc.join(cand_hashes, _row_hash(acc) == F.col("__rh"), "left_semi")


def _truncate(df: DataFrame, reliable: bool, eager: bool = False) -> DataFrame:
    """Cut lineage: localCheckpoint (fast, executor-local blocks) or, with
    ``reliable=True``, a real checkpoint() against the configured checkpoint
    dir. Tradeoff table:

    ==============  =====================  ================================
    mode            cost per truncation    failure behavior at cluster scale
    ==============  =====================  ================================
    local (default) memory/disk block      losing ONE executor loses its
                    write, no extra job    blocks — the job is unrecoverable
                                           (fine for interactive/local runs)
    reliable=True   full write to the      blocks live in shared storage;
                    checkpoint dir (HDFS/  executor loss just recomputes the
                    S3), one extra scan    lost TASKS — survives preemption
    ==============  =====================  ================================
    """
    if reliable:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable=True needs a checkpoint dir: call "
                "spark.sparkContext.setCheckpointDir('<shared path>') first"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def recursive_cte(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    union_all: bool = False,
    max_iterations: int = 1000,
    reliable: bool = False,
    max_unroll: int = 2,
    delta_checkpoint: str = "every",
) -> DataFrame:
    """Evaluate WITH RECURSIVE: base UNION [ALL] step(working) to fixpoint.

    `step` receives the previous iteration's *delta* (UNION semantics: only
    rows not seen before; UNION ALL: the full previous iteration output) and
    returns the next iteration's candidate rows. Terminates when an iteration
    yields no (new) rows; raises after max_iterations steps (the reference
    loops forever — a safeguard is strictly better at cluster scale).

    ``reliable=True`` routes every lineage truncation through a real
    ``checkpoint()`` (shared-storage blocks, survives executor loss) instead
    of ``localCheckpoint()`` — see _truncate's tradeoff table. Default stays
    local: interactive/bench runs don't pay the storage round-trip.

    Round 9 unrolled the loop two steps per driver round; round 12
    (VERDICT r11 perf-weak #1) generalizes it to an ADAPTIVE batch: the
    loop speculatively evaluates up to ``max_unroll`` steps before a
    SINGLE combined emptiness probe (one tagged-union count job
    materializing every lazy checkpoint in the batch), starting at 2 and
    growing by one per batch that completes without hitting the fixpoint.
    Overshoot waste is bounded and one-shot: steps past an empty delta are
    evaluated inside the same probe job over empty inputs, then discarded.
    UNION dedup is unaffected: delta_i is still checked against the full
    accumulated history (acc ∪ d1..d_{i-2}, with d_{i-1} as the cheap
    previous-delta stage), so fixpoint semantics are exact.

    ``max_unroll`` defaults to 2 — a MEASURED ceiling, not a guess
    (round 12, BASELINE.md): deltas inside a batch are LAZY checkpoints,
    so when step() broadcasts the previous delta (the standard graph-step
    shape), delta_i's broadcast exchange re-executes delta_{i-1}'s whole
    unmaterialized chain as a nested broadcast job — O(k²) jobs per batch.
    At depth 4 the 100× recursion scale query regressed 4.52 s → 5.74 s
    (and 1× five-fold); at depth 2 the one-level re-execution is exactly
    the r9/r11 design that measured faster than the rolled loop. Raising
    max_unroll is only sane when step() contains no broadcast of the
    delta. Materializing each batch delta eagerly instead (round 13) removed
    the depth-4 blowup but paid one checkpoint job per step: eager depth 8
    measured 4.7 s against 4.3–4.4 s for lazy depth 2 on the 100×
    recursion scale query (BASELINE.md §round-13), so deltas stay lazy.

    The history prefilter gate (_PREFILTER_MIN_HISTORY_ROWS /
    _PREFILTER_MIN_HISTORY_RATIO; round 16, re-measured round 17):
    histories whose EXACT row count — tracked for free from the probe
    jobs' per-delta counts plus a base count ridden on the first probe —
    is at or below the absolute floor, OR at most ratio × the last delta's
    row count, skip the row-hash semi-join prefilter and run the plain
    history exceptAll. Measured at
    30× data (274k-row history, ~30k deltas, depth 8): plain exceptAll
    7.4 s vs always-prefilter 9.8 s vs the old 64k-absolute gate 11.2 s —
    the prefilter's extra distinct+semi-join subtree only pays when the
    history EXCHANGE dominates, i.e. |acc| is both large in absolute terms
    and MANY times the delta (deep recursions with small frontiers). The
    round-16 64k floor was promoted to 4M rows plus the ratio condition on
    that measurement. Scale-safe by construction: an unknown |acc| always
    keeps the prefilter.

    ``delta_checkpoint`` (round 16, UNION ALL only): every localCheckpoint
    call pays full JVM analysis+planning eagerly (~40 ms measured), which
    DOMINATES deep cheap-step recursions — 50 steps of a 1-row projection
    spend 2 s planning checkpoints. ``"batch"`` truncates only each batch's
    LAST delta (the next batch's working set); intermediate deltas keep
    their inline plans, so the probe re-executes at most the batch's own
    step chain (which it computes anyway) and the final accumulator
    re-executes each intermediate ONCE. Use it when step() is a narrow
    projection/filter; the default ``"every"`` stays for heavy steps
    (joins/broadcasts), where re-execution in the terminal job would
    re-scan inputs, and for UNION mode, whose exceptAll plans must not
    chain across steps.
    """
    if delta_checkpoint not in ("every", "batch"):
        raise ValueError(f"delta_checkpoint must be 'every' or 'batch', got {delta_checkpoint!r}")
    if delta_checkpoint == "batch" and not union_all:
        # ADVICE r16: UNION mode always checkpoints every delta (its
        # exceptAll plans must not chain across steps) — a caller passing
        # the batch knob there would silently get "every" behavior.
        raise ValueError(
            "delta_checkpoint='batch' is UNION ALL only (union_all=True); "
            "UNION-mode deltas must checkpoint every step"
        )
    spark = base.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def _dedup(
        nxt: DataFrame, prev_delta: DataFrame, history: DataFrame, history_small: bool
    ) -> DataFrame:
        # Two-stage dedup: most regenerated rows come from the previous
        # delta (a graph step's back-edges), so dedup against the SMALL
        # previous delta first. The full-history check then runs against
        # only the history rows whose row-hash matches a candidate
        # (semi-join prefilter, see module docstring) — exact, and the
        # exceptAll exchange sees O(|delta|) rows instead of O(|acc|).
        # Round 16: when the history's EXACT row count (free — the probe
        # jobs count every delta, and the first probe counts the base) is
        # below the prefilter threshold, the exchange the prefilter would
        # avoid is smaller than the prefilter's own hash-distinct +
        # semi-join subtree, so shallow/narrow recursions skip straight to
        # the plain exceptAll. History can grow past the threshold within
        # one batch only by the batch's own deltas — rows the probe job is
        # about to materialize anyway — and the gate re-arms next batch.
        cand = nxt.distinct().exceptAll(prev_delta)
        if history_small:
            return cand.exceptAll(history)
        return cand.exceptAll(_prefilter_history(history, cand))

    def _finish(acc: DataFrame) -> DataFrame:
        # UNION mode's terminal distinct only exists to dedup a base the
        # caller handed in with duplicates: every delta is distinct and
        # disjoint from all prior rows BY CONSTRUCTION (_dedup). Proving
        # base distinctness at runtime was measured and rejected in round
        # 16: the count(distinct base) rider added a full exchange to the
        # first probe job and cost more than the terminal distinct saves
        # at bench scale (~8% on recursive_cte_graph_reach).
        return acc if union_all else acc.distinct()

    acc = base
    working = base
    acc_rows: int | None = None  # exact |acc|, seeded by the first probe job
    last_delta_rows: int | None = None  # |working| after each committed batch
    steps_done = 0
    steps_since_ckpt = 0
    unroll = min(2, max_unroll)
    while steps_done < max_iterations:
        # Deltas are consumed several times (emptiness probe, accumulator
        # union, next step); a LAZY checkpoint truncates the plan immediately
        # and the probe job materializes the blocks as a side effect —
        # without truncation every round recomputes the whole chain and the
        # loop goes quadratic.
        batch: list[DataFrame] = []
        prev = working  # last committed delta (already inside acc)
        hist = acc  # history EXCLUDING prev — prev is the cheap first stage
        hist_small = acc_rows is not None and (
            acc_rows <= _PREFILTER_MIN_HISTORY_ROWS
            or (
                last_delta_rows is not None
                and acc_rows <= _PREFILTER_MIN_HISTORY_RATIO * max(last_delta_rows, 1)
            )
        )
        k = min(unroll, max_iterations - steps_done)
        for i in range(k):
            nxt = step(prev)
            d = nxt if union_all else _dedup(nxt, prev, hist, hist_small)
            if not union_all or delta_checkpoint == "every" or i == k - 1:
                d = _truncate(d, reliable)
            batch.append(d)
            if not union_all and i >= 1:
                # prev graduates from "previous delta" to history; at i=0
                # it is `working`, which acc already contains
                hist = hist.unionAll(prev)
            prev = d
        # ONE probe job for the whole batch: a tagged union groupBy-count
        # computes every partition of all lazy checkpoints (count() — not
        # isEmpty/take(1), whose partition-escalation can schedule several
        # jobs on sparse deltas — guarantees full materialization).
        tagged = batch[0].select(F.lit(0).alias("__t"))
        for i, d in enumerate(batch[1:], start=1):
            tagged = tagged.unionAll(d.select(F.lit(i).alias("__t")))
        if acc_rows is None and not union_all:
            # Ride the base's row count on the first probe job (acc == base
            # exactly here, tag -1): it seeds the exact-|acc| tracking that
            # gates the prefilter — a union member of an already-scheduled
            # job, not an extra job or exchange.
            tagged = tagged.unionAll(acc.select(F.lit(-1).alias("__t")))
        counts = {r["__t"]: r["count"] for r in tagged.groupBy("__t").count().collect()}
        if acc_rows is None and not union_all:
            acc_rows = counts.get(-1, 0)
        used = 0
        for i, d in enumerate(batch):
            if counts.get(i, 0) == 0:
                break
            acc = acc.unionAll(d)
            if acc_rows is not None:
                acc_rows += counts[i]
            used += 1
        steps_done += used
        if used < len(batch):
            return _finish(acc)
        working = batch[-1]
        last_delta_rows = counts.get(len(batch) - 1, 0)
        unroll = min(unroll + 1, max_unroll)
        steps_since_ckpt += used
        # Truncate the accumulator every ~_CHECKPOINT_EVERY STEPS (unionAll
        # concatenates partition lists, so acc's partition count grows per
        # step; coalesce — narrow, no shuffle — bounds later scan task
        # counts). Lazy for the same one-job-per-round reason as the delta
        # checkpoints: the next round's prefilter semi-join is the first
        # consumer and materializes it in its own job.
        if steps_since_ckpt >= _CHECKPOINT_EVERY:
            acc = _truncate(acc.coalesce(n_part), reliable)
            steps_since_ckpt = 0
    raise RuntimeError(f"recursive_cte did not converge in {max_iterations} iterations")
