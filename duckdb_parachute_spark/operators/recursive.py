"""Recursive CTE: WITH RECURSIVE fixpoint evaluation.

Reference: PhysicalRecursiveCTE (src/execution/operator/set/
physical_recursive_cte.cpp — iterate the recursive half against the working
table until no new rows; UNION dedups against all prior rows, UNION ALL keeps
everything). Spark has no native recursion (SURVEY §2.8) → driver-side loop,
each iteration a distributed job; localCheckpoint() truncates the growing
lineage so plan size stays O(1) per iteration instead of O(iterations).

UNION-mode dedup: each step's candidates must be checked against every
committed row, the reference's working-table hash lookup. Here that is ONE
aggregate per step: the candidates, tagged new, are unioned with the
committed rows, tagged old, grouped by every column, and a group survives
only if it holds no old row. Catalyst plans it as a partial and a final
aggregate around a single exchange, and grouping is null-safe and
normalizes NaN and -0.0, so UNION semantics hold. When the history is
large and many times the delta (the prefilter gate, see recursive_cte),
the committed rows are first semi-joined to the (delta-sized, usually
broadcast) distinct xxhash64 set of the candidates, so only history rows
whose hash collides with a candidate reach the exchange. Both sides are
hashed in the types the union widens them to. This is a runtime bloom
expressed in relational algebra, and unlike a real bloom it is EXACT: a
history row with no candidate hash match cannot equal a candidate, so
dropping it cannot change which groups hold an old row. The per-step
exchange then carries O(|collisions|) ~= O(|delta|) history rows instead
of O(|acc|); the remaining O(|acc|) work is a map-side scan. (Spark exposes no
bloom_filter_agg in the public function registry, so the semi-join is
also the only no-driver-collect spelling available.)
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
    """The history rows that can possibly affect ``_dedup(cand, acc)``:
    semi-join the accumulator to the candidates' distinct row-hash set.
    EXACT (not a bloom): a history row whose full-row hash matches no
    candidate hash cannot equal any candidate, so dropping it cannot change
    the dedup result. Output size is O(|hash collisions|) ~= O(|cand|)
    regardless of |acc| — the structural invariant pinned by
    test_recursive_prefilter_is_delta_sized.

    No forced broadcast hint: early iterations can carry a large delta, and
    AQE converts the semi-join to broadcast at runtime exactly when the hash
    set is actually small (the usual case in deep recursions) — the same
    gated posture as catalog.maybe_broadcast."""
    cand_hashes = cand.select(_row_hash(cand).alias("__rh")).distinct()
    return acc.join(cand_hashes, _row_hash(acc) == F.col("__rh"), "left_semi")


def _dedup(nxt: DataFrame, old: DataFrame, prefilter: bool = False) -> DataFrame:
    """The distinct rows of ``nxt`` that are not in ``old``, as ONE
    aggregate (see module docstring): union ``nxt`` tagged True with ``old``
    tagged False, group by every column, keep the groups whose min tag is
    True. Columns match by position, as in a set operation, and take
    ``nxt``'s names; positional aliases keep a duplicated column name or a
    column called like the tag groupable.

    With ``prefilter``, ``old`` is first cut to its row-hash collisions
    with ``nxt`` (_prefilter_history). Both sides are cast to the types the
    union widens them to before they are hashed: xxhash64 of an int and of
    a bigint with the same value differ, so hashing each side in its own
    types would drop history rows that equal a candidate."""
    cols = [f"__c{j}" for j in range(len(nxt.columns))]
    new, old = nxt.toDF(*cols), old.toDF(*cols)
    if prefilter:
        wide = new.unionAll(old).schema
        new, old = (df.select(*[F.col(f.name).cast(f.dataType) for f in wide]) for df in (new, old))
        old = _prefilter_history(old, new)
    tagged = new.withColumn("__new", F.lit(True)).unionAll(old.withColumn("__new", F.lit(False)))
    return (
        tagged.groupBy(*cols)
        .agg(F.min("__new").alias("__new"))
        .where(F.col("__new"))
        .select(*[F.col(c).alias(n) for c, n in zip(cols, nxt.columns)])
    )


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
    UNION dedup is unaffected: delta_i is still checked against every
    committed row (acc ∪ d_0..d_{i-1}, each row once), so fixpoint
    semantics are exact.

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
    _PREFILTER_MIN_HISTORY_RATIO): UNION mode counts the base with one
    count() before the first batch, and the probe jobs count every delta,
    so the gate always decides on the history's EXACT row count. A history
    at or below the absolute floor, OR at most ratio × the last delta's
    row count, goes into the dedup aggregate whole; a larger one is first
    cut to its row-hash collisions with the candidates. In the first batch
    there is no last delta yet, so only the floor applies: a base above it
    takes the prefilter. The prefilter's extra distinct+semi-join subtree
    only pays when the history EXCHANGE dominates, i.e. |acc| is both
    large in absolute terms and MANY times the delta (deep recursions with
    small frontiers): at 30× data (274k-row history, ~30k-row deltas,
    depth 8, 4-core host) the gate runs 9.4–9.6 s against 11.2–11.7 s with
    the prefilter forced. The base count is one small job; without it the
    first batch could not tell a 25-row base from a 4M-row one and would
    have to take the prefilter, whose hash-set broadcast costs two jobs.

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
    re-scan inputs, and for UNION mode, whose dedup plans must not chain
    across steps.
    """
    if delta_checkpoint not in ("every", "batch"):
        raise ValueError(f"delta_checkpoint must be 'every' or 'batch', got {delta_checkpoint!r}")
    if delta_checkpoint == "batch" and not union_all:
        # ADVICE r16: UNION mode always checkpoints every delta (its
        # dedup plans must not chain across steps) — a caller passing
        # the batch knob there would silently get "every" behavior.
        raise ValueError(
            "delta_checkpoint='batch' is UNION ALL only (union_all=True); "
            "UNION-mode deltas must checkpoint every step"
        )
    spark = base.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def _finish(acc: DataFrame) -> DataFrame:
        # UNION mode's terminal distinct only exists to dedup a base the
        # caller handed in with duplicates: every delta is distinct and
        # disjoint from all committed rows BY CONSTRUCTION (_dedup's one
        # aggregate groups the candidates with them). The up-front base
        # count stays a plain count(): it sizes the history for the
        # prefilter gate, which counts duplicate rows too, and a
        # count(distinct base) would add an exchange to prove something
        # the terminal distinct settles anyway.
        return acc if union_all else acc.distinct()

    if not union_all:
        # UNION is a set operation, and MAP columns have no set equality;
        # _dedup's aggregate would group them, so analyze a distinct of the
        # base to raise the set-operation error before any job runs.
        base.distinct()
    acc = base
    working = base
    acc_rows = None if union_all else base.count()  # exact |acc|, for the gate
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
        old = acc  # every committed row once: acc, then acc ∪ d_0 ∪ ...
        prefilter = (
            not union_all
            and acc_rows > _PREFILTER_MIN_HISTORY_ROWS
            and (
                last_delta_rows is None
                or acc_rows > _PREFILTER_MIN_HISTORY_RATIO * max(last_delta_rows, 1)
            )
        )
        k = min(unroll, max_iterations - steps_done)
        for i in range(k):
            nxt = step(prev)
            if union_all:
                d = nxt
            else:
                # History grows past the gate within one batch only by the
                # batch's own deltas, rows the probe job materializes
                # anyway; the gate re-arms next batch.
                d = _dedup(nxt, old, prefilter)
            if not union_all or delta_checkpoint == "every" or i == k - 1:
                d = _truncate(d, reliable)
            batch.append(d)
            if not union_all:
                old = old.unionAll(d)
            prev = d
        # ONE probe job for the whole batch: a tagged union groupBy-count
        # computes every partition of all lazy checkpoints (count() — not
        # isEmpty/take(1), whose partition-escalation can schedule several
        # jobs on sparse deltas — guarantees full materialization).
        tagged = batch[0].select(F.lit(0).alias("__t"))
        for i, d in enumerate(batch[1:], start=1):
            tagged = tagged.unionAll(d.select(F.lit(i).alias("__t")))
        counts = {r["__t"]: r["count"] for r in tagged.groupBy("__t").count().collect()}
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
        # checkpoints: the next round's first dedup (or, in UNION ALL mode,
        # the final consumer) is the first job to read it and materializes it.
        if steps_since_ckpt >= _CHECKPOINT_EVERY:
            acc = _truncate(acc.coalesce(n_part), reliable)
            steps_since_ckpt = 0
    raise RuntimeError(f"recursive_cte did not converge in {max_iterations} iterations")
