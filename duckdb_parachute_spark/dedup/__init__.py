"""Deduplication for training-data pipelines (extension goal, SURVEY M5).

Exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine
near-dup. No reference counterpart (DuckDB has none of these as operators) —
designed Spark-first for the 100 TB case:

- signatures/bands are Catalyst higher-order expressions (JVM, codegen) — the
  full corpus is never pulled through Python;
- candidate generation is an equi-join on band hashes (shuffle on band key),
  NOT an O(n²) cross join;
- verification (exact Jaccard / cosine) runs only on candidate pairs.

MinHash permutations use md5(seed || shingle) so signatures are reproducible
across engines (the SQL oracle computes the identical signature in DuckDB).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_parachute_spark.functions.textfns import ngram_shingles, word_shingles


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup = hash-groupBy on the chosen columns (one shuffle)."""
    return df.dropDuplicates(cols)


def minhash_signature(text: Column, num_perm: int = 12, shingle_k: int = 3) -> Column:
    """MinHash signature: array of num_perm minima of md5(i || shingle).

    String-min over hex md5 is a valid uniform hash ordering and is identical
    in any engine with md5 — the cross-engine-stable choice (xxhash64 would be
    faster but is Spark-specific)."""
    # Nesting direction matters for cost: `transform(perms, i -> min over
    # shingles)` puts the shingle array in the lambda body, re-building it
    # once per permutation. Instead fold ONCE over the shingles (argument
    # position — evaluated a single time) and keep a running element-wise
    # minimum of each shingle's num_perm hashes: exactly
    # num_perm × |shingles| md5 calls per document.
    sh = word_shingles(text, shingle_k)
    per_shingle = F.transform(
        sh,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda i: F.md5(F.concat(i.cast("string"), F.lit("|"), s)),
        ),
    )
    init = F.array_repeat(F.lit("~"), num_perm)  # '~' sorts after every hex digit
    return F.aggregate(per_shingle, init, lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b)))


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band (contiguous signature slice) to one key."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "#", b.cast("string"), F.md5(F.concat_ws("|", F.slice(signature, b * rows_per_band + 1, rows_per_band)))
        ),
    )


#: Default LSH bucket-size cap: a bucket of k members emits k·(k-1)/2 pairs
#: from ONE grouped row, so an uncapped boilerplate bucket (k ~ 1e5 on web
#: corpora) would materialize ~5e9 pairs in a single task. 10k members
#: (~5e7 pairs, tens of MB) is the largest bucket a task should ever expand.
DEFAULT_MAX_BUCKET = 10_000


def _lsh_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
) -> DataFrame:
    """(band_key, sorted member ids) per LSH bucket with >= 2 members."""
    rows_per_band = num_perm // bands
    sig = df.select(
        F.col(id_col).alias("__id"),
        minhash_signature(F.col(text_col), num_perm, shingle_k).alias("__sig"),
    ).persist()
    exploded = sig.select(
        "__id",
        F.explode(band_keys(F.col("__sig"), bands, rows_per_band)).alias("__band"),
    )
    return (
        exploded.groupBy("__band")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .where(F.size("__ids") > 1)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs (id1 < id2) via MinHash + LSH banding.

    Scale shape: persist the signature table (tiny: id + num_perm hashes —
    the expensive num_perm×shingles md5 pass runs exactly once, never
    re-inlined by CollapseProject into each band lambda), explode to
    (id, band_key), shuffle ONCE on band key, and generate pairs in-expression
    from each bucket's sorted id list — no exploded self-join, no second scan
    of the corpus.

    Hot buckets (boilerplate/empty text) are the skew risk: a bucket of k
    docs yields k·(k-1)/2 pairs from one row, unbounded on real corpora.
    Buckets over ``max_bucket_size`` are therefore EXCLUDED (pass None to
    disable); such a bucket carries no near-dup signal anyway — it is the
    corpus' boilerplate class, and `minhash_lsh_overflow` reports exactly
    what was dropped so callers can route those docs to an exact-dedup or
    pre-filter pass instead."""
    buckets = _lsh_buckets(df, id_col, text_col, num_perm, bands, shingle_k)
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("__ids") <= max_bucket_size)
    pairs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id1", "p.id2")
        .distinct()
    )


def minhash_lsh_overflow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    sample_ids: int = 5,
) -> DataFrame:
    """Side-channel for the buckets `minhash_lsh_pairs` capped away.

    One row per over-cap bucket: band key, member count, and a bounded
    id sample (never the full membership — that is the blowup being
    avoided). Empty result = the cap did not bite."""
    buckets = _lsh_buckets(df, id_col, text_col, num_perm, bands, shingle_k)
    return (
        buckets.where(F.size("__ids") > max_bucket_size)
        .select(
            F.col("__band").alias("band_key"),
            F.size("__ids").cast("bigint").alias("bucket_size"),
            F.slice("__ids", 1, sample_ids).alias("id_sample"),
        )
    )


def simhash64(text: Column, shingle_k: int = 2) -> Column:
    """64-bit SimHash over word-shingle xxhash64 values.

    For each bit position: majority vote of shingle-hash bits (+1/-1),
    folded back into one BIGINT. Pure Catalyst expressions; xxhash64 is
    Spark-native (no SQL oracle — driver records rows-only)."""
    sh = word_shingles(text, shingle_k)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))

    def bit(i: int):
        # shiftrightunsigned requires a literal int shift — unroll the 64
        # positions in Python; Catalyst folds them into one projection.
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        return F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    return F.aggregate(
        F.array(*[bit(i) for i in range(64)]),
        F.lit(0).cast("long"),
        # shiftleft|or, not acc*2+b: setting bit 63 must wrap, not raise
        # under ANSI overflow checking.
        lambda acc, b: F.shiftleft(acc, 1).bitwiseOR(b),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bits(text: Column, shingle_k: int = 2) -> Column:
    """Cross-engine-reproducible 64-bit SimHash as a '0'/'1' bit string.

    Like simhash64 but the per-shingle hash bits come from the md5 hex digest
    (bit k = bit (3 - k%4) of hex digit k/4) instead of xxhash64, so a SQL
    oracle can rebuild the identical signature in any engine with md5 — the
    same portability choice minhash_signature makes.

    One pass over the shingles: fold once, maintaining 64 running majority
    votes (md5 computed once per shingle, never re-inlined per bit position);
    emitted as a 64-char string so hamming distance is plain string hamming
    in both engines."""
    md5s = F.transform(word_shingles(text, shingle_k), lambda s: F.md5(s))
    ks = F.sequence(F.lit(0), F.lit(63))
    shifts = F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1))

    def bitof(m, k):
        c = m.substr((k.cast("int") / F.lit(4)).cast("int") + F.lit(1), F.lit(1))
        a = F.ascii(c)
        v = a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))
        shift = F.element_at(shifts, (k.cast("int") % F.lit(4)) + F.lit(1))
        return (v.cast("int") / shift).cast("int") % F.lit(2)

    votes = F.aggregate(
        md5s,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, m: F.zip_with(acc, ks, lambda a, k: a + (bitof(m, k) * 2 - 1).cast("long")),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Character n-gram Jaccard similarity of two strings (set semantics)."""
    sa = F.array_distinct(ngram_shingles(a, n))
    sb = F.array_distinct(ngram_shingles(b, n))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = (F.size(sa) + F.size(sb)).cast("double") - inter
    return inter / F.greatest(union, F.lit(1.0))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bucket_col: str | None = None,
    allow_bruteforce: bool = False,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    on_overflow: str = "warn",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above `threshold`.

    With `bucket_col` (e.g. an LSH bucket or label) the self-join is
    per-bucket — the scale path. Without it this is an O(n²) cross join,
    which at 100 TB is never what anyone meant — so the unbucketed form must
    be requested explicitly with ``allow_bruteforce=True`` (small inputs:
    evaluation sets, per-partition verification).

    Hot buckets (round 11, VERDICT r10 item 3 — the minhash cap pattern):
    one degenerate cluster of k members self-joins to k²/2 comparisons, so
    buckets over ``max_bucket_size`` are EXCLUDED (pass None to disable) —
    a cluster that large carries no near-dup signal, it is a clustering
    failure mode; :func:`embedding_neardup_overflow` reports exactly what
    was dropped. The gate costs one partial-aggregated bucket count + a
    broadcast anti-join of the (tiny) over-cap bucket list — never a
    corpus-sized shuffle.

    ``on_overflow`` (round 12, ADVICE r11 — the cap must not drop pairs
    silently on the default path): ``"warn"`` eagerly counts the over-cap
    buckets (one partial-aggregated job — the shuffle is one row per
    bucket) and logs a warning naming the count and the side-channel;
    ``"error"`` raises instead; ``"ignore"`` restores the fully-lazy
    zero-extra-jobs plan for callers that run
    :func:`embedding_neardup_overflow` themselves.

    ``dim``: optional fixed vector width. Up to ``MAX_UNROLL_DIM`` the
    per-pair dot product and per-row norms unroll (functions.vector.
    dot_product, bit-identical), replacing the O(pairs x dim) interpreted
    fold, the hot loop at scale."""
    if bucket_col is None and not allow_bruteforce:
        raise ValueError(
            "embedding_neardup_pairs without bucket_col is O(n²); pass a "
            "bucket_col (LSH bucket / IVF centroid / label) or opt in "
            "explicitly with allow_bruteforce=True on small inputs"
        )
    if on_overflow not in ("warn", "error", "ignore"):
        raise ValueError(f"on_overflow must be warn|error|ignore, got {on_overflow!r}")
    if bucket_col is not None and max_bucket_size is not None:
        hot = (
            df.groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket_size)
            .select(bucket_col)
        )
        if on_overflow != "ignore":
            n_hot = hot.count()
            if n_hot:
                msg = (
                    f"embedding_neardup_pairs: {n_hot} bucket(s) exceed "
                    f"max_bucket_size={max_bucket_size}; ALL pairs within them "
                    f"are dropped. Run embedding_neardup_overflow() for the "
                    f"bucket list, or pass max_bucket_size=None to disable."
                )
                if on_overflow == "error":
                    raise ValueError(msg)
                logging.getLogger(__name__).warning(msg)
        df = df.join(F.broadcast(hot), bucket_col, "left_anti")
    from duckdb_parachute_spark.functions.vector import evaluate_once
    from duckdb_parachute_spark.similarity import _norm_hoisted_self_join

    joined, sim = _norm_hoisted_self_join(df, id_col, vec_col, bucket_col, dim)
    keys = [bucket_col] if bucket_col else []
    if dim is not None:
        # evaluate the (unrolled, up to MAX_UNROLL_DIM) cosine ONCE, in a
        # projection, not inside the join condition — see
        # functions.vector.evaluate_once for the measured why; without a
        # hint the fold keeps ordinary pushdown.
        sim = evaluate_once(sim)
    return (
        joined.where(F.col("id1") < F.col("id2"))
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= threshold)
        .select(*keys, "id1", "id2", "cosine")
    )


def embedding_neardup_overflow(
    df: DataFrame,
    id_col: str,
    bucket_col: str,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    sample_ids: int = 5,
) -> DataFrame:
    """Side-channel for the buckets :func:`embedding_neardup_pairs` capped
    away (the minhash_lsh_overflow pattern): one row per over-cap bucket
    with its size and a bounded id sample, so callers can route degenerate
    clusters to re-clustering or an exact-dedup pass. Empty result = the
    cap did not bite."""
    return (
        df.groupBy(bucket_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("bucket_size"),
            F.slice(F.sort_array(F.collect_list(id_col)), 1, sample_ids).alias("id_sample"),
        )
        .where(F.col("bucket_size") > max_bucket_size)
        .select(bucket_col, "bucket_size", "id_sample")
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination (LLM-pipeline scope, same family as the
    near-dup ops): flag corpus documents sharing any k-word shingle with an
    evaluation set. Returns ``(id, n_hits)`` — the count of DISTINCT
    contaminated shingles per flagged document.

    Scale posture: benchmark sets are tiny relative to a 100 TB corpus, so
    the distinct eval-shingle relation is BROADCAST and the corpus side is
    one scan + map-side hash semi-join — no corpus-sized shuffle exists;
    only matched (doc, shingle) pairs (rare by construction) reach the final
    per-doc aggregation."""
    from pyspark.sql.functions import broadcast

    ev = (
        eval_df.select(F.explode(word_shingles(F.col(text_col), k)).alias("shingle"))
        .where(F.col("shingle") != "")
        .distinct()
    )
    corp = corpus.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    return (
        corp.join(broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_hits"))
    )


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list, float]]:
    """Driver-collected (cid, vec, norm) triples, sorted by cid — the
    bounded centroid snapshot both the assignment and the pair search key
    their plans on."""
    rows = centroids.select(
        F.col("centroid_id").cast("long").alias("cid"),
        F.col("centroid").cast("array<double>").alias("vec"),
    ).collect()

    def _seq_norm(vec: list) -> float:
        # left-to-right accumulation: bit-identical to the engines' aggregate
        acc = 0.0
        for x in vec:
            acc += x * x
        return acc**0.5

    return sorted((r["cid"], list(r["vec"]), _seq_norm(r["vec"])) for r in rows)


def _centroid_dim(cents: list[tuple[int, list, float]]) -> int | None:
    """The common vector width, when every collected centroid shares one."""
    dims = {len(v) for _, v, _ in cents}
    return dims.pop() if len(dims) == 1 else None


def semantic_cluster_assign(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, probes: int = 1
) -> DataFrame:
    """Assign each embedding to its nearest centroid by cosine (SemDeDup,
    Abbas et al. 2023 — semantic dedup clusters the corpus first so the
    quadratic pair search runs per-cluster, never corpus-wide).

    Round 11 (VERDICT r10 item 3): ZERO-EXCHANGE assignment — the k
    centroids are a bounded driver collect (like the IVF seed path), so the
    corpus is never multiplied and never shuffled. The centroids ride as
    one packed array<struct> literal in the projection, walked per row by
    higher-order functions; an unrolled literal-arithmetic argmax was
    measured slower at the registry's 6 x 64 shape (ROADMAP direction 1).
    Per-row cost is O(k·d); beyond ~10k centroids an
    IVF-style coarse quantizer should prune candidates first
    (similarity.ivf_*). Ties break to the lowest centroid_id (ascending
    struct max over (sim, -cid)), deterministic and SQL-replayable.

    ``probes`` > 1 is MULTI-PROBE assignment (the SemDeDup paper's recall
    mitigation for near-dups that straddle a cluster boundary): each row
    lands in its top-``probes`` clusters — one extra generator (explode) in
    the same zero-exchange plan, row growth exactly ×probes by design."""
    return _cluster_assign(df, _collect_centroids(centroids), id_col, vec_col, probes)


def _cluster_assign(
    df: DataFrame,
    cents: list[tuple[int, list, float]],
    id_col: str,
    vec_col: str,
    probes: int = 1,
) -> DataFrame:
    from duckdb_parachute_spark.functions.vector import cosine_from_norms, row_norm

    def num(x: float) -> str:
        # repr round-trips every double (-0.0, subnormals, nan, +-inf) and
        # the string cast parses it back without rounding
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    # One folded array<struct> literal in the projection, built from SQL
    # text in one call: no join and no exchange. The cast types an empty
    # set and keeps centroid_id a non-null long.
    structs = ", ".join(
        f"named_struct('cid', {int(cid)}L, 'vec', array({', '.join(map(num, vec))}), "
        f"'nrm', {num(nrm)})"
        for cid, vec, nrm in cents
    )
    packed = F.expr(
        f"CAST(array({structs}) AS "
        "ARRAY<STRUCT<cid: BIGINT NOT NULL, vec: ARRAY<DOUBLE>, nrm: DOUBLE>>)"
    )
    row_nrm = row_norm(F.col(vec_col))
    sims = F.transform(
        packed,
        lambda c: F.struct(
            cosine_from_norms(F.col(vec_col), c["vec"], row_nrm, c["nrm"]).alias("sim"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    scored = df.select(id_col, vec_col)
    if probes <= 1:
        return scored.withColumn("__best", F.array_max(sims)).select(
            id_col, vec_col, (-F.col("__best.negcid")).alias("centroid_id")
        )
    # top-`probes`: natural struct sort is (sim ASC, negcid ASC); reversed,
    # ties still resolve to the LOWEST centroid_id (larger -cid first)
    top = F.slice(F.reverse(F.array_sort(sims)), 1, probes)
    return scored.select(
        id_col, vec_col, F.explode(top).alias("__c")
    ).select(id_col, vec_col, (-F.col("__c.negcid")).alias("centroid_id"))


def semantic_dup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    probes: int = 1,
    on_overflow: str = "warn",
) -> DataFrame:
    """SemDeDup pair discovery: cluster-assign (zero-exchange argmax), then
    cosine pairs ≥ threshold WITHIN each cluster (embedding_neardup_pairs
    with the cluster as the bucket). At 100 TB the cluster count scales with
    the corpus, so per-cluster membership stays bounded and the per-bucket
    self-join never degenerates to all-pairs; clusters that blow past
    ``max_bucket_size`` anyway (clustering failure) are capped away with an
    overflow side-channel. Cross-cluster near-dups are the recall tradeoff
    the paper accepts; ``probes`` > 1 (multi-probe assignment) recovers
    pairs straddling a boundary — a pair sharing SEVERAL probed clusters
    appears once per shared cluster (distinct (id1, id2, cluster); callers
    wanting the pair set alone drop the cluster column and distinct)."""
    # materialize the assignment ONCE (lazy localCheckpoint, the repo's
    # snapshot-once pattern): without it Catalyst recomputes the argmax
    # scan for EACH self-join side — at 100 TB that is two extra corpus
    # passes for nothing. The centroids are collected ONCE and their common
    # width feeds the pair search's dim hint (round 17 — the per-pair dot
    # unroll), so the hot join-side cosine takes the unrolled sum.
    cents = _collect_centroids(centroids)
    assigned = _cluster_assign(
        df, cents, id_col, vec_col, probes=probes
    ).localCheckpoint(eager=False)
    return embedding_neardup_pairs(
        assigned,
        id_col,
        vec_col,
        threshold,
        bucket_col="centroid_id",
        max_bucket_size=max_bucket_size,
        on_overflow=on_overflow,
        dim=_centroid_dim(cents),
    )
