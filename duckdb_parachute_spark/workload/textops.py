"""Text-analysis workload (training-data extension goals, SURVEY M5):
token stats, quality scoring, language-ID heuristic, fingerprinting.
All pure Catalyst expressions over the documents table; every query has an
exact SQL oracle (the heuristics are defined to be engine-portable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_parachute_spark.catalog import load_table
from duckdb_parachute_spark.functions.textfns import (
    STOPWORDS,
    punct_ratio,
    rolling_fingerprint,
    token_count,
    tokens,
)
from duckdb_parachute_spark.workload import query


@query(
    "text_token_stats",
    oracle="""
    SELECT lang,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           round(avg(len(string_split(trim(text), ' '))), 4) AS avg_tokens,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(avg(length(text)), 4) AS avg_len
    FROM documents GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting per language (extension goal: token counting).
    Driver docs are single-space separated → whitespace split is exact."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim(F.col("text")), " "))
    return d.groupBy("lang").agg(
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
    )


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_char,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
           round(CAST(length(text) - length(replace(text, ' ', ''))
                 AS DOUBLE) / greatest(length(text), 1), 6) AS space_ratio,
           round(CAST(len(list_filter(string_split(lower(text), ' '),
                                      t -> list_contains(['the','and','of','to','a'], t)))
                 AS DOUBLE) / greatest(len(string_split(trim(text), ' ')), 1), 6) AS stop_ratio_en,
           (length(text) >= 100 AND len(string_split(trim(text), ' ')) >= 20) AS passes_min_quality
    FROM documents WHERE doc_id < 200
    """,
)
def text_quality_scores(spark, sf_dir):
    """Quality scoring (extension goal): length/space/stopword ratios and a
    pass/fail gate — the shape of a C4/FineWeb-style filter, as one codegen'd
    projection."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    n_char = F.length("text")
    n_tok = F.size(F.split(F.trim(F.col("text")), " "))
    spaces = n_char - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    toks_lower = F.split(F.lower(F.col("text")), " ")
    stop_hits = F.size(F.filter(toks_lower, lambda t: t.isin(*STOPWORDS["en"])))
    return d.select(
        "doc_id",
        n_char.cast("bigint").alias("n_char"),
        n_tok.cast("bigint").alias("n_tok"),
        F.round(spaces.cast("double") / F.greatest(n_char, F.lit(1)), 6).alias("space_ratio"),
        F.round(stop_hits.cast("double") / F.greatest(n_tok, F.lit(1)), 6).alias("stop_ratio_en"),
        ((n_char >= 100) & (n_tok >= 20)).alias("passes_min_quality"),
    )


@query(
    "text_lang_guess",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
           len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','and','of','to','a'], t))) AS s_en,
           len(list_filter(string_split(lower(text), ' '), t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
           len(list_filter(string_split(lower(text), ' '), t -> list_contains(['le','la','et','les','des'], t))) AS s_fr,
           len(list_filter(string_split(lower(text), ' '), t -> list_contains(['el','la','los','que','de'], t))) AS s_es
        FROM documents)
    SELECT lang,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS guess,
           CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def text_lang_guess(spark, sf_dir):
    """Language-ID heuristic (extension goal): stopword-hit argmax with a
    deterministic tie order (en > de > fr > es), identical in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    def hits(sw):
        # The lambda must stay unary — pyspark derives HOF arity from the
        # Python signature, so sw is captured via closure, not a default arg.
        return F.size(F.filter(toks, lambda t: t.isin(*sw)))

    scores = {lang: hits(sw) for lang, sw in STOPWORDS.items()}
    guess = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]) & (scores["en"] >= scores["es"]), "en")
        .when((scores["de"] >= scores["fr"]) & (scores["de"] >= scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    return d.select("lang", guess.alias("guess")).groupBy("lang", "guess").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "text_fingerprint_dups",
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS BIGINT) AS n_unique
    FROM documents GROUP BY source
    """,
)
def text_fingerprint_dups(spark, sf_dir):
    """Document fingerprinting (extension goal): md5 of normalized text,
    distinct-count per source — md5 hex matches across engines by design."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(rolling_fingerprint(F.col("text"))).alias("n_unique"),
    )


@query(
    "text_levenshtein_pairs",
    oracle="""
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30)) AS BIGINT) AS lev
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id < 40
    """,
)
def text_levenshtein_pairs(spark, sf_dir):
    """levenshtein (reference src/function/scalar/string/levenshtein.cpp) on
    adjacent-doc prefixes — native in both engines."""
    d = load_table(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id1"), F.substring("text", 1, 30).alias("t1")).where(
        F.col("id1") < 40
    )
    b = d.select(F.col("doc_id").alias("id2"), F.substring("text", 1, 30).alias("t2"))
    return (
        a.join(b, b.id2 == a.id1 + 1)
        .select("id1", "id2", F.levenshtein("t1", "t2").cast("bigint").alias("lev"))
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH RECURSIVE docs AS (
        SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS t,
               row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
        FROM documents
    ),
    packed AS (
        SELECT shard, rn, t, CAST(0 AS BIGINT) AS bin_id, t AS fill
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn, d.t,
               CASE WHEN p.fill + d.t > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
               CASE WHEN p.fill + d.t > 256 THEN d.t ELSE p.fill + d.t END
        FROM packed p JOIN docs d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY shard, bin_id
    ORDER BY shard, bin_id
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (packing.pack_greedy — LLM-pipeline scope):
    documents shard by doc_id % 4, each shard packs whitespace-token counts
    into 256-token bins first-fit in doc order. The oracle replays the same
    sequential rule as a DuckDB recursive CTE walking each shard row-by-row
    — an exact check of a data-dependent-reset cumsum that plain window
    functions cannot express. Per-shard fill starts positive (every doc has
    ≥1 token), so the oracle's simplified new-bin condition (fill + t > max)
    equals the engine's (fill > 0 AND ...)."""
    from duckdb_parachute_spark.packing import pack_greedy

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("t")
    )
    packed = pack_greedy(docs, "doc_id", "t", max_len=256, n_shards=4)
    return (
        packed.groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("bin_tokens"))
        .orderBy("shard", "bin_id")
    )


@query(
    "text_repetition_filters",
    oracle="""
    WITH toks AS (
        SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
               list_transform(
                   generate_series(1, greatest(len(string_split(trim(text), ' ')) - 1, 1)),
                   i -> array_to_string(list_slice(string_split(trim(text), ' '), i, i + 1), ' ')
               ) AS bi,
               list_transform(
                   generate_series(1, greatest(len(string_split(trim(text), ' ')) - 2, 1)),
                   i -> array_to_string(list_slice(string_split(trim(text), ' '), i, i + 2), ' ')
               ) AS tri
        FROM documents
    ),
    top2 AS (
        SELECT doc_id, max(c) AS top_bi FROM (
            SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(bi) AS g FROM toks)
            GROUP BY doc_id, g
        ) GROUP BY doc_id
    ),
    tri AS (
        SELECT doc_id, count(*) AS tri_total, count(DISTINCT g) AS tri_distinct
        FROM (SELECT doc_id, unnest(tri) AS g FROM toks) GROUP BY doc_id
    )
    SELECT t.doc_id, k.n_tokens,
           round(2.0 * top_bi / k.n_tokens, 4) AS top2_frac,
           round(1.0 - CAST(tri_distinct AS DOUBLE) / tri_total, 4) AS dup3_frac
    FROM tri t JOIN top2 p ON t.doc_id = p.doc_id JOIN toks k ON k.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    cast_double=("top2_frac", "dup3_frac"),
)
def text_repetition_filters(spark, sf_dir):
    """Gopher-style repetition filters (textfns.repetition_metrics): per-doc
    top-bigram coverage and duplicate-trigram fraction — the boilerplate/
    repetition half of quality scoring, as distributed grouped aggregation
    (no per-row Python)."""
    d = load_table(spark, sf_dir, "documents")
    from duckdb_parachute_spark.functions.textfns import repetition_metrics

    return repetition_metrics(d, "doc_id", "text").orderBy("doc_id")


@query(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS t,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
               CAST((i - 1) * 48 + 1 AS BIGINT) AS chunk_start, n, t
        FROM toks,
             unnest(generate_series(1, CAST(greatest(ceil((n - 64.0) / 48) + 1, 1) AS BIGINT))) u(i)
    )
    SELECT doc_id, chunk_idx, chunk_start,
           array_to_string(list_slice(t, chunk_start, chunk_start + 63), ' ') AS chunk_text,
           CAST(least(n - chunk_start + 1, 64) AS BIGINT) AS n_chunk_tokens
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (packing.chunk_tokens): 64-token
    windows, stride 48 (16-token overlap) over every document — the standard
    context-window chunker, pure Catalyst posexplode+slice. The oracle
    replays the same window arithmetic with generate_series + list_slice."""
    from duckdb_parachute_spark.packing import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    out = chunk_tokens(d, "doc_id", "text", window=64, stride=48)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_start",
        "chunk_text",
        "n_chunk_tokens",
    ).orderBy("doc_id", "chunk_idx")


# PII scrub: the testdata corpus is synthetic-clean, so the query INJECTS
# deterministic PII (same expression in both engines) and grades the
# sequential count-then-redact pipeline on it. The oracle replicates the
# category order with chained CTEs — each stage counts on the PREVIOUS
# stage's scrubbed text, exactly like pii_scrub's fold.
_PII_ORACLE = r"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7'
                || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END
                || CASE WHEN doc_id % 3 = 0 THEN ' call +1 555-123-4567' ELSE '' END AS t
    FROM documents
), s1 AS (
    SELECT doc_id, len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM aug
), s2 AS (
    SELECT doc_id, n_email, len(regexp_extract_all(t, '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b')) AS n_card,
           regexp_replace(t, '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b', '<CARD>', 'g') AS t FROM s1
), s3 AS (
    SELECT doc_id, n_email, n_card, len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t FROM s2
), s4 AS (
    SELECT doc_id, n_email, n_card, n_ssn, len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
           regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t FROM s3
), s5 AS (
    SELECT doc_id, n_email, n_card, n_ssn, n_ip, len(regexp_extract_all(t, '(?:\+\d{1,2}|\b\d{1,2})[ .-]?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b')) AS n_phone,
           regexp_replace(t, '(?:\+\d{1,2}|\b\d{1,2})[ .-]?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b', '<PHONE>', 'g') AS t FROM s4
)
SELECT doc_id, n_email, n_card, n_ssn, n_ip, n_phone, t AS clean_text
FROM s5 ORDER BY doc_id
"""


@query("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark, sf_dir):
    """PII redaction (emails/cards/SSNs/IPv4s/phones → typed tokens) with
    sequential per-category counts — the training-data hygiene pass. Pure
    regexp_count/regexp_replace Catalyst chain: narrow map, no shuffle, no
    Python. Patterns are Java-regex/RE2 bilingual (no lookaround, ASCII
    word boundaries) so the oracle runs them verbatim."""
    from duckdb_parachute_spark.functions.textfns import pii_scrub

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" call +1 555-123-4567")).otherwise(F.lit("")),
        ).alias("t"),
    )
    return pii_scrub(aug, "t", out="clean_text").drop("t").orderBy("doc_id")


# BM25 (Okapi, Lucene idf variant) relevance scoring for data curation: rank
# the corpus against a fixed query-term set. Spark plan: filter the exploded
# tokens to the QUERY TERMS FIRST (the pruning that makes 100 TB feasible —
# everything downstream is query-term-sized), aggregate tf/df, broadcast the
# two corpus scalars (N, avgdl), one final per-doc reduce. Identical double
# arithmetic on both engines; score rounded to 4 digits (both engines' ln /
# summation-order noise is ~1e-12 relative here).
_BM25_TERMS = ("join", "hash", "window", "parquet")
_BM25_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok
    WHERE term IN {str(tuple(_BM25_TERMS))} GROUP BY doc_id, term
), df AS (
    SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
)
SELECT doc_id,
       round(sum(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score
FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 20
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark, sf_dir):
    """BM25 top-k relevance over the corpus (k1=1.2, b=0.75, Lucene idf).
    One aggregate by doc_id counts each document's tokens (dl) and its
    query-term hits (tf per term) straight from the split arrays, so the
    only shuffle carries one row per document, never a token; N, avgdl and
    each term's df are one broadcast row. One chain of stages also keeps
    the whole-stage codegen ids, and so the generated classes, the same on
    every run: two independent token aggregates (dl and tf) finished in
    either order and AQE numbered the stages after them in that order, so
    a re-run compiled new classes for swapped ids. No reference
    counterpart in this snapshot (the FTS extension is out-of-tree) —
    designed Spark-first, graded against a from-scratch SQL oracle."""
    d = load_table(spark, sf_dir, "documents")
    terms = F.split("text", " ")
    per_doc = (
        d.where(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.sum(F.size(terms)).cast("double").alias("dl"),
            *[
                F.sum(F.size(terms) - F.size(F.array_remove(terms, t))).cast("double").alias(f"tf_{t}")
                for t in _BM25_TERMS
            ],
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.count(F.when(F.col(f"tf_{t}") > 0, 1)).cast("double").alias(f"df_{t}") for t in _BM25_TERMS],
    )
    norm = 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    score = sum(
        F.when(
            F.col(f"tf_{t}") > 0,
            F.log((F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1.0)
            * F.col(f"tf_{t}") * 2.2 / (F.col(f"tf_{t}") + norm),
        ).otherwise(0.0)
        for t in _BM25_TERMS
    )
    return (
        per_doc.where(F.greatest(*[F.col(f"tf_{t}") for t in _BM25_TERMS]) > 0)
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# Corpus-trained bigram log-probability scoring — the KenLM/CCNet-style
# "perplexity" quality filter, self-trained so both engines derive the
# IDENTICAL model from the data: p(w2|w1) = c(w1,w2)/c(w1·) (MLE over the
# corpus; every scored bigram was seen, so no smoothing term is needed).
# Spark plan: one exploded-bigram shuffle for counts, one broadcast-scalar-
# free join back, avg(ln p) per doc. At 100 TB the count tables are the
# aggregate grain (vocab²-bounded, heavy-hitter-skew-safe: partial aggs).
_BIGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), bg AS (
    SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
    FROM toks, unnest(generate_series(1, greatest(len(ws) - 1, 0))) t(i)
), c12 AS (
    SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
    SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1
)
SELECT bg.doc_id, round(avg(ln(c12.c2 / c1.c1)), 6) AS avg_logprob
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
WHERE bg.doc_id < 300
GROUP BY bg.doc_id ORDER BY bg.doc_id
"""


@query("text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def text_bigram_logprob(spark, sf_dir):
    """Per-document bigram log-probability (perplexity-style quality
    score): the corpus trains its own MLE bigram model, each document is
    scored by the mean ln p(w2|w1) of its bigrams. Natural-text documents
    score high, repetitive/garbled ones low — the CCNet-style filter gate.
    Two grouped counts + two co-partitioned joins; no Python."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), " ")
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    return (
        bg.where(F.col("doc_id") < 300)
        .join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("c2") / F.col("c1"))), 6).alias("avg_logprob"))
        .orderBy("doc_id")
    )
