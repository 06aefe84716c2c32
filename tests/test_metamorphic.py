"""Metamorphic / property checks in the reference's verifier spirit
(SURVEY §5: src/verification/* re-run transformed statements and compare;
test/fuzzer holds sqlsmith-style regressions).

1. Expression matrix: a seeded generator builds hundreds of random scalar
   expressions over typed literal rows (ints, doubles, strings, NULLs) from a
   grammar restricted to constructs with identical cross-engine semantics;
   Spark and DuckDB evaluate the same SELECT and must agree cell-for-cell.
2. AQE on/off: representative workload queries must return identical results
   with adaptive execution disabled (the unoptimized-statement verifier
   analogue — plan changes must never change semantics).
"""

from __future__ import annotations

import random

import duckdb
import pytest

from duckdb_parachute_spark.testkit.compare import compare_frames

ROWS = [
    (0, 1, 0.5, "alpha"),
    (1, -3, -2.25, "Beta"),
    (7, 7, 3.125, ""),
    (-4, 2, 100.0, "gamma delta"),
    (42, -1, -0.125, None),
    (9, 0, 7.75, "Zed"),
    (None, 5, None, "null-ish"),
    (13, None, 2.5, "x"),
]


def _values_sql() -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    rows = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in ROWS)
    return f"(VALUES {rows}) t(i, j, x, s)"


def _gen_exprs(seed: int, n: int) -> list[str]:
    """Random expressions from a cross-engine-safe grammar.

    Excluded on purpose: integer division/modulo by possibly-zero or negative
    divisors, overflow-capable arithmetic, float formatting (doubles are
    rounded), locale-sensitive string ops, implicit casts between unrelated
    types."""
    rng = random.Random(seed)
    ints = ["i", "j", "CAST(2 AS BIGINT)", "CAST(-7 AS BIGINT)"]
    dbls = ["x", "0.25", "-1.5"]
    strs = ["s", "'k'", "''"]

    def int_expr(d=0):
        if d > 2 or rng.random() < 0.4:
            return rng.choice(ints)
        a, b = int_expr(d + 1), int_expr(d + 1)
        op = rng.choice(["+", "-", "*"])
        return f"({a} {op} {b})"

    def dbl_expr(d=0):
        if d > 2 or rng.random() < 0.4:
            return rng.choice(dbls)
        a, b = dbl_expr(d + 1), dbl_expr(d + 1)
        return f"({a} {rng.choice(['+', '-', '*'])} {b})"

    def str_expr(d=0):
        if d > 1 or rng.random() < 0.5:
            return rng.choice(strs)
        kind = rng.randrange(3)
        if kind == 0:
            return f"upper({str_expr(d + 1)})"
        if kind == 1:
            # Found by this very test: DuckDB concat() skips NULL args
            # (Postgres-style) while Spark concat() is NULL-propagating —
            # a real dialect divergence. Neutralize with coalesce so the
            # matrix checks the shared semantics.
            return (
                f"concat(coalesce({str_expr(d + 1)}, ''), "
                f"coalesce({str_expr(d + 1)}, ''))"
            )
        return f"substr({str_expr(d + 1)}, 1, 3)"

    def bool_expr(d=0):
        if d > 1:
            return f"({int_expr()} > {int_expr()})"
        kind = rng.randrange(5)
        if kind == 0:
            return f"({int_expr()} {rng.choice(['<', '<=', '=', '>', '>='])} {int_expr()})"
        if kind == 1:
            return f"({dbl_expr()} {rng.choice(['<', '>'])} {dbl_expr()})"
        if kind == 2:
            return f"({bool_expr(d + 1)} AND {bool_expr(d + 1)})"
        if kind == 3:
            return f"({bool_expr(d + 1)} OR {bool_expr(d + 1)})"
        return f"(NOT {bool_expr(d + 1)})"

    out = []
    for k in range(n):
        kind = k % 5
        if kind == 0:
            out.append(f"CAST({int_expr()} AS BIGINT)")
        elif kind == 1:
            out.append(f"round({dbl_expr()}, 6)")
        elif kind == 2:
            out.append(str_expr())
        elif kind == 3:
            out.append(bool_expr())
        else:
            out.append(
                f"CASE WHEN {bool_expr()} THEN {int_expr()} ELSE coalesce({int_expr()}, 0) END"
            )
    return out


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_expression_matrix_cross_engine(spark, seed):
    exprs = _gen_exprs(seed, 60)
    select = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    sql = f"SELECT {select} FROM {_values_sql()}"
    spark_pdf = spark.sql(sql).toPandas()
    con = duckdb.connect()  # keep a reference: chaining would let GC close it
    oracle_pdf = con.sql(sql).df()
    # random literal arithmetic yields DECIMAL on Spark but float on DuckDB's
    # .df(); the strict compare (str-level, mirroring the driver) would flag
    # scale-only differences, so bridge decimals to float here — registry
    # queries instead cast at the output boundary and stay strict.
    from decimal import Decimal

    for pdf in (spark_pdf, oracle_pdf):
        for c in pdf.columns:
            if pdf[c].map(lambda v: isinstance(v, Decimal)).any():
                pdf[c] = pdf[c].map(lambda v: float(v) if isinstance(v, Decimal) else v)
    res = compare_frames(f"exprs-seed{seed}", spark_pdf, oracle_pdf)
    assert res.ok, str(res)


AQE_QUERIES = [
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "window_qualify_topn_per_group",
    "dedup_minhash_pairs",
    "setop_union_intersect_except",
    # round-7 families: year-pair conditional aggregation, INTERSECT
    # funnel, two-phase global rank, spec-driven JOB star
    "tpcds_q4_threechannel_growth",
    "tpcds_q14_cross_channel_intersect",
    "tpcds_q44_best_worst_rank",
    "job_i09_deep_chain_six",
    # late round-9 families: the iterative star-contraction fixpoint and the
    # two-level bigram aggregation — AQE replanning must not change either
    "dedup_cluster_canonical",
    "text_bigram_logprob",
]


@pytest.mark.parametrize("name", AQE_QUERIES)
def test_aqe_off_matches_aqe_on(spark, sf_dir, name):
    from duckdb_parachute_spark.workload import load_all

    qd = load_all()[name]
    on = qd.fn(spark, sf_dir).toPandas()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        off = qd.fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    res = compare_frames(f"aqe-{name}", on, off)
    assert res.ok, str(res)


@pytest.mark.parametrize("seed", [5, 19])
def test_pivot_statement_matrix_cross_engine(spark, sf_dir, seed):
    """Random PIVOT-statement shapes: the same DuckDB PIVOT text must give
    identical tables through sqlx's rewrite (dynamic value discovery +
    Spark PIVOT clause) and DuckDB's native dynamic pivot."""
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.catalog import load_table

    rng = random.Random(seed)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    on_cols = ["o_orderstatus", "o_orderpriority"]
    group_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = ["count(o_orderkey)", "min(o_orderkey)", "max(o_custkey)", "count(*)"]
    for _ in range(6):
        on = rng.choice(on_cols)
        grp = rng.choice([g for g in group_cols if g != on])
        agg = rng.choice(aggs)
        stmt = f"PIVOT orders ON {on} USING {agg} GROUP BY {grp}"
        spark_pdf = sqlx.sql(spark, stmt).toPandas()
        oracle_pdf = con.sql(stmt).df()
        res = compare_frames(stmt, spark_pdf, oracle_pdf)
        assert res.ok, (stmt, res.errors)


def _gen_dialect_exprs(seed: int, n: int) -> list[str]:
    """Random expressions over the NEW dialect operators (regex full-match,
    power, factorial, string_split): DuckDB-only spellings, so the Spark
    side must go through sqlx.transpile — this matrix is the rewrite
    verifier, same spirit as the reference's unoptimized-statement check."""
    rng = random.Random(seed)
    pats = ["[a-z]+", "a.*", ".*a.*", "[A-Z].*a?", "x|y|.*e.*", "\\\\w+"]
    seps = [" ", "a", "-", "||", "."]

    # round 10: %f microseconds, ISO %G/%V/%u (function-backed), bare-letter
    # literal runs, and a literal apostrophe — each a distinct emitter path
    fmts = [
        "%Y-%m-%d", "%d/%m/%Y", "%Y%m", "%a %b %d", "%H:%M",
        "%H:%M:%S.%f", "%G-W%V-%u", "wk %V of %G", "day %d!", "it''s %Y",
    ]
    int_casts = [
        # DECIMAL operand → half away from zero; DOUBLE operand → half even;
        # VARCHAR operand → half away (rewrite_int_casts, pinned duckdb 1.0)
        "(2.5)::int",
        "(-2.5)::int",
        "(coalesce(j, 1) * 2.5)::bigint",
        "coalesce(x, 0.5)::int",
        "(coalesce(x, 0.25) * 4)::bigint",
        "'3.5'::int",
        "'-2.5'::int",
        "CAST(coalesce(x, -0.5) AS INT)",
        "CAST(coalesce(j, 2) * 1.5 AS BIGINT)",
        "TRY_CAST(coalesce(x, 2.5) AS INT)",
        "coalesce(i, 0)::bigint",
        # round 11 (VERDICT r10 item 4): DECIMAL/VARCHAR inputs straddling
        # 2^53 — the old double hop lost digits; the decimal-native HALF_UP
        # branch must be exact AND round half away from zero
        "CAST(CAST('9007199254740993' AS DECIMAL(38,10)) AS BIGINT)",
        "'9007199254740993'::bigint",
        "CAST(CAST('9007199254740992.5' AS DECIMAL(38,10)) AS BIGINT)",
        "CAST(CAST('-9007199254740992.5' AS DECIMAL(38,10)) AS BIGINT)",
        "(9007199254740992.5)::bigint",
    ]
    fn_aliases = [
        # rename-only aliases + boundary-crossing date_diff (round 10);
        # arg_min/arg_max are AGGREGATES — tested in test_sqlx, not here
        "strpos(coalesce(s, ''), 'a')",
        "list_extract([10, 20, 30], coalesce(j, 1))",
        "list_position([10, 20, 30], coalesce(i, 0))",
        "list_contains([1, 2, 3], coalesce(j, 0))",
        "regexp_matches(coalesce(s, ''), '[a-z]+a')",
        "string_split_regex(coalesce(s, 'q1w22e'), '[0-9]+')[1]",
        "date_diff('month', DATE '2021-01-31', DATE '2021-01-31' + (coalesce(i, 0) % 90))",
        "date_diff('day', DATE '2021-01-01', DATE '2021-01-01' + (coalesce(j, 0) % 90))",
        "date_diff('week', DATE '2021-01-03', DATE '2021-01-03' + (coalesce(i, 0) % 30))",
        "date_diff('quarter', DATE '2021-02-11', DATE '2021-02-11' + (coalesce(i, 0) % 200))",
        # arrays stringified (null kept as a token): a bare NULL element
        # makes pandas drift to float/masked representations that the strict
        # compare flags even when values agree
        "array_to_string(list_transform(list_sort([j, i, 7]), x -> coalesce(CAST(x AS VARCHAR), 'N')), '|')",
        "array_to_string(list_transform(list_sort([i, j], 'DESC'), x -> coalesce(CAST(x AS VARCHAR), 'N')), '|')",
        "array_to_string(list_transform(list_sort([j, NULL, i], 'ASC', 'NULLS FIRST'), x -> coalesce(CAST(x AS VARCHAR), 'N')), '|')",
        "array_to_string(list_transform(list_reverse_sort([i, 3, j]), x -> coalesce(CAST(x AS VARCHAR), 'N')), '|')",
    ]
    # round 11: identical-semantics builtins (probed cross-engine before
    # inclusion), the xor / list_reduce rewrites, and the date_part
    # divergence map (dow numbering, isodow/isoyear/epoch/decade/century/
    # millennium/era/yearweek, sub-second fields incl. the seconds
    # component)
    misc_fns = [
        "greatest(i, j, 0)",
        "least(coalesce(i, 0), coalesce(j, 0))",
        "left(coalesce(s, 'abc'), 2)",
        "right(coalesce(s, 'abc'), 2)",
        "repeat(coalesce(s, 'ab'), 2)",
        "reverse(coalesce(s, 'xy'))",
        "translate(coalesce(s, ''), 'ab', 'xy')",
        "lpad(coalesce(s, 'q'), 6, '.')",
        "rpad(coalesce(s, 'q'), 6, '.')",
        "(coalesce(i, 0) & coalesce(j, 0))",
        "(coalesce(i, 0) | coalesce(j, 0))",
        "xor(coalesce(i, 0), coalesce(j, 0))",
        "CAST(ceil(coalesce(x, 1.2)) AS BIGINT)",
        "CAST(floor(coalesce(x, 1.2)) AS BIGINT)",
        "round(ln(abs(coalesce(i, 2)) + 1), 6)",
        "list_filter([i, j, 7], y -> y IS NOT NULL AND y > 0)[1]",
        "list_reduce([coalesce(i, 0), coalesce(j, 0), 7], (a, b) -> a + b)",
        "reduce([1, 2, 3, coalesce(j, 4)], (a, b) -> a * b)",
        "len(coalesce(s, ''))",
        "CAST(last_day(DATE '2021-02-04' + (coalesce(i, 0) % 300)) AS VARCHAR)",  # VARCHAR: pandas renders duck dates as datetime64 (T00:00:00) — repr artifact, not semantics
        # round-11 function-gap batch (rewrite_fn_gaps + alias additions)
        "round(log(abs(coalesce(i, 2)) + 1.5), 6)",
        "ltrim(coalesce(s, 'aax'), 'a')",
        "trim(coalesce(s, 'axa'), 'a')",
        "fmod(coalesce(x, 1.5), 2.0)",
        "fmod(coalesce(x, 1.5), -2.0)",
        "even(coalesce(x, 1.1))",
        "round_even(coalesce(x, 2.5), 1)",
        "epoch_ms(TIMESTAMP '2021-07-04 10:20:30.123')",
        "list_sum([i, j, 5])",
        "list_avg([coalesce(i, 1), 4])",
        "list_has_all([i, j, 1], [1])",
        "list_unique([i, j, i])",
        "to_base(abs(coalesce(j, 3)) + 1, 2)",
        "dayname(DATE '2021-01-01' + (coalesce(i, 0) % 200))",
        "starts_with(coalesce(s, ''), 'a')",
        "unicode(coalesce(nullif(s, ''), 'q'))",
        "list_min([i, j, 9])",
        "array_length([i, j])",
        # round-13 extended-sweep batch (rotating fuzz coverage for the
        # deterministic pins in test_sqlx::test_fn_gaps4_round13_*)
        "CAST(divide(coalesce(i, 1), 3) AS DOUBLE)",
        "CAST(divide(coalesce(x, 1.5), 2) AS DOUBLE)",
        "bin(coalesce(s, 'ab'))",
        "to_binary(coalesce(j, 5))",
        "to_base(abs(coalesce(j, 3)) + 1, 2, 9)",
        "strip_accents(concat(coalesce(s, ''), 'é à ñ'))",
        "CAST(damerau_levenshtein(coalesce(s, ''), 'alpha') AS BIGINT)",
        "(nextafter(coalesce(x, 1.5), 1e9) > coalesce(x, 1.5))",
        "round(gamma(abs(coalesce(j, 2)) + 0.5), 6)",
        "round(lgamma(abs(coalesce(i, 3)) + 2.0), 6)",
        "right_grapheme(coalesce(s, 'héllo'), 3)",
        "left_grapheme(coalesce(s, 'héllo'), 2)",
        "strftime('%Y-%m', DATE '2021-03-14' + (coalesce(i, 0) % 50))",
        "CAST(strptime(concat('0', CAST(abs(coalesce(j, 1)) % 9 + 1 AS VARCHAR), '-14'), '%m-%d') AS VARCHAR)",
        "CAST(CAST(try_strptime('2021|07', ['%Y-%m', '%Y|%m']) AS TIMESTAMP) AS VARCHAR)",
        "CAST(timezone_hour(TIMESTAMP '2021-03-14 05:06:07') AS BIGINT)",
        "typeof('a')", "typeof(DATE '2021-01-01')", "typeof([1, 2])",
        "CAST(len([i, j]) AS BIGINT)",
        "array_to_string(grade_up([j, i, 7]), ',')",
        "array_to_string(array_select([10, 20, 30], [3, 1, 5]), ',')",
        "array_to_string(array_where([10, 20, 30], [true, i IS NOT NULL, false]), ',')",
        "constant_or_null(42, nullif(coalesce(j, 0), 5))",
        "CAST(@(coalesce(i, -3)) AS BIGINT)",
        "CAST(add(coalesce(i, 1)) AS BIGINT)",
        "CAST(subtract(coalesce(j, 1)) AS BIGINT)",
        "subtract(DATE '2021-03-16', DATE '2021-03-14')",
        "CAST(epoch(INTERVAL '3 days 4 hours') AS DOUBLE)",
        "CAST(month(INTERVAL '26 months') AS BIGINT)",
        "array_to_string(generate_series(abs(coalesce(j, 2)) % 5), ',')",
        "xor((abs(coalesce(i, 1)) % 13)::INTEGER::BIT, (abs(coalesce(j, 2)) % 7)::INTEGER::BIT)::VARCHAR",
        "(~((abs(coalesce(i, 1)) % 13)::INTEGER::BIT))::VARCHAR",
        "CAST(bit_length(('0110010')::BIT) AS BIGINT)",
        "json_extract('{\"a b\":{\"c\":7}}', 'a b')",
        "json_extract_string('{\"k 2\":5}', 'k 2')",
        "CAST(json_array_length('{\"a\":1}') AS BIGINT)",
        "json_object()",
        "regexp_escape(concat(coalesce(s, ''), ' (x)é'))",
        "(TIME '11:22:33' + INTERVAL '20 hours')::VARCHAR",
        "hour(make_time(CAST(abs(coalesce(i, 1)) % 24 AS INT), 5, 6))",
        "(make_time(CAST(abs(coalesce(j, 1)) % 24 AS INT), 30, 1.5))::VARCHAR",
    ]
    date_parts = [
        "dow", "isodow", "isoyear", "decade", "century", "millennium",
        "era", "yearweek", "epoch", "seconds", "us", "ms",
        # identical-semantics parts, BIGINT-bridged for the pandas compare
        "year", "month", "day", "quarter", "week", "doy", "hour", "minute",
    ]
    out = []
    for k in range(n):
        kind = k % 12
        if kind == 0:
            out.append(f"(coalesce(s, '') ~ '{rng.choice(pats)}')")
        elif kind == 1:
            out.append(f"(coalesce(s, '') SIMILAR TO '{rng.choice(pats)}')")
        elif kind == 2:
            out.append(f"(coalesce(s, '') !~ '{rng.choice(pats)}')")
        elif kind == 3:
            sep = rng.choice(seps).replace("'", "''")
            out.append(f"string_split(coalesce(s, 'q'), '{sep}')[1]")
        elif kind == 4:
            base = rng.choice(["2", "3", "(-2)", "coalesce(j, 1)"])
            expo = rng.choice(["2", "3", "0"])
            out.append(f"round({base} ^ {expo}, 6)")
        elif kind == 5:
            day = rng.randrange(1, 28)
            out.append(
                f"strftime(TIMESTAMP '2021-07-{day:02d} 09:{day:02d}:00', '{rng.choice(fmts)}')"
            )
        elif kind == 6:
            out.append(f"regexp_extract(coalesce(s, ''), '{rng.choice(pats)}')")
        elif kind == 7:
            # DuckDB factorial returns HUGEINT (pandas float); cast bridges
            out.append(f"CAST({rng.randrange(0, 7)}! AS BIGINT)")
        elif kind == 8:
            out.append(rng.choice(int_casts))
        elif kind == 9:
            out.append(rng.choice(fn_aliases))
        elif kind == 10:
            out.append(rng.choice(misc_fns))
        else:
            part = rng.choice(date_parts)
            day = rng.randrange(1, 28)
            ts = f"TIMESTAMP '202{rng.randrange(0, 5)}-0{rng.randrange(1, 9)}-{day:02d} 0{rng.randrange(0, 9)}:{day:02d}:3{rng.randrange(0, 9)}.{rng.randrange(0, 999999):06d}'"
            spelling = rng.choice(
                [f"date_part('{part}', {ts})", f"extract({part} FROM {ts})"]
            )
            out.append(f"CAST({spelling} AS DOUBLE)")
    return out


@pytest.mark.parametrize("seed", [7, 31])
def test_dialect_operator_matrix_cross_engine(spark, seed):
    from duckdb_parachute_spark import sqlx

    exprs = _gen_dialect_exprs(seed, 36)
    select = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    sql = f"SELECT {select} FROM {_values_sql()}"
    spark_pdf = sqlx.sql(spark, sql).toPandas()
    con = duckdb.connect()
    oracle_pdf = con.sql(sql).df()
    from decimal import Decimal

    for pdf in (spark_pdf, oracle_pdf):
        for c in pdf.columns:
            if pdf[c].map(lambda v: isinstance(v, Decimal)).any():
                pdf[c] = pdf[c].map(lambda v: float(v) if isinstance(v, Decimal) else v)
    res = compare_frames(f"dialect-ops-seed{seed}", spark_pdf, oracle_pdf)
    assert res.ok, str(res)


def _gen_window_exprs(seed: int, n: int) -> list[str]:
    """Round 13: randomized WINDOW-position matrix — rank family, offset
    functions (with IGNORE NULLS relocation), framed aggregates, the
    holistic window emissions, FILTER-under-OVER folding, and list()
    windows. Every ORDER BY carries the unique key i as the final
    tiebreaker so both engines' results are deterministic."""
    rng = random.Random(seed)
    parts = ["", "PARTITION BY abs(coalesce(i, 0)) % 2 ", "PARTITION BY coalesce(s, '') "]
    orders = [
        "ORDER BY coalesce(x, -99), i", "ORDER BY coalesce(x, -99) DESC, i",
        "ORDER BY coalesce(j, -9), i", "ORDER BY i",
    ]
    frames = [
        "", " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        " ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    ]
    out = []
    for k in range(n):
        w = f"({rng.choice(parts)}{rng.choice(orders)}{rng.choice(frames)})"
        wnf = f"({rng.choice(parts)}{rng.choice(orders)})"  # frameless
        kind = k % 10
        if kind == 0:
            out.append(f"{rng.choice(['rank()', 'dense_rank()', 'row_number()', 'ntile(3)'])} OVER {wnf}")
        elif kind == 1:
            out.append(f"round({rng.choice(['percent_rank()', 'cume_dist()'])} OVER {wnf}, 8)")
        elif kind == 2:
            fn = rng.choice(["lead", "lag"])
            out.append(f"{fn}(x {rng.choice(['', 'IGNORE NULLS'])}) OVER {wnf}")
        elif kind == 3:
            out.append(f"{rng.choice(['first_value', 'last_value'])}(x IGNORE NULLS) OVER {w}")
        elif kind == 4:
            agg = rng.choice(["sum(coalesce(x, 0))", "min(x)", "max(x)", "count(x)", "avg(coalesce(x, 0))"])
            out.append(f"round(CAST({agg} OVER {w} AS DOUBLE), 8)")
        elif kind == 5:
            out.append(f"CAST(median(coalesce(x, 0)::DOUBLE) OVER {wnf} AS DOUBLE)")
        elif kind == 6:
            out.append(f"CAST(quantile_disc(coalesce(j, 0), 0.5) OVER {wnf} AS BIGINT)")
        elif kind == 7:
            out.append(f"round(entropy(coalesce(s, '')) OVER {wnf}, 8)")
        elif kind == 8:
            out.append(f"CAST(sum(coalesce(j, 0)) FILTER (WHERE coalesce(i, 0) >= 0) OVER {wnf} AS BIGINT)")
        else:
            # running list: frame order makes the accumulation
            # deterministic on both engines (DuckDB 1.0 has no ORDER BY
            # inside window-position aggregates)
            out.append(
                f"array_to_string(list_transform(list(coalesce(j, -1)) "
                f"OVER ({rng.choice(parts)}ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                f"e -> CAST(e AS VARCHAR)), ',')"
            )
    return out


@pytest.mark.parametrize("seed", [3, 17])
def test_window_matrix_cross_engine(spark, seed):
    from duckdb_parachute_spark import sqlx

    exprs = _gen_window_exprs(seed, 30)
    select = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    sql = f"SELECT i, {select} FROM {_values_sql()} ORDER BY i NULLS LAST"
    spark_pdf = sqlx.sql(spark, sql).toPandas()
    con = duckdb.connect()
    oracle_pdf = con.sql(sql).df()
    from decimal import Decimal

    for pdf in (spark_pdf, oracle_pdf):
        for c in pdf.columns:
            if pdf[c].map(lambda v: isinstance(v, Decimal)).any():
                pdf[c] = pdf[c].map(lambda v: float(v) if isinstance(v, Decimal) else v)
    res = compare_frames(f"window-matrix-seed{seed}", spark_pdf, oracle_pdf)
    assert res.ok, str(res)


def test_registry_residual_classes_pinned(spark):
    """Round 15 (VERDICT r14 next #5): the macro-registry sweep's
    documented residual classes, previously BASELINE.md prose only, each
    encoded as an assertion of the DOCUMENTED divergence (or measured
    agreement) so silent drift in EITHER direction is caught:

    * list/array_intersect ORDER is hash-unspecified in DuckDB — set
      equality is the contract; ours is deterministic left-operand order.
    * date_add(DATE, INTERVAL month) is TIMESTAMP-class on BOTH engines
      with the month-end-clamped value (measured agreement, was listed
      as a type divergence — pinned so a regression to DATE on either
      side is caught).
    * geomean currently matches to the ulp on every probed shape (the
      documented class allows a last-ulp libm difference — band of
      2 ulps).
    * json_group_structure over an UNTYPED text operand: DuckDB's
      VARCHAR overload reports '"VARCHAR"'; the dialect's JSON type is
      STRING so the operand parses and reports the value structure.
    * pg_conf_load_time / pg_postmaster_start_time: both engines return
      "now" (DuckDB's macro body IS current_timestamp) — the CLASS is
      compared, not the reading."""
    import datetime
    import math

    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()

    # intersect: set-equal, ours left-ordered
    for fn in ("list_intersect", "array_intersect"):
        q = f"SELECT {fn}([1,2,3,4],[4,3,9]) AS r"
        ours = sqlx.sql(spark, q).head()["r"]
        duck = con.execute(q).fetchone()[0]
        assert sorted(ours) == sorted(duck) == [3, 4], (fn, ours, duck)
        assert ours == [3, 4], f"{fn} lost deterministic left-operand order"

    # date_add month arithmetic: timestamp-class + clamped value, both
    q = "SELECT date_add('2024-01-31'::DATE, INTERVAL '1 month') AS r"
    df = sqlx.sql(spark, q)
    assert "timestamp" in df.schema["r"].dataType.typeName()
    assert df.head()["r"] == datetime.datetime(2024, 2, 29)
    cur = con.execute(q)
    assert cur.description[0][1] == "DATETIME"
    assert cur.fetchone()[0] == datetime.datetime(2024, 2, 29)

    # geomean: ulp-band agreement
    for vals in ["(2.0),(3.0)", "(2.0),(3.0),(5.0)", "(1.1),(7.3),(9.9)"]:
        q = f"SELECT geomean(x) AS r FROM (VALUES {vals}) t(x)"
        ours = sqlx.sql(spark, q).head()["r"]
        duck = con.execute(q).fetchone()[0]
        assert abs(ours - duck) <= 2 * math.ulp(duck), (vals, ours, duck)

    # json_group_structure over untyped text: the documented split
    q = 'SELECT json_group_structure(j) AS r FROM (VALUES (\'{"a":1}\')) t(j)'
    assert sqlx.sql(spark, q).head()["r"] == '{"a":"UBIGINT"}'
    assert con.execute(
        'SELECT json_group_structure(j) AS r FROM (VALUES (\'{"a":1}\'::VARCHAR)) t(j)'
    ).fetchone()[0] == '"VARCHAR"'

    # "now"-class macros: both sides in the present, compared as a class
    for fn in ("pg_conf_load_time", "pg_postmaster_start_time"):
        q = f"SELECT {fn}() >= TIMESTAMP '2024-01-01' AS r"
        assert sqlx.sql(spark, q).head()["r"] is True
        assert con.execute(q).fetchone()[0] is True


@pytest.mark.parametrize("seed", [5, 23])
def test_holistic_statement_matrix_cross_engine(spark, seed):
    """Round 15: the per-SELECT-block shared-holistic hoist is an
    optimization that must NEVER change values — this matrix generates
    random statement shapes (bare / CTE / derived-table / scalar-
    subquery / HAVING-blocked) mixing the holistic family over two
    columns, and checks (a) Spark == DuckDB on every shape, (b) the
    hoist pass ON == OFF bit-identically (the metamorphic identity the
    gates rely on), (c) shapes with >=2 shared spans in one block
    actually hoist (the pass fires where it claims to)."""
    import random

    import duckdb

    from duckdb_parachute_spark import sqlx

    rng = random.Random(seed)
    con = duckdb.connect()
    spark.range(0, 4000).selectExpr(
        "id % 5 AS g", "CAST((id * 41) % 977 AS DOUBLE) AS x",
        "CAST((id * 17) % 311 AS DOUBLE) AS y"
    ).createOrReplaceTempView("hm15")
    con.execute(
        "CREATE TABLE hm15 AS SELECT i % 5 AS g, CAST((i*41) % 977 AS DOUBLE) AS x, "
        "CAST((i*17) % 311 AS DOUBLE) AS y FROM range(4000) r(i)"
    )

    def hol(col):
        return rng.choice([
            f"median({col})", f"mad({col})",
            f"quantile_disc({col}, 0.25)", f"quantile_disc({col}, 0.75)",
            f"quantile_cont({col}, 0.6)", f"round(entropy({col}), 9)",
        ])

    shapes = []
    for i in range(10):
        col = rng.choice(["x", "y"])
        items = ", ".join(f"{hol(col)} AS c{j}" for j in range(rng.randint(2, 4)))
        core = f"SELECT g, {items} FROM hm15 GROUP BY g"
        kind = i % 5
        if kind == 0:
            q = f"{core} ORDER BY g"
        elif kind == 1:
            q = f"WITH s AS ({core}) SELECT g, c0, c1 FROM s ORDER BY g"
        elif kind == 2:
            q = f"SELECT g, c1 - c0 AS d FROM ({core}) t ORDER BY g"
        elif kind == 3:
            q = (f"SELECT m.g, m.c0 FROM ({core}) m WHERE EXISTS "
                 f"(SELECT 1 FROM hm15 h WHERE h.g = m.g AND h.x > 500) ORDER BY m.g")
        else:
            q = f"{core} HAVING count(*) > 0 ORDER BY g"
        shapes.append(q)

    idx = sqlx.REWRITES.index(sqlx.rewrite_shared_holistics)
    hoisted_count = 0
    for q in shapes:
        got = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got[:2], want[:2])
        if "__hs" in sqlx.transpile(q):
            hoisted_count += 1
        sqlx.REWRITES[idx] = lambda s, parts: s
        try:
            unhoisted = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        finally:
            sqlx.REWRITES[idx] = sqlx.rewrite_shared_holistics
        assert got == unhoisted, f"hoist changed values: {q}"
    assert hoisted_count >= 3, "matrix no longer exercises the hoist"
