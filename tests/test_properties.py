"""Property-based cross-engine checks (SURVEY §5d: type edges — overflow,
nulls, decimal scale) using hypothesis. Each example renders a VALUES row set
and compares Spark against DuckDB on the same SQL text.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

#: depth knob (round-11, VERDICT r10 #7): PROP_EXAMPLES=200 overrides every
#: per-test max_examples for a deep sweep; unset/0 keeps the fast defaults.
#: The ro collation bug survived two "green" sweeps at 8 examples —
#: run the deep mode once per round before closing.
_PROP_EXAMPLES = int(os.environ.get("PROP_EXAMPLES", "0"))


def _ex(n: int) -> int:
    return _PROP_EXAMPLES or n

DEC = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@pytest.fixture(scope="module")
def oracle():
    return duckdb.connect()


@settings(max_examples=_ex(12), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(DEC, min_size=1, max_size=8))
def test_decimal_sum_exact(spark, oracle, values):
    """Exact DECIMAL(9,2) sums agree bit-for-bit in any order."""
    rows = ", ".join(f"(CAST({v} AS DECIMAL(9,2)))" for v in values)
    sql = f"SELECT CAST(sum(x) AS DECIMAL(19,2)) AS s FROM (VALUES {rows}) t(x)"
    assert spark.sql(sql).head()[0] == oracle.sql(sql).fetchone()[0]


@settings(max_examples=_ex(12), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1) | st.none(), min_size=1, max_size=8))
def test_bigint_agg_with_nulls(spark, oracle, values):
    """sum/count/min/max over BIGINT with NULLs agree (NULL-skipping rules)."""
    rows = ", ".join(f"(CAST({'NULL' if v is None else v} AS BIGINT))" for v in values)
    sql = (
        f"SELECT CAST(sum(x) AS BIGINT) AS s, count(x) AS c, min(x) AS mn, max(x) AS mx "
        f"FROM (VALUES {rows}) t(x)"
    )
    assert tuple(spark.sql(sql).head()) == oracle.sql(sql).fetchone()


@settings(max_examples=_ex(10), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.decimals(min_value=Decimal("0.01"), max_value=Decimal("9999.99"), places=2, allow_nan=False))
def test_decimal_mult_precision_rules(spark, oracle, v):
    """DECIMAL(12,2)*(4,2) precision math matches across engines after the
    shared cast discipline (the same rule the money queries rely on)."""
    sql = (
        f"SELECT CAST(CAST({v} AS DECIMAL(12,2)) * CAST(0.07 AS DECIMAL(4,2)) "
        f"AS DECIMAL(18,4)) AS r"
    )
    assert spark.sql(sql).head()[0] == oracle.sql(sql).fetchone()[0]


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=12),
    st.sampled_from([1.0, 2.5, 7.0]),
)
def test_inequality_join_property(spark, pairs, bin_width):
    """Bucket-replicated theta join == naive inequality join for any inputs
    and bin width (operators/rangejoin.inequality_join)."""
    from duckdb_parachute_spark.operators.rangejoin import inequality_join

    a = spark.createDataFrame(
        [(i, float(x)) for i, (x, _) in enumerate(pairs)], "ka long, xa double"
    )
    b = spark.createDataFrame(
        [(j, float(y)) for j, (_, y) in enumerate(pairs)], "kb long, xb double"
    )
    fast = sorted((r.ka, r.kb) for r in inequality_join(a, b, a.xa, b.xb, bin_width).collect())
    naive = sorted((r.ka, r.kb) for r in a.join(b, a.xa < b.xb).collect())
    assert fast == naive


@settings(max_examples=_ex(10), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        # beyond Latin-1: Latin Extended (čČāĀ), Greek (ώΏ), Cyrillic (ёЁ),
        # a decomposed combining acute, and CJK passthrough — the NOACCENT
        # key must agree with DuckDB's NFD-based collation on all of them.
        st.text(alphabet="aAbBcC éÉàÀčČāĀñÑüÜώΏёЁ北" + "́", min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_collation_key_matches_duckdb(spark, oracle, values):
    """NOCASE.NOACCENT grouping cardinality agrees with DuckDB's COLLATE
    (functions/collate.collation_key vs the real collation)."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.functions.collate import collation_key

    rows = ", ".join("('" + v.replace("'", "''") + "')" for v in values)
    d = oracle.sql(
        f"SELECT count(*) FROM (SELECT 1 FROM (VALUES {rows}) t(s) GROUP BY s COLLATE NOCASE.NOACCENT)"
    ).fetchone()[0]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    s = df.groupBy(collation_key(F.col("s"), "NOCASE.NOACCENT")).count().count()
    assert s == d


def test_frozen_accent_tables_match_live_derivation():
    """Round 17: the precomputed accent_fold_data module (first-run latency
    fix) must stay byte-identical to the live unicodedata derivation it
    snapshots — a stale regeneration would silently break utf8proc parity."""
    from duckdb_parachute_spark.functions import accent_fold_data as afd
    from duckdb_parachute_spark.functions.metrics import _accent_tables

    import unicodedata

    assert afd.UNIDATA_VERSION == unicodedata.unidata_version
    src, dst, astral = _accent_tables()
    assert afd.ACC_SRC == src
    assert afd.ACC_DST == dst
    assert [tuple(p) for p in afd.ASTRAL] == [tuple(p) for p in astral]


def test_malformed_frozen_accent_module_falls_back(monkeypatch):
    """A generated accent_fold_data module that lacks one of its tables
    (a half-written regeneration) falls back to the live derivation
    instead of raising."""
    import sys
    import types
    import unicodedata

    from duckdb_parachute_spark import functions
    from duckdb_parachute_spark.functions import metrics

    stub = types.ModuleType("duckdb_parachute_spark.functions.accent_fold_data")
    stub.UNIDATA_VERSION = unicodedata.unidata_version
    stub.ACC_SRC, stub.ACC_DST = "", ""  # no ASTRAL
    monkeypatch.setitem(sys.modules, stub.__name__, stub)
    monkeypatch.setattr(functions, "accent_fold_data", stub, raising=False)
    live = ("src", "dst", [])
    monkeypatch.setattr(metrics, "_accent_tables", lambda: live)
    monkeypatch.setattr(metrics, "_ACCENT_TABLES", None)
    assert metrics._lazy_accent_tables() is live


def test_q83_channel_of_null_quantities_keeps_item(spark, sf_dir, tmp_path):
    """q83 joins its three return channels on item: a brand whose
    (R, F) rows all have a NULL l_quantity has a NULL qty1 but still joins,
    so the row stays in DuckDB's answer and must stay in ours."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from duckdb_parachute_spark.testkit.compare import run_compare
    from duckdb_parachute_spark.workload import load_all

    data = str(tmp_path / "data")
    shutil.copytree(sf_dir, data)
    path = os.path.join(data, "lineitem.parquet")
    li = pq.read_table(path)
    rf_lines = pc.and_(pc.equal(li["l_returnflag"], "R"), pc.equal(li["l_linestatus"], "F"))
    qty = pc.if_else(rf_lines, pa.scalar(None, pa.float64()), li["l_quantity"])
    i = li.schema.get_field_index("l_quantity")
    pq.write_table(li.set_column(i, pa.field("l_quantity", pa.float64()), qty), path)

    name = "tpcds_q83_return_share_triple"
    got = load_all()[name].fn(spark, data).collect()
    assert any(r["qty1"] is None for r in got), got  # the case under test occurs
    [res] = run_compare(spark, data, [name])
    assert res.ok, str(res)


def test_strip_accents_full_plane_parity(spark, oracle):
    """strip_accents matches DuckDB's utf8proc semantics across EVERY plane
    (round-6 VERDICT item 9): a systematic sweep of BMP + supplementary
    codepoints plus the known-hard cases — Mc/Me marks, all-marks
    decompositions, CJK compatibility singletons, astral base+mark folds,
    marks newer than utf8proc's Unicode tables (must pass through)."""
    samples = []
    for cp in range(0x20, 0x10000, 61):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        samples.append("x" + chr(cp) + "y")
    for cp in range(0x10000, 0x110000, 331):
        samples.append("x" + chr(cp) + "y")
    samples += [
        "café",  # BMP precomposed
        "café",  # BMP decomposed
        "का",  # Devanagari Mc vowel sign
        "a⃝b",  # Me enclosing mark
        "ো",  # all-marks NFD (two Mc) — strips entirely
        "࣌",  # Unicode-14 mark unknown to utf8proc — passes through
        "車",  # CJK compat singleton -> U+8ECA
        "\U0002F86Cz",  # astral CJK compat singleton
        "\U0001109A\U000110AB",  # astral precomposed base+mark folds
        "a\U00010A01b",  # standalone astral mark — deleted
        "\U0001D15E",  # astral with Mc in decomposition
        "\U0001F600 ok",  # astral, no decomposition — unchanged
    ]
    from duckdb_parachute_spark.functions import metrics as M
    from pyspark.sql import functions as F

    expected = [oracle.execute("SELECT strip_accents(?)", [s]).fetchone()[0] for s in samples]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, s string"
    ).withColumn("o", M.strip_accents(F.col("s")))
    got = {r["i"]: r["o"] for r in df.collect()}
    bad = [
        (samples[i], expected[i], got[i]) for i in range(len(samples)) if expected[i] != got[i]
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.one_of(st.none(), st.integers(min_value=1, max_value=5)),
        ),
        min_size=2,
        max_size=14,
    ),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=3),
)
def test_exclude_rows_sums_matches_duckdb_native(spark, oracle, rows, prec, foll):
    """exclude_rows_sums' peer-contiguity identity vs DuckDB's NATIVE
    bounded-ROWS EXCLUDE executor on random fixtures. Values derive from the
    ORDER key (constant per peer group), so the ROWS-frame sums are
    tie-order independent, and comparison aggregates per peer group (the
    permutation-invariant statistic — see window_exclude_bounded).

    Round 7: the ORDER key may be NULL (a real peer group, sorted last like
    DuckDB's default NULLS LAST) and the value is NULL for one peer group
    (o=3) — pinning the coalesce-not-propagate NULL discipline the round-6
    advisor flagged."""
    from duckdb_parachute_spark.operators.frames import exclude_rows_sums

    def val(o):
        if o is None:
            return 13
        return None if o == 3 else o * 7

    data = [(p, o, i, val(o)) for i, (p, o) in enumerate(rows)]
    df = spark.createDataFrame(data, "p int, o int, id int, v int")
    got = (
        exclude_rows_sums(df, ["p"], "o", F.col("v"), prec, foll, tiebreak=["id"])
        .groupBy("p", "o")
        .agg(
            F.sum("excl_current").alias("ec"),
            F.sum("excl_group").alias("eg"),
            F.sum("excl_ties").alias("et"),
        )
        .collect()
    )
    def lit(x):
        return "NULL" if x is None else str(x)

    vals = ", ".join(f"({p}, {lit(o)}, {i}, {lit(v)})" for p, o, i, v in data)
    exp = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in oracle.execute(
            f"""
            WITH t(p, o, id, v) AS (VALUES {vals}), per AS (
                SELECT p, o,
                    sum(v) OVER (PARTITION BY p ORDER BY o
                                 ROWS BETWEEN {prec} PRECEDING AND {foll} FOLLOWING
                                 EXCLUDE CURRENT ROW) AS ec,
                    sum(v) OVER (PARTITION BY p ORDER BY o
                                 ROWS BETWEEN {prec} PRECEDING AND {foll} FOLLOWING
                                 EXCLUDE GROUP) AS eg,
                    sum(v) OVER (PARTITION BY p ORDER BY o
                                 ROWS BETWEEN {prec} PRECEDING AND {foll} FOLLOWING
                                 EXCLUDE TIES) AS et
                FROM t
            )
            SELECT p, o, sum(ec), sum(eg), sum(et) FROM per GROUP BY p, o
            """
        ).fetchall()
    }
    for r in got:
        assert exp[(r["p"], r["o"])] == (r["ec"], r["eg"], r["et"]), (
            f"mismatch at p={r['p']} o={r['o']}: "
            f"spark={(r['ec'], r['eg'], r['et'])} duckdb={exp[(r['p'], r['o'])]}"
        )


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=1, max_value=5),
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=2),
)
def test_groups_frame_agg_matches_reference_model(spark, rows, prec, foll):
    """groups_frame_agg vs a direct Python model of the reference's GROUPS
    frame semantics (window_segment_tree.cpp re-aggregates the raw values of
    every peer group inside the frame). Round 7: values may be NULL —
    aggregates ignore them; an all-NULL frame yields NULL sum/min/max/avg
    and count 0."""
    from duckdb_parachute_spark.operators.frames import groups_frame_agg

    df = spark.createDataFrame(rows, "p int, o int, v int")
    got = groups_frame_agg(df, ["p"], "o", F.col("v"), prec, foll).collect()

    from collections import defaultdict

    by_part = defaultdict(lambda: defaultdict(list))
    for p, o, v in rows:
        by_part[p][o].append(v)
    for r in got:
        groups = sorted(by_part[r["p"]])
        gi = groups.index(r["o"])
        frame = groups[max(0, gi - prec) : gi + foll + 1]
        vals = [v for g in frame for v in by_part[r["p"]][g] if v is not None]
        if not vals:
            assert r["groups_sum"] is None
            assert r["groups_count"] == 0
            assert r["groups_min"] is None
            assert r["groups_max"] is None
            assert r["groups_avg"] is None
            continue
        assert r["groups_sum"] == sum(vals)
        assert r["groups_count"] == len(vals)
        assert r["groups_min"] == min(vals)
        assert r["groups_max"] == max(vals)
        assert abs(r["groups_avg"] - sum(vals) / len(vals)) < 1e-9


def test_groups_frame_null_order_key_peer_group(spark):
    """NULL ORDER-key rows form a real peer group in GROUPS frames (sorted
    last, SQL's ASC NULLS LAST default) and must survive the join-back — the
    exact row-drop the round-6 advisor flagged (plain equality join on a
    NULL key silently discards the row). Expectation is the direct peer-
    group model (this DuckDB build does not parse GROUPS mode natively)."""
    from duckdb_parachute_spark.operators.frames import groups_frame_sum

    data = [
        (1, 1, 10), (1, 1, 11), (1, 2, 20), (1, None, 5), (1, None, 6),
        (2, None, 7), (2, 3, 30),
    ]
    df = spark.createDataFrame(data, "p int, o int, v int")
    got = {
        (r["p"], r["o"], r["v"]): r["gs"]
        for r in groups_frame_sum(df, ["p"], "o", F.col("v"), 1, 1, out="gs").collect()
    }
    assert len(got) == len(data), "NULL-order rows dropped by the join-back"
    # peer groups per partition, NULL last: p=1 -> [1]=21, [2]=20, [NULL]=11
    # frame = 1 PRECEDING..1 FOLLOWING over the group sequence
    exp = {
        (1, 1, 10): 41, (1, 1, 11): 41,      # groups {1,2}
        (1, 2, 20): 52,                       # groups {1,2,NULL}
        (1, None, 5): 31, (1, None, 6): 31,   # groups {2,NULL}
        (2, 3, 30): 37, (2, None, 7): 37,     # groups {3,NULL}
    }
    assert got == exp


def test_groups_frame_collect_wide_frame(spark):
    """Pins the documented O(frame width) ceiling of the holistic GROUPS
    path: a frame spanning all 400 peer groups of a partition materializes a
    2000-element array per row and still evaluates correctly (array_median
    over the full-partition frame == exact global median)."""
    from duckdb_parachute_spark.operators.frames import (
        array_median,
        groups_frame_collect,
    )

    df = (
        spark.range(2000)
        .select(
            F.lit(1).alias("p"),
            (F.col("id") % 400).cast("int").alias("o"),
            F.col("id").cast("int").alias("v"),
        )
    )
    out = (
        groups_frame_collect(df, ["p"], "o", F.col("v"), 400, 400, out="fv")
        .withColumn("med", array_median(F.col("fv")))
    )
    row = out.select(F.size("fv").alias("w"), "med").head()
    assert row["w"] == 2000
    assert abs(row["med"] - 999.5) < 1e-9


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=30,
    ),
    st.booleans(),
)
def test_global_rank_matches_duckdb(spark, oracle, rows, desc):
    """Two-phase global_rank/global_row_number (round 7, no single-partition
    WindowExec) vs DuckDB's native global rank()/row_number() on random
    fixtures, both sort directions, including ties AND NULL keys (round 9:
    pins DuckDB's NULLS LAST default for BOTH directions — the r8 regression
    had desc_nulls_first, which only non-null fixtures could miss)."""
    from duckdb_parachute_spark.functions.scalar import global_rank, global_row_number

    data = [(v, i) for i, (v, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "v int, id int")
    rk = {
        (r["v"], r["id"]): r["rnk"]
        for r in global_rank(df, ["v"], descending=[desc], out="rnk").collect()
    }
    rn = {
        (r["v"], r["id"]): r["rn"]
        for r in global_row_number(df, ["v", "id"], descending=[desc, False], out="rn").collect()
    }
    vals = ", ".join(f"({'NULL' if v is None else v}, {i})" for v, i in data)
    direction = "DESC" if desc else "ASC"
    exp = {
        (r[0], r[1]): (r[2], r[3])
        for r in oracle.execute(
            f"""
            SELECT v, id,
                   rank() OVER (ORDER BY v {direction}) AS rnk,
                   row_number() OVER (ORDER BY v {direction}, id ASC) AS rn
            FROM (VALUES {vals}) t(v, id)
            """
        ).fetchall()
    }
    for key, (e_rnk, e_rn) in exp.items():
        assert rk[key] == e_rnk, f"rank mismatch at {key}"
        assert rn[key] == e_rn, f"row_number mismatch at {key}"


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=1, max_value=4),
            st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_exclude_sums_full_partition_matches_duckdb(spark, oracle, rows):
    """exclude_sums (full-partition frame) vs DuckDB's NATIVE EXCLUDE over
    ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING, with NULL values — pins
    the round-7 coalesce-not-propagate discipline on the unbounded path.
    Values are a function of (p, o) so results are tie-order-free."""
    from duckdb_parachute_spark.operators.frames import exclude_sums

    def val(p, o, raw):
        return None if raw is None else (p * 10 + o)

    data = [(p, o, i, val(p, o, raw)) for i, (p, o, raw) in enumerate(rows)]
    df = spark.createDataFrame(data, "p int, o int, id int, v int")
    got = {
        (r["p"], r["o"], r["id"]): (r["excl_current"], r["excl_group"], r["excl_ties"])
        for r in exclude_sums(df, ["p"], "o", F.col("v")).collect()
    }
    vals = ", ".join(
        f"({p}, {o}, {i}, {'NULL' if v is None else v})" for p, o, i, v in data
    )
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    exp = {
        (r[0], r[1], r[2]): (r[3], r[4], r[5])
        for r in oracle.execute(
            f"""
            SELECT p, o, id,
                sum(v) OVER (PARTITION BY p ORDER BY o {frame} EXCLUDE CURRENT ROW) AS ec,
                sum(v) OVER (PARTITION BY p ORDER BY o {frame} EXCLUDE GROUP) AS eg,
                sum(v) OVER (PARTITION BY p ORDER BY o {frame} EXCLUDE TIES) AS et
            FROM (VALUES {vals}) t(p, o, id, v)
            """
        ).fetchall()
    }
    assert got == exp


_LOCALE_ALPHABETS = {
    # per-locale alphabets covering every tailored letter, its case forms,
    # and the Danish aa/aå contraction material (mixed-case aA/aÅ arises
    # naturally from random case draws)
    "da": "abezæøåAÆØÅZ",
    "sv": "abevzåäöÅÄÖZ",
    "de": "adesuzäöüßÄÖÜZ",
    "es": "anozñÑZ",
    "cs": "cdhirszčřšžČŘŠŽZ",
    "fi": "abevzåäöÅZ",
    "pl": "abcelnoszączęłńóśźżĄŁŻZ",
    "ro": "abistuzăâîșțşţĂȘŢZ",
    "tr": "cdghijkosuvzıiçğöşüIİÇŞZ",
    # round-10 additions: Icelandic full-letter accents + ð/þ/æ/ö tail,
    # Estonian's base-letter move (z inside the s group), Lithuanian's
    # y-between-į-and-j
    "is": "abdefiouyzáðéíóúýþæöÁÐÞÆÖZ",
    "et": "astuvwxyzšžõäöüŠŽÕÄÖÜZ",
    "lt": "abceijksuzączęėįyšųūžĄĖĮŠŽZ",
    # round-11 additions: Slovak's full-letter ä/ô + ch digraph and
    # secondary acutes; Croatian's lj/nj/dž contraction case forms
    "sk": "abcdhioprszáäéĺľňóôšžÄCHÔZ",
    "hr": "abcdejlmnoszčćđšžLJNJDŽZ",
    "cy": "abcdefghlnprstuwyâêŵŷCHDFGLNRTZ",
    # Hungarian: digraph material (incl. the sz/zs cycle and doubled forms
    # like ssz/ccs arising from random draws), full-letter ö/ü with
    # secondary ő/ű, and secondary acutes
    "hu": "abcdegilnostuyzáéóöőúüűCDGSLNTYZS",
    # round-12 additions: Greek (different script — [reorder Grek] puts it
    # between digits and Latin; tonos/dialytika secondary; σ<Σ<ς tertiary)
    # and Vietnamese (full letters ă â đ ê ô ơ ư whose toned forms stack:
    # letter primary, tone secondary, case tertiary)
    "el": "azαβηιστυωάήίΐϊσςΣΑΪ0",
    "vi": "abdeouyàảãáạăằắâấèéêềìòóôồơớùúưứỳýđÀẠĂÂÊÔƠƯĐZ",
    # Latvian full letters + SECONDARY macron vowels; Slovenian č/ć/đ/š/ž
    "lv": "abcdegiklnosuzāčēģīķļņōšūžĀČĪŠŽZ",
    "sl": "abcdestzčćđšžČĆĐŠŽZ",
    # Russian: second non-Latin script — full Cyrillic incl. the ё/е
    # secondary pair, й, the signs ъ ы ь, mixed with Latin + digits
    "ru": "азбежйклоуыьъэюяёЁАЕЁЯИЙaz09",
    # round-13 ROOT spec (untailored locales resolve to root in DuckDB's
    # bundle): pt carries the accent secondary order + ligature/stroke/
    # full-letter specials, nl the trema/umlaut material, id plain Latin
    "pt": "aenostzáâãàçéêíóôõúßæøđðłþÁÃÇÉÆØZ",
    "nl": "abeginorstuzëïéöüÉËZ09",
    "id": "abcdeghiklmnorstuzéZ",
    # round-14: Hebrew — the first NON-LATIN script ('he' is untailored
    # but declares a script REORDER: digits < Hebrew < Latin). Letters
    # with finals, the Yiddish ligatures, Hebrew punctuation, Latin,
    # digits. Loose niqqud are EXCLUDED here (random draws produce
    # non-canonical mark orders ICU normalizes away — the dedicated
    # canonical-syllable test below carries the mark material).
    "he": "אבגדהוזחטיכךלמםנןסעפףצץקרשתװױײ׳״־אבabZ09",
    # round-14: Thai — prevowel swap, nikhahit/sara-am contractions,
    # lakkhangyao ≡ sara-aa primary, digit aliases, alternate=shifted
    # ignorables. Only ccc-0 material here (ั ิ-ื are ccc 0 and safe in
    # any order); ุ ู ฺ and the tones live in the dedicated
    # canonical-syllable test below.
    "th": "กขจชฌดตนบปมยรฤลฦวศหฮะัาำิีึืเแโใไๅํฯๆ๐๕๙05abZ .",
}


@pytest.mark.parametrize("locale", sorted(_LOCALE_ALPHABETS))
@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_locale_collation_total_order_matches_icu(spark, oracle, locale, data):
    """locale_collation_key reproduces DuckDB's ICU COLLATE total order
    (functions/collate, reference extension/icu/icu_extension.cpp:119) —
    the FULL sorted sequence must match, including the Danish aa/aå
    contraction case forms and caseFirst=upper interleaving."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(
        st.lists(
            st.text(alphabet=_LOCALE_ALPHABETS[locale], min_size=1, max_size=6),
            min_size=2,
            max_size=40,
            unique=True,
        )
    )
    # ICU compares some distinct strings EQUAL at every strength (ro's
    # cedilla ş/ţ ≡ comma ș/ț), and DuckDB's sort is NOT reliably stable
    # (round 12: the r11 input-index tie-break broke at ~30-row draws —
    # larger sorts take an unstable path), so BOTH sides tie-break
    # ICU-equal keys by BINARY codepoint order: the oracle adds a plain
    # `s` sort key, ours sorts (key, s). Detection power is unchanged — a
    # key that wrongly equates what ICU orders (or splits what ICU ties)
    # still diverges unless binary order happens to coincide.
    icu = [
        r[0]
        for r in oracle.execute(
            f'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "{locale}", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), locale), F.col("s")).collect()
    ]
    assert ours == icu


def test_ro_cedilla_forms_equal_comma_forms(spark):
    """Round-11 regression for the r10 judge's ro bug (collate.py): ICU ro
    ties the legacy cedilla forms to the comma-below forms at EVERY strength
    (measured by sorting both input orders in DuckDB — both come back
    unchanged), and lowercase sorts before uppercase (lower-first tertiary):
    'ş' < 'Ș'. The old spec pinned a phantom secondary weight ('șb' < 'şb')
    that was really a stable sort preserving input order."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    pairs = [("ş", "ș"), ("ţ", "ț"), ("Ş", "Ș"), ("Ţ", "Ț")]
    words = sorted({w for p in pairs for w in p} | {"s", "t", "Șa", "şb"})
    df = spark.createDataFrame([(w,) for w in words], "s string")
    keys = {
        r["s"]: r["k"]
        for r in df.select("s", locale_collation_key(F.col("s"), "ro").alias("k")).collect()
    }
    for a, b in pairs:
        assert keys[a] == keys[b], (a, b)
    # the exact case the r10 judge reproduced: ş (lowercase) before Ș (upper)
    assert keys["ş"] < keys["Ș"]
    # and the old phantom pin's shape: 'şb' vs 'Șa' — primary decides (a < b)
    assert keys["Șa"] < keys["şb"]


@settings(max_examples=_ex(10), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """large-star/small-star result == a driver-side union-find ground truth
    on arbitrary random graphs (self-loops, duplicates, reversed edges)."""
    from duckdb_parachute_spark.dedup.components import connected_components

    parent = list(range(31))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a != b:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in nodes}
    df = spark.createDataFrame([(a, b) for a, b in edges], "a long, b long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == want


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["a", "b", "c", None]),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
)
def test_stratified_sample_matches_window_definition(spark, rows, k):
    """Gate-prefiltered stratified_sample == the plain single-window top-k
    per stratum (the oracle semantics), for random sizes, NULL strata, and
    varying k — including strata smaller than k (fallback path)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.operators.misc import stratified_sample

    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r["id"], r["s"]) for r in stratified_sample(df, "s", k, "id").collect()}
    h = F.md5(F.concat_ws("|", F.lit("42"), F.col("id").cast("string")))
    w = Window.partitionBy("s").orderBy(h, F.col("id").cast("string"))
    want = {
        (r["id"], r["s"])
        for r in df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).collect()
    }
    assert got == want


@settings(max_examples=_ex(6), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(
            alphabet="abzAZ 0123456789@.-+()_#$\t",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pii_scrub_matches_duckdb_on_random_text(spark, texts):
    """The five PII patterns are claimed Java-regex/RE2-bilingual: random
    adversarial text (digit runs, @ signs, dots, parens, tabs) must scrub
    and count IDENTICALLY through Spark's regexp_replace/regexp_count and
    DuckDB's RE2 engine running the same sequential chain."""
    import duckdb

    from duckdb_parachute_spark.functions.textfns import PII_PATTERNS, pii_scrub

    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    got = {
        r["id"]: (r["clean_text"], r["n_email"], r["n_card"], r["n_ssn"], r["n_ip"], r["n_phone"])
        for r in pii_scrub(df, "t").collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        cur, counts = t, []
        for _, pat, tok in PII_PATTERNS:
            n, cur = con.execute(
                "SELECT len(regexp_extract_all(?, ?)), regexp_replace(?, ?, ?, 'g')",
                [cur, pat, cur, pat, tok],
            ).fetchone()
            counts.append(n)
        assert got[i] == (cur, *counts), f"text {t!r}: spark={got[i]} duckdb={(cur, *counts)}"


_TZ_ZONES = [
    "UTC", "Asia/Tokyo", "America/New_York", "America/Los_Angeles",
    "Europe/Berlin", "Asia/Kolkata", "Australia/Sydney", "Pacific/Chatham",
    "America/Sao_Paulo", "Africa/Cairo",
]


@settings(max_examples=_ex(12), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_at_time_zone_property_matches_duckdb(spark, data):
    """Round 13: AT TIME ZONE / timezone() over random timestamps × zones
    (incl. fractional-offset Kolkata/Chatham and DST-transition dates) —
    the chained naive→instant→naive conversion and both 2-arg timezone()
    directions must match DuckDB exactly. Outputs are naive walls, so the
    comparison is session-tz-independent (both harness sessions are UTC;
    the emissions read current_timezone() and were pinned under three
    session zones in test_sqlx)."""
    from duckdb_parachute_spark import sqlx

    # epoch seconds spanning 1971..2037, plus micros; DST edges arise from
    # the density of draws around any date
    secs = data.draw(st.lists(
        st.integers(min_value=31_536_000, max_value=2_115_000_000),
        min_size=1, max_size=8, unique=True))
    micros = data.draw(st.integers(min_value=0, max_value=999_999))
    z1 = data.draw(st.sampled_from(_TZ_ZONES))
    z2 = data.draw(st.sampled_from(_TZ_ZONES))
    import datetime as dt

    lits = ", ".join(
        "(TIMESTAMP '"
        + (dt.datetime(1970, 1, 1) + dt.timedelta(seconds=s, microseconds=micros)
           ).strftime("%Y-%m-%d %H:%M:%S.%f")
        + "')"
        for s in secs
    )
    q = f"""
    SELECT ts AT TIME ZONE '{z1}' AT TIME ZONE '{z2}' AS w1,
           timezone('{z2}', timezone('{z1}', ts)) AS w2,
           CAST(timezone(ts AT TIME ZONE '{z1}') AS BIGINT) AS off
    FROM (VALUES {lits}) t(ts) ORDER BY ts
    """
    got = [tuple(r) for r in sqlx.sql(spark, q).collect()]
    con = duckdb.connect()
    want = con.sql(q).fetchall()
    assert got == want


_HE_LETTERS = [chr(c) for c in range(0x05D0, 0x05EB)]
_HE_MARKS = [chr(c) for c in list(range(0x05B0, 0x05BE)) + [0x05BF, 0x05C1, 0x05C2, 0x05C7]]


@st.composite
def _he_canonical_words(draw):
    """Hebrew words with niqqud in CANONICAL (combining-class) order — the
    form real NFC text has and the scope the he spec serves; ICU
    normalizes mark runs by ccc before collating, so random mark orders
    would test the normalizer, not the collation."""
    import unicodedata

    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 6:
            out.append(draw(st.sampled_from(_HE_LETTERS)))
            if draw(st.booleans()):
                ms = draw(st.lists(st.sampled_from(_HE_MARKS), min_size=1,
                                   max_size=2, unique=True))
                ms.sort(key=unicodedata.combining)
                out.extend(ms)
        elif kind < 8:
            out.append(draw(st.sampled_from(["װ", "ױ", "ײ", "׳", "״", "־", " ", "."])))
        else:
            out.append(draw(st.sampled_from(list("abZ09"))))
    s = "".join(out)
    if unicodedata.normalize("NFC", s) != s:
        s = unicodedata.normalize("NFC", s)
    return s


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_he_collation_niqqud_canonical_matches_icu(spark, oracle, data):
    """Round 14: Hebrew niqqud at full depth — secondary marks in the
    measured ladder, meteg completely ignorable, qamats-qatan ≡ qamats
    and holam-haser ≡ holam at every strength, finals tertiary-after
    their regulars, canonical-order mark runs (ccc) as ICU normalizes.
    Both sides binary-tie-break (the ignorable/tie classes make distinct
    strings compare EQUAL, and DuckDB's sort is not stable)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_he_canonical_words(), min_size=2, max_size=40,
                               unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "he", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "he"), F.col("s")).collect()
    ]
    assert ours == icu


_TH_CONS = [chr(c) for c in range(0x0E01, 0x0E2F)]
_TH_VOWS = [chr(c) for c in list(range(0x0E30, 0x0E3B)) + [0x0E45]]
_TH_PRE = [chr(c) for c in range(0x0E40, 0x0E45)]
_TH_MARKS = [chr(c) for c in
             [0x0E47, 0x0E48, 0x0E49, 0x0E4A, 0x0E4B, 0x0E4C, 0x0E4D, 0x0E4E]]


@st.composite
def _th_canonical_words(draw):
    """Thai words whose combining runs are in CANONICAL (ccc) order — the
    form real NFC text has; ICU normalizes mark runs before collating
    (phinthu ccc=9 jumps before the ccc-103 vowels and ccc-107 tones), so
    random mark orders would test the normalizer, not the collation."""
    import unicodedata

    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 6:
            if draw(st.booleans()):
                out.append(draw(st.sampled_from(_TH_PRE)))
            out.append(draw(st.sampled_from(_TH_CONS)))
            if draw(st.booleans()):
                out.append(draw(st.sampled_from(_TH_VOWS)))
            if draw(st.booleans()):
                out.append(draw(st.sampled_from(_TH_MARKS)))
        elif kind < 8:
            out.append(draw(st.sampled_from(list("๐๕๙05") + ["ฯ", "ๆ", " ", "."])))
        else:
            out.append(draw(st.sampled_from(list("abZ"))))
    s = "".join(out)
    run = []
    for ch in s:  # raw-string check: NFD would reorder before comparing
        c = unicodedata.combining(ch)
        if c == 0:
            run = []
        elif run and c < run[-1]:
            return ""
        else:
            run.append(c)
    return s


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_th_collation_canonical_matches_icu(spark, oracle, data):
    """Round 14: Thai at full depth — the prevowel swap, the nikhahit
    primary element and its ำ / ํา / ํๅ contractions, lakkhangyao's
    primary tie with sara aa, the tone/sign secondary ladder, digit
    aliases, and the alternate=shifted ignorables. Canonical-order
    (ccc) mark runs; binary tie-break both sides (the ignorable/alias
    classes make distinct strings compare EQUAL)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_th_canonical_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "th", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "th"), F.col("s")).collect()
    ]
    assert ours == icu


_AR_LETTERS = [chr(c) for c in range(0x0621, 0x064B)]
_AR_MARKS = [chr(c) for c in list(range(0x064B, 0x0656)) + [0x0670]]
_AR_LIGS = [chr(c) for c in range(0xFEF5, 0xFEFD)]


@st.composite
def _ar_canonical_words(draw):
    """Arabic words with harakat runs in CANONICAL (combining-class)
    order, NFC-normalized — the form real text has and the scope the ar
    spec serves (the spec additionally tokenizes the five decomposed
    hamza/madda compositions, so near-NFC input also matches)."""
    import unicodedata

    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 6:
            out.append(draw(st.sampled_from(_AR_LETTERS)))
            if draw(st.booleans()):
                ms = draw(st.lists(st.sampled_from(_AR_MARKS), min_size=1,
                                   max_size=2, unique=True))
                ms.sort(key=unicodedata.combining)
                out.extend(ms)
        elif kind < 8:
            out.append(draw(st.sampled_from(
                list("٠٥٩059") + _AR_LIGS + ["ـ", "،", "؛", "؟", "٪",
                                             " ", ".", ",", "-", "%"])))
        else:
            out.append(draw(st.sampled_from(list("abZ"))))
    s = "".join(out)
    if unicodedata.normalize("NFC", s) != s:
        s = unicodedata.normalize("NFC", s)
    return s


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_ar_collation_canonical_matches_icu(spark, oracle, data):
    """Round 15 (VERDICT r14 next #4): Arabic at full depth — the script
    reorder (punct < digits < Arabic < Latin), the hamza family's shared
    alef primary with its secondary ladder and the two-element آ
    expansion, ة/ى secondary-below ت/ي, tertiary-only harakat, fully
    ignorable tatweel, digit aliases, lam-alef presentation forms, the
    measured ASCII punctuation ladder, and the Arabic punctuation pairs.
    Binary tie-break both sides (alias classes make distinct strings
    compare EQUAL)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_ar_canonical_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ar", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ar"), F.col("s")).collect()
    ]
    assert ours == icu


def test_ar_collation_pinned_contraction_shapes(spark, oracle):
    """Round 16 deterministic pins (VERDICT r15 #1 — @example-equivalent;
    the property test draws via st.data() so the falsifying inputs are
    pinned here instead): the three shapes the exhaustive seat×mark grid
    caught that 2,209 random strings missed.

    * ['آ', 'ىٕ'] — the r15 red: ى+0655 is a hamza-family CONTRACTION
      (one alef primary, secondary 4A between ئ and bare ا) with no
      precomposed codepoint.
    * إٔ vs إٓٔ — combining 0654/0655 carry the LOW normal tertiary
      (06), not their raw codepoints, so they sort below the whole
      harakat ladder at tertiary.
    * ىِٕ / ىٰٕ — ICU matches the contraction DISCONTIGUOUSLY
      across intervening tertiary-only marks, whose weights follow the
      contraction's."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = [
        "آ", "ىٕ",                      # the r15 falsifying pair
        "إٔ", "إٓٔ", "بٔ", "بٓٔ",  # 0654 low tertiary
        "ىِٕ", "ىٰٕ", "ىًّٕ",      # discontiguous contraction
        "ىٕٔ", "ىٕٓ",    # trailing marks after the contraction
        "ء", "أ", "ؤ", "إ", "ئ", "ا", "ى", "ي",  # the full family ladder
    ]
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ar", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ar"), F.col("s")).collect()
    ]
    assert ours == icu


@st.composite
def _zh_words(draw):
    """Mixed zh material: Han (sampled across the measured pinyin order),
    pinyin tone vowels and the ü family, fullwidth clones, CJK-native
    punctuation, Latin/digits. All precomposed (NFC) — the spec's scope."""
    from duckdb_parachute_spark.functions.zh_pinyin_data import (
        HAN_PINYIN_HIGH,
        HAN_PINYIN_ORDER as _LOW,
    )

    HAN_PINYIN_ORDER = _LOW + HAN_PINYIN_HIGH

    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 5:
            out.append(HAN_PINYIN_ORDER[draw(st.integers(0, len(HAN_PINYIN_ORDER) - 1))])
        elif kind < 7:
            out.append(draw(st.sampled_from(
                list("āáǎàaēéěèeūúǔùuǖǘǚǜü") + ["ń", "ǹ", "ḿ", "ê", "û", "æ", "ß"])))
        elif kind < 9:
            out.append(draw(st.sampled_from(
                list("，、。！？；：（）～　０９ａＺ·‧〈〉《》「」『』【】〔〕")
                + list(" ,.!?;:()~_-09"))))
        else:
            out.append(draw(st.sampled_from(list("abZxyz"))))
    return "".join(out)


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_zh_collation_matches_icu(spark, oracle, data):
    """Round 15: Chinese pinyin at full depth — the 27,582-char measured
    Han primary order (Unified + Ext-A + 〇, interleaved by reading),
    tone secondaries BELOW the plain vowel, the ü/ǖ family ABOVE the
    root-accent window, fullwidth digit/letter/punct folds with tertiary
    splits, the 、/。 native-punct primaries, and the Han reorder block
    between digits and Latin. Binary tie-break both sides."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_zh_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "zh", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "zh"), F.col("s")).collect()
    ]
    assert ours == icu


@st.composite
def _ja_words(draw):
    """Mixed ja material: kana across the 48 measured classes (all three
    scripts, small forms, voiced precomposed + explicit voicing marks),
    the length mark ー/ｰ and iteration marks ゝゞヽヾ IN CONTEXT (the
    contextual clone/repeat rules are the point), Han sampled across the
    measured ja reading order, CJK punctuation and fullwidth clones,
    Latin/digits. All NFC — the spec's scope."""
    from duckdb_parachute_spark.functions.ja_collation_data import (
        HAN_JA_ORDER,
        KANA_CLASSES,
        VOICED_DECOMP,
    )

    kana = [c for n, s, h in KANA_CLASSES[2:] for c in n + s + h]
    voiced = [c for c in VOICED_DECOMP if c not in "ゞヾ"]
    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 3:
            out.append(draw(st.sampled_from(kana)))
        elif kind == 3:
            out.append(draw(st.sampled_from(voiced)))
        elif kind == 4:
            # marks in (and out of) context: clone/repeat rules fire or
            # stay raw depending on what the draw put before them
            out.append(draw(st.sampled_from(list("ーｰゝゞヽヾ゛゜ﾞﾟ"))))
        elif kind < 7:
            out.append(HAN_JA_ORDER[draw(st.integers(0, len(HAN_JA_ORDER) - 1))])
        elif kind < 9:
            out.append(draw(st.sampled_from(
                list("、。「」『』・〜，．！？＄％０９ａＺ〇") + list(" ,.!?;:()~09"))))
        else:
            out.append(draw(st.sampled_from(list("abZxyz"))))
    return "".join(out)


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_ja_collation_matches_icu(spark, oracle, data):
    """Round 16 (VERDICT r15 missing #1): Japanese at full depth — the
    48 kana primary classes with hiragana ≡ katakana ≡ halfwidth at
    every strength, small-kana tertiary step, secondary voicing marks,
    the contextual length-mark vowel clone and script-matched iteration
    marks (single-pass, non-chaining — probed), the 27,581-char measured
    Han reading order, non-shifted CJK punctuation ties, fullwidth
    alnum folds, and digits shifted above the ゝ/ー symbol weights.
    Binary tie-break both sides (the script ties make distinct strings
    compare EQUAL)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_ja_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ja", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ja"), F.col("s")).collect()
    ]
    assert ours == icu


def test_ja_collation_pinned_contextual_shapes(spark, oracle):
    """Round 16 deterministic pins — every contextual rule the ja build
    sweeps caught (each was a real intermediate bug or a probed ICU
    behavior the regexes must reproduce):

    * カー ≡L1L2 カア but splits at tertiary (clone tert 02); ｶー clones
      too (halfwidth context), ｶｰ does NOT (halfwidth ｰ never clones).
    * ｶﾞー stays raw — a voicing mark between kana and ー BLOCKS the
      clone for the halfwidth spelling, while fullwidth ガー (voiced
      decomposes in tokenize) DOES clone through the mark.
    * カーー: ICU does not chain ー through its own clone — the second
      ー keeps its symbol-zone primary (single-pass regexes).
    * かゝ ≡L1L2 かか with the copy's tertiary DEMOTED (04) — かゝ < かか
      — while small kana sit further below: っゝ repeats っ. ッヽ > ッｯ
      (the demotion band sits BETWEEN small 03 and normal 05).
    * Script matching: あヽ and アゝ stay RAW (ヽ repeats only after
      katakana/halfwidth, ゝ only after hiragana); あゝゝ's second mark
      is raw (no chaining), and あゝゞ's ゞ must NOT read the repeat
      COPY as context (the cross-mark lookbehind find).
    * ゞ/ヾ out of context decompose to mark+dakuten only AFTER the
      context rules (あヾ must not repeat: ヾ is katakana-script).
    * がゝ repeats が (voiced context repeats the VOICED kana);
      ゔゝ repeats う (plain); ぱゞ repeats ば; ガヾ keeps the dakuten
      doubled — the measured per-(kana, mark) behavior table.
    * ヴ is katakana: ヴヽ repeats ヴ, ヴゝ raw (the script-matched
      VOICED_DECOMP base fix)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = [
        "カー", "カア", "ｶー", "ｶｰ", "カアー",
        "ｶﾞー", "ガー", "ガア", "がー", "があ",
        "カーー", "カアア", "カアｰ",
        "かゝ", "かか", "っゝ", "っっ", "ッヽ", "ッｯ", "ッツ",
        "あヽ", "アゝ", "あゝゝ", "あゝか", "あゝゞ", "あヾ", "アヾ",
        "がゝ", "がが", "ゔゝ", "ゔう", "ぱゞ", "ぱば", "ガヾ",
        "ヴヽ", "ヴゝ", "ヴヴ",
        "ん", "んー", "ーあ", "ー", "ゝ", "ヽ", "ゞ", "ヾ",
    ]
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ja", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ja"), F.col("s")).collect()
    ]
    assert ours == icu


def test_cjk_supplementary_secondary_shapes(spark, oracle):
    """Round 16 deterministic pins for the supplementary-plane secondary
    bug: raw 4-byte Han in the SECONDARY key text outranked BMP weight
    slots a preceding element left behind — zh's ḗ/ṓ trailing-mark
    slots (probed 'ē𠀀' < 'ḗ𠀀' in ICU, ours inverted) and ja's
    voicing-mark secondary (probed 'カ𠀀' < 'ガ𠀀', ours inverted).
    Fixed by DELETING Han from the secondary text (ICU's common-05:
    primaries tie only with identical Han chars, so the only decidable
    comparison is against the preceding trailing/voicing mark)."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    cases = {
        "zh": ["ē𠀀", "ḗ𠀀", "ē一", "ḗ一", "ēa", "ḗa",
               "ṓ𪚥", "ṑ𪚥", "ṓ一", "ḕ𠀀", "ṻ𠀀", "e𠀀", "é𠀀"],
        "ja": ["カ𠀀", "ガ𠀀", "カ一", "ガ一", "ｶﾞ𠀀", "か𪚥", "が𪚥",
               "ぱ𠀀", "は𠀀", "カー𠀀", "かゝ𠀀", "かか𠀀", "ッ𠀀", "ツ𠀀"],
    }
    for loc, words in cases.items():
        icu = [
            r[0]
            for r in oracle.execute(
                f'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "{loc}", s',
                [words],
            ).fetchall()
        ]
        df = spark.createDataFrame([(w,) for w in words], "s string")
        ours = [
            r["s"]
            for r in df.orderBy(locale_collation_key(F.col("s"), loc), F.col("s")).collect()
        ]
        assert ours == icu, loc


@st.composite
def _zh_tw_words(draw):
    """Mixed zh_tw material: Han across the measured stroke order (both
    zones), bopomofo incl. the extended secondary/tertiary variant
    letters, tone vowels, CJK punctuation, fullwidth clones, Latin."""
    from duckdb_parachute_spark.functions.zh_stroke_data import (
        BPMF_PRIM_ALIAS,
        HAN_STROKE_HIGH,
        HAN_STROKE_ORDER,
    )

    order = HAN_STROKE_ORDER + HAN_STROKE_HIGH
    bpmf = [c for c in HAN_STROKE_ORDER if 0x3105 <= ord(c) < 0x31C0]
    bpmf += list(BPMF_PRIM_ALIAS)
    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 4:
            out.append(order[draw(st.integers(0, len(order) - 1))])
        elif kind < 6:
            out.append(draw(st.sampled_from(bpmf)))
        elif kind == 6:
            out.append(draw(st.sampled_from(
                list("āáǎàaēéěèeūúǔùuǖǘǚǜü") + ["ń", "ǹ", "ḿ", "ê", "ß"])))
        elif kind < 9:
            out.append(draw(st.sampled_from(
                list("，、。！？；：（）～　０９ａＺ·‧〈〉《》「」『』【】〔〕〇")
                + list(" ,.!?;:()~_-09"))))
        else:
            out.append(draw(st.sampled_from(list("abZxyz"))))
    return "".join(out)


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_zh_tw_collation_matches_icu(spark, oracle, data):
    """Round 16: traditional-Chinese STROKE order ('zh_tw') — the
    97,781-char measured stroke repertoire split into the below-Latin
    stroke zone (incl. 〇 and bopomofo) and the above-Latin implicit
    zone, the 19 extended-bopomofo secondary/tertiary variant letters,
    and the zh-shared non-Han surface (probed byte-identical). Binary
    tie-break both sides."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_zh_tw_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "zh_tw", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "zh_tw"), F.col("s")).collect()
    ]
    assert ours == icu


@st.composite
def _ko_words(draw):
    """Mixed ko material: syllables across the LV/T grid, same-reading
    Han WITH their reading syllables (the primary-tie + secondary-rank
    shapes), readingless and implicit-zone Han, root-accent vowels, CJK
    punctuation incl. ₩ and the 〇≡0 tie, fullwidth clones, Latin."""
    from duckdb_parachute_spark.functions.ko_collation_data import (
        KO_HAN_CLASSES,
        KO_HAN_HIGH,
        KO_HAN_LOW_EXTRA,
    )

    classes = list(KO_HAN_CLASSES.items())
    out = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.integers(0, 9))
        if kind < 3:
            out.append(chr(0xAC00 + draw(st.integers(0, 19 * 21 * 28 - 1))))
        elif kind < 5:
            key, hans = classes[draw(st.integers(0, len(classes) - 1))]
            pick = draw(st.integers(-1, min(len(hans) - 1, 5)))
            if pick < 0:
                # the reading syllable itself (primary-tie partner)
                lv, t = key[0], (key[1] if len(key) == 2 else "")
                out.append(chr(ord(lv) + (ord(t) - 0x11A7 if t else 0)))
            else:
                out.append(hans[pick])
        elif kind == 5:
            out.append(KO_HAN_LOW_EXTRA[draw(st.integers(0, len(KO_HAN_LOW_EXTRA) - 1))])
        elif kind == 6:
            out.append(KO_HAN_HIGH[draw(st.integers(0, len(KO_HAN_HIGH) - 1))])
        elif kind < 9:
            out.append(draw(st.sampled_from(
                list("，、。！？；：（）～　０９ａＺ·‧〈〉《》【】₩$〇0")
                + list("āáǎàéêëü") + list(" ,.!?;:()~_-09"))))
        else:
            out.append(draw(st.sampled_from(list("abZxyz"))))
    return "".join(out)


@settings(max_examples=_ex(8), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_ko_collation_matches_icu(spark, oracle, data):
    """Round 16 (the last named locale gap): Korean at full depth — the
    LV+T element structure (27 trailing-jamo expansion classes, T slots
    above every LV continuation so '가나' < '각' < '가a'), 7,476 Han
    tying their reading syllable at primary and ranking after it by
    measured secondary, the readingless and implicit Han zones, the
    root-model Latin surface, ₩, and the exact 〇≡0 tie. Binary
    tie-break both sides."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = data.draw(st.lists(_ko_words().filter(bool),
                               min_size=2, max_size=40, unique=True))
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ko", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ko"), F.col("s")).collect()
    ]
    assert ours == icu


def test_ko_collation_pinned_element_shapes(spark, oracle):
    """Round 16 deterministic pins for the ko element structure — each
    was probed during the build:

    * '가나' < '각' < '가a': a following syllable's compressed lead sits
      below every trailing-jamo byte, which sits below Latin (the shape
      that makes per-char keys unsound WITHOUT the T expansion).
    * 김 < 金 < 김a < 金a: Han tie their reading at primary and rank
      after it by secondary; the rank must not leak past the reading.
    * 일á < 一a and 일a < 一á: the Han secondary rank decides at its
      own stream position against the syllable's explicit common.
    * 'ē가' < 'ḗ가': root trailing marks beat a following syllable's
      common (the explicit-\\x02 design).
    * 〇 ties '0' exactly; ₩ sorts after $."""
    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = [
        "가나", "각", "가a", "가", "각a", "가힣", "가𠀀",
        "김", "金", "김a", "金a", "김치", "金치",
        "일", "一", "일á", "一a", "일a", "一á",
        "ē가", "ḗ가", "ē一", "ḗ一",
        "〇", "0", "〇가", "0가", "₩", "$", "₩1", "$9",
        "하", "下", "下a", "하á", "한국어", "漢字",
    ]
    icu = [
        r[0]
        for r in oracle.execute(
            'SELECT s FROM (SELECT unnest(?) s) ORDER BY s COLLATE "ko", s',
            [words],
        ).fetchall()
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    ours = [
        r["s"]
        for r in df.orderBy(locale_collation_key(F.col("s"), "ko"), F.col("s")).collect()
    ]
    assert ours == icu
