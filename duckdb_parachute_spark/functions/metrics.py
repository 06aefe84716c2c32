"""String-distance / formatting functions SURVEY §2.9 flags as Spark gaps
(reference manifests extension/core_functions/scalar/string/functions.json):
hamming, jaccard, jaro_winkler_similarity, damerau_levenshtein, parse_path
family, format_bytes, to_base, strip_accents.

Catalyst compositions where the math is set/positional (JVM-side, scale-safe);
Arrow-vectorized pandas UDFs for the dynamic-programming metrics — matching
the reference's own split (simple metrics inline, DP metrics as dedicated
C++ loops)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType

# -- Catalyst compositions ---------------------------------------------------


def _chars(s: Column) -> Column:
    """Array of single characters (argument-position substr loop)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
        lambda i: s.substr(i, F.lit(1)),
    )


def hamming_str(a: Column, b: Column) -> Column:
    """Positional mismatch count of two equal-length strings (reference
    hamming); NULL if lengths differ, like the reference errors."""
    diff = F.aggregate(
        F.zip_with(_chars(a), _chars(b), lambda x, y: (x != y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(F.length(a) == F.length(b), diff)


def char_jaccard(a: Column, b: Column) -> Column:
    """Character-set Jaccard similarity (reference jaccard)."""
    sa, sb = F.array_distinct(_chars(a)), F.array_distinct(_chars(b))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return inter / F.greatest(union, F.lit(1.0))


def parse_dirpath(path: Column) -> Column:
    """Directory path of a file path (reference parse_dirpath; the reference's
    parse_dirname returns the top-level component instead)."""
    return F.regexp_extract(path, r"^(.*)/[^/]*$", 1)


def parse_filename(path: Column) -> Column:
    return F.regexp_extract(path, r"([^/]*)$", 1)


def format_bytes(n: Column) -> Column:
    """Human-readable bytes, matching the reference's truncate-to-1-decimal
    binary units ('999 bytes', '1.4 KiB', '1.5 MiB')."""

    def scaled(unit_pow: int, unit: str) -> Column:
        scale = float(1 << (10 * unit_pow))
        trunc = F.floor(n / scale * 10) / 10.0
        return F.concat(F.format_string("%.1f", trunc), F.lit(" " + unit))

    return (
        F.when(n < 1024, F.concat(n.cast("string"), F.lit(" bytes")))
        .when(n < 1024**2, scaled(1, "KiB"))
        .when(n < 1024**3, scaled(2, "MiB"))
        .when(n < 1024**4, scaled(3, "GiB"))
        .otherwise(scaled(4, "TiB"))
    )


def to_base(n: Column, base: int) -> Column:
    """Integer to base-k string (reference to_base) — conv() uppercases."""
    return F.conv(n.cast("string"), 10, base)


#: Marks by current Python Unicode data that the reference's bundled
#: utf8proc (older Unicode tables) does NOT know, and therefore passes
#: through strip_accents unchanged. Derived empirically: probed every
#: mark/decomposable codepoint through DuckDB's strip_accents and kept the
#: divergers (all are characters added in Unicode 14+). Excluded from our
#: strip sets so both engines agree byte-for-byte.
#: The delta below is valid ONLY against this Unicode table version — it is
#: the empirical difference between Python 14.0.0 unicodedata and the
#: reference's bundled utf8proc. A Python with different tables would
#: silently change the generated translate maps and break byte-parity with
#: the oracle, so fail loudly instead (re-derive by re-probing DuckDB's
#: strip_accents over all marks/decomposables on the new Python).
_DERIVED_AGAINST_UNIDATA = "14.0.0"


def _check_unidata_version() -> None:
    import unicodedata

    if unicodedata.unidata_version != _DERIVED_AGAINST_UNIDATA:
        raise RuntimeError(
            "strip_accents parity tables were derived against Unicode "
            f"{_DERIVED_AGAINST_UNIDATA} but this Python ships "
            f"{unicodedata.unidata_version}; re-derive _UTF8PROC_UNKNOWN_MARKS "
            "before trusting strip_accents/NOACCENT output"
        )


_UTF8PROC_UNKNOWN_MARKS = frozenset(
    int(h, 16)
    for h in (
        "898 899 89a 89b 89c 89d 89e 89f 8ca 8cb 8cc 8cd 8ce 8cf 8d0 8d1 8d2 "
        "b55 c3c d81 1715 180f 1abf 1ac0 1ac1 1ac2 1ac3 1ac4 1ac5 1ac6 1ac7 "
        "1ac8 1ac9 1aca 1acb 1acc 1acd 1ace 1dfa a82c 10eab 10eac 10f82 10f83 "
        "10f84 10f85 11070 11073 11074 110c2 111ce 111cf 11930 11931 11932 "
        "11933 11934 11935 11937 11938 1193b 1193c 1193d 1193e 11940 11942 "
        "11943 16fe4 16ff0 16ff1 1e2ae "
        + " ".join(f"{cp:x}" for cp in range(0x1CF00, 0x1CF2E))
        + " "
        + " ".join(f"{cp:x}" for cp in range(0x1CF30, 0x1CF47))
    ).split()
)

_STRIP_CATS = {"Mn", "Mc", "Me"}  # utf8proc STRIPMARK removes all three


def _classify(cp: int) -> tuple[str, str] | None:
    """(char, replacement) if strip_accents rewrites this codepoint, else
    None. Three rewrite classes, matching utf8proc's decompose(STRIPMARK)
    + recompose pipeline:
    - standalone marks (Mn/Mc/Me) -> deleted;
    - base+marks canonical decompositions -> the base char ('é'→'e');
    - SINGLETON canonical decompositions -> the canonical char (CJK
      compatibility ideographs: U+F902 '車'→U+8ECA; singletons never
      recompose under NFC, so the reference emits the target).
    Marks unknown to the reference's older utf8proc are left alone."""
    import unicodedata

    if cp in _UTF8PROC_UNKNOWN_MARKS:
        return None
    ch = chr(cp)
    if unicodedata.category(ch) in _STRIP_CATS:
        return (ch, "")
    d = unicodedata.normalize("NFD", ch)
    if len(d) >= 2 and all(unicodedata.category(c) in _STRIP_CATS for c in d[1:]):
        # all-marks decomposition strips entirely; otherwise fold to base
        return (ch, "") if unicodedata.category(d[0]) in _STRIP_CATS else (ch, d[0])
    if len(d) == 1 and d != ch:
        return (ch, d)
    return None


def _accent_tables() -> tuple[str, str, list[tuple[str, str]]]:
    """Accent-fold tables at import time: a BMP (src, dst) pair for one
    JVM-side translate — deletions sit at the END of src past dst's length,
    which is how translate spells char removal — plus the astral rewrite
    list. `translate` maps UTF-16 CODE UNITS, so astral chars (surrogate
    pairs) can't ride it; they take the codepoint-map path below."""
    src, dst, deleted, astral = [], [], [], []
    for cp in range(0x80, 0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        rw = _classify(cp)
        if rw is None:
            continue
        ch, repl = rw
        if cp >= 0x10000:
            astral.append((ch, repl))
        elif repl:
            src.append(ch)
            dst.append(repl)
        else:
            deleted.append(ch)
    return "".join(src) + "".join(deleted), "".join(dst), astral


#: Lazily built on first strip_accents/NOACCENT use (ADVICE r7): the
#: module-import-time version check made the whole package unimportable on a
#: Python with newer Unicode tables, even for code that never folds accents.
#: The loud failure is now scoped to the feature whose parity tables it
#: protects — _lazy_accent_tables() checks unidata_version, then builds once.
_ACCENT_TABLES: tuple[str, str, list[tuple[str, str]]] | None = None
_ASTRAL_RE = "[\\x{10000}-\\x{10FFFF}]"
_ASTRAL_MAP_SQL: str | None = None


def _lazy_accent_tables() -> tuple[str, str, list[tuple[str, str]]]:
    global _ACCENT_TABLES
    if _ACCENT_TABLES is None:
        _check_unidata_version()
        # Round 17 (first-run latency): the tables are precomputed into a
        # generated module (scripts/gen_accent_fold_data.py) because the
        # live derivation scans all 0x110000 codepoints (~1.2 s of driver
        # Python per process). The generated module carries its own
        # unidata pin; on ANY mismatch (or a missing module) fall back to
        # the live derivation — same loud-version-check contract as before.
        try:
            import unicodedata

            from duckdb_parachute_spark.functions import accent_fold_data as _afd

            if _afd.UNIDATA_VERSION == unicodedata.unidata_version:
                _ACCENT_TABLES = (
                    _afd.ACC_SRC,
                    _afd.ACC_DST,
                    [tuple(p) for p in _afd.ASTRAL],
                )
                return _ACCENT_TABLES
        except (ImportError, AttributeError):  # missing or half-written module
            pass
        _ACCENT_TABLES = _accent_tables()
    return _ACCENT_TABLES


def _astral_map() -> Column:
    """Literal codepoint->replacement map for the astral rewrites (~1.4k
    entries: CJK-compat singletons, 4 base+mark folds, astral marks -> '').
    Built as ONE SQL literal so construction is a single parse, and
    constant-folded by Catalyst into a literal map evaluated once."""
    global _ASTRAL_MAP_SQL
    if _ASTRAL_MAP_SQL is None:

        def q(x: str) -> str:
            return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"

        astral = _lazy_accent_tables()[2]
        keys = ",".join(q(ch) for ch, _ in astral)
        vals = ",".join(q(repl) for _, repl in astral)
        _ASTRAL_MAP_SQL = f"map_from_arrays(array({keys}), array({vals}))"
    return F.expr(_ASTRAL_MAP_SQL)


def strip_accents(s: Column) -> Column:
    """Unicode accent folding (reference strip_accents semantics — utf8proc
    decompose(STRIPMARK) + recompose): marks of categories Mn/Mc/Me are
    stripped under canonical decomposition across ALL planes, singleton
    canonical decompositions (CJK compatibility ideographs) fold to their
    canonical char, for precomposed and decomposed input alike. One
    JVM-side translate covers the BMP; strings that actually contain
    supplementary-plane characters (rlike-gated, rare) additionally run a
    codepoint-map pass — split('') is codepoint-aware, so surrogate pairs
    survive intact. No UDF anywhere. Known residual: decomposed Hangul
    Jamo sequences are not recomposed (the reference's NFC pass would;
    no mark stripping is involved)."""
    acc_src, acc_dst, _ = _lazy_accent_tables()
    out = F.translate(s, acc_src, acc_dst)
    astral_mapped = F.array_join(
        F.transform(
            F.split(out, ""),
            lambda c: F.coalesce(F.element_at(_astral_map(), c), c),
        ),
        "",
    )
    return F.when(out.rlike(_ASTRAL_RE), astral_mapped).otherwise(out)


# -- DP metrics as Arrow-vectorized UDFs -------------------------------------


def _jaro(s1: str, s2: str) -> float:
    """Plain Jaro similarity (the shared core; Winkler adds the prefix
    boost on top)."""
    if s1 is None or s2 is None:
        return None
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    window = max(l1, l2) // 2 - 1
    m1, m2 = [False] * l1, [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    return (matches / l1 + matches / l2 + (matches - t / 2) / matches) / 3


@pandas_udf(DoubleType())
def jaro_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """Plain Jaro (reference jaro.cpp — round 12, found by the systematic
    function sweep)."""
    return pd.Series([_jaro(x, y) for x, y in zip(a, b)])


@pandas_udf(DoubleType())
def jaro_winkler_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler (standard p=0.1, prefix≤4 — matches the reference's
    jaro_winkler_similarity)."""

    def jw(s1: str, s2: str) -> float:
        jaro = _jaro(s1, s2)
        if jaro is None or jaro in (0.0, 1.0):
            return jaro
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        return jaro + prefix * 0.1 * (1 - jaro)

    return pd.Series([jw(x, y) for x, y in zip(a, b)])


@pandas_udf(StringType())
def nfc_normalize(s: pd.Series) -> pd.Series:
    """Unicode NFC normalization (reference nfc_normalize — round 12): the
    one normalization form DuckDB exposes; pure row-local unicodedata."""
    import unicodedata

    return s.map(lambda x: unicodedata.normalize("NFC", x), na_action="ignore")


@pandas_udf(LongType())
def damerau_levenshtein(a: pd.Series, b: pd.Series) -> pd.Series:
    """Full Damerau-Levenshtein (unrestricted transpositions — the reference's
    damerau_levenshtein, which gives d('ca','abc') = 2)."""

    def dl(s1: str, s2: str) -> int:
        if s1 is None or s2 is None:
            return None
        l1, l2 = len(s1), len(s2)
        maxdist = l1 + l2
        alpha: dict[str, int] = {}
        d = [[0] * (l2 + 2) for _ in range(l1 + 2)]
        d[0][0] = maxdist
        for i in range(l1 + 1):
            d[i + 1][0] = maxdist
            d[i + 1][1] = i
        for j in range(l2 + 1):
            d[0][j + 1] = maxdist
            d[1][j + 1] = j
        for i in range(1, l1 + 1):
            db = 0
            for j in range(1, l2 + 1):
                k = alpha.get(s2[j - 1], 0)
                l_ = db
                if s1[i - 1] == s2[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,
                    d[i + 1][j] + 1,
                    d[i][j + 1] + 1,
                    d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1),
                )
            alpha[s1[i - 1]] = i
        return d[l1 + 1][l2 + 1]

    return pd.Series([dl(x, y) for x, y in zip(a, b)], dtype="int64")


_STRIP_ACCENTS_TABLE: dict | None = None


@pandas_udf(StringType())
def strip_accents_udf(s: pd.Series) -> pd.Series:
    """SQL-callable strip_accents — the same utf8proc-parity tables that
    drive the Column-function strip_accents() above (derived empirically
    against DuckDB, full-plane property-tested), applied as one
    str.translate map. Registered by register_udfs so sqlx.sql resolves
    the name; DataFrame-API users should prefer the JVM-side Column
    function."""
    global _STRIP_ACCENTS_TABLE
    if _STRIP_ACCENTS_TABLE is None:
        acc_src, acc_dst, astral_pairs = _lazy_accent_tables()
        table: dict[int, str | None] = {}
        for i, c in enumerate(acc_src):
            # Spark translate semantics: position-mapped, surplus src
            # chars (no dst at that index) are DELETED
            table[ord(c)] = acc_dst[i] if i < len(acc_dst) else None
        for c, repl in astral_pairs:
            table[ord(c)] = repl or None
        _STRIP_ACCENTS_TABLE = table
    return s.map(lambda x: x.translate(_STRIP_ACCENTS_TABLE), na_action="ignore")


@pandas_udf(DoubleType())
def nextafter(a: pd.Series, b: pd.Series) -> pd.Series:
    """IEEE-754 nextafter (reference core_functions/scalar/math —
    std::nextafter); Python's math.nextafter is the same libm call."""
    import math

    return pd.Series(
        [None if x is None or y is None else math.nextafter(x, y)
         for x, y in zip(a, b)]
    )


@pandas_udf(DoubleType())
def gamma_fn(x: pd.Series) -> pd.Series:
    """Gamma function (reference core_functions/scalar/math gamma.cpp —
    std::tgamma; DuckDB's gamma(x) is Γ(x), measured gamma(7) = 720 = 6!).
    Pole semantics measured (round 14, VERDICT r13 what's-wrong #1):
    gamma(0) ERRORS ('cannot take gamma of zero'); NEGATIVE integers are
    the libm values — NaN, not an error. The UDF itself NEVER raises
    (round 15, ADVICE): Spark extracts Python UDFs out of CaseWhen
    branches and evaluates them on EVERY row, so a raise here aborts
    valid queries like CASE WHEN x <> 0 THEN gamma(x) ELSE 0 END. The
    v=0 error lives solely in the JVM-side raise_error CASE emitted by
    sqlx (CaseWhen short-circuits JVM expressions); the value returned
    here for v=0 is never observed."""
    import math

    def g(v):
        if v is None:
            return None
        try:
            return math.gamma(v)
        except ValueError:
            # v == 0 (dead branch — the emitted JVM CASE raises first)
            # or a negative integer pole: libm NaN either way (measured)
            return float("nan")

    return x.map(g)


@pandas_udf(DoubleType())
def lgamma_fn(x: pd.Series) -> pd.Series:
    """log-gamma (std::lgamma, same libm call as DuckDB's). Measured:
    lgamma(0) ERRORS; negative integers return +inf (libm), not an error.
    Like gamma_fn, the UDF never raises (round 15, ADVICE — extracted
    UDFs run on every row); lgamma(0)'s error is the emitted JVM CASE."""
    import math

    def g(v):
        if v is None:
            return None
        try:
            return math.lgamma(v)
        except ValueError:
            # v == 0 dead branch / negative integer pole: libm +inf
            return float("inf")

    return x.map(g)


def _duckdb_type_name(ddl: str) -> str:
    """Spark DDL type string -> the DuckDB spelling typeof() would print.

    Recursive over array<>/map<>/struct<> (measured on DuckDB 1.0:
    typeof([1,2]) = 'INTEGER[]', typeof({'a':1}) = 'STRUCT(a INTEGER)',
    typeof(map(...)) = 'MAP(VARCHAR, INTEGER)'); decimal(p,s) keeps its
    parameters. Unknown names pass through uppercased."""
    s = ddl.strip()
    low = s.lower()
    flat = {
        "string": "VARCHAR", "int": "INTEGER", "integer": "INTEGER",
        "bigint": "BIGINT", "smallint": "SMALLINT", "tinyint": "TINYINT",
        "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
        "date": "DATE", "binary": "BLOB", "void": '"NULL"',
        "timestamp_ntz": "TIMESTAMP", "timestamp": "TIMESTAMP WITH TIME ZONE",
        "variant": "JSON", "interval": "INTERVAL",
    }
    if low in flat:
        return flat[low]
    import re as _re

    dm = _re.fullmatch(r"decimal\((\d+),(\d+)\)", low)
    if dm:
        return f"DECIMAL({dm.group(1)},{dm.group(2)})"
    if low.startswith("array<") and s.endswith(">"):
        return _duckdb_type_name(s[6:-1]) + "[]"
    if low.startswith("map<") and s.endswith(">"):
        k, v = _split_angle(s[4:-1])
        return f"MAP({_duckdb_type_name(k)}, {_duckdb_type_name(v)})"
    if low.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_angle_list(s[7:-1]):
            name, _, typ = part.partition(":")
            fields.append(f"{name.strip()} {_duckdb_type_name(typ)}")
        return "STRUCT(" + ", ".join(fields) + ")"
    return s.upper()


def _split_angle(s: str) -> tuple[str, str]:
    parts = _split_angle_list(s)
    return parts[0], parts[1]


def _split_angle_list(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


@pandas_udf(StringType())
def duckdb_typeof_name(s: pd.Series) -> pd.Series:
    """Wraps Spark's typeof() output with DuckDB's type spellings, so
    typeof(x) prints what the reference engine prints (src/common/types.cpp
    LogicalType::ToString). typeof(1.5): both engines type the literal
    DECIMAL(2,1) — spellings align after the name map."""
    return s.map(_duckdb_type_name, na_action="ignore")
