"""Golden corpus for the dialect transpiler: every SQL string that reaches
``sqlx.transpile`` from tests/test_sqlx.py and from the ``sqlx.sql``-driven
registry queries (workload/dialect.py, workload/surface.py), plus the
``fn_gaps`` entries that run every branch of the function-gap rewrite, each
mapped to its exact output or to the text of the error it raises. Any change
to a rewrite pass that alters a single byte of any entry fails here."""

from __future__ import annotations

import json
import pathlib
import warnings

from duckdb_parachute_spark import sqlx

CORPUS = pathlib.Path(__file__).with_name("sqlx_golden.json")


def _transpile(entry: dict) -> dict:
    # entries record the session settings and the sqlx.sql() statement text
    # they ran under; the mask table, macro registry, session conf and
    # statement text start clean per entry
    token = sqlx._CURRENT_CONF.set(entry.get("conf"))
    query_token = sqlx._CURRENT_QUERY.set(entry.get("query"))
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return {"out": sqlx.transpile(entry["sql"])}
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}
    finally:
        sqlx._CURRENT_QUERY.reset(query_token)
        sqlx._CURRENT_CONF.reset(token)


def test_golden_corpus_byte_identical(monkeypatch):
    monkeypatch.setattr(sqlx, "_MACROS", {})
    entries = json.loads(CORPUS.read_text())
    assert len(entries) > 800
    diffs = []
    for i, entry in enumerate(entries):
        want = {k: entry[k] for k in ("out", "error") if k in entry}
        got = _transpile(entry)
        if got != want:
            diffs.append((i, entry["sql"][:120], want, got))
    assert not diffs, f"{len(diffs)} corpus entries changed; first: {diffs[0]}"


def test_every_function_gap_is_called_in_the_corpus():
    # a rule added to the function-gap table without a golden entry that
    # calls it fails here
    called = {
        m.group(1).lower()
        for entry in json.loads(CORPUS.read_text())
        for m in sqlx._FN_GAP_RE.finditer(sqlx._mask_literals(entry["sql"])[0])
    }
    missing = sorted(set(sqlx._FN_GAPS) - called)
    assert not missing, f"no corpus entry calls {missing}"
