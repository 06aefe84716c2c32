"""Golden corpus for the dialect transpiler: every SQL string that reaches
``sqlx.transpile`` from tests/test_sqlx.py and from the ``sqlx.sql``-driven
registry queries (workload/dialect.py, workload/surface.py), mapped to its
exact output or to the text of the error it raises. Any change to a
rewrite pass that alters a single byte of any entry fails here."""

from __future__ import annotations

import json
import pathlib
import warnings

from duckdb_parachute_spark import sqlx

CORPUS = pathlib.Path(__file__).with_name("sqlx_golden.json")


def _transpile(entry: dict) -> dict:
    # entries record the holistic_* session settings they ran under; the
    # mask table, macro registry and session conf start clean per entry
    token = sqlx._CURRENT_CONF.set(entry.get("conf"))
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return {"out": sqlx.transpile(entry["sql"])}
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}
    finally:
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
