"""Guard: pin storage is decided in ``materialize.py`` alone, table
schemas come from the parquet footer, and no engine code runs a frame
through its RDD view to shape a plan.

Scans the engine package's code tokens (comments and strings are
skipped, so prose may still name the APIs) and fails on:

- ``.persist(`` or ``.checkpoint(`` anywhere outside materialize.py;
- any use of the name ``_pin`` (the retired private helper);
- ``.localCheckpoint(`` in a file the materialize module docstring does
  not list as a non-pin lineage cut;
- ``.parquet(...).schema`` anywhere: a Spark schema-inference job just to
  type a source (``sources.footer_schema`` reads it on the driver);
- a DataFrame's ``.rdd`` attribute anywhere: reading it plans and, under
  AQE, runs the query's shuffle stages while the frame is only being
  built (``sources.scan_parallelism_floor`` decides from the plan). The
  py4j call ``.rdd()`` on a JVM plan node, as in ``materialize.release``,
  is not an attribute read and stays allowed.
"""

from __future__ import annotations

import io
import os
import re
import tokenize

from financial_data_lakehouse_pipeline__spark import materialize

PKG = os.path.dirname(os.path.abspath(materialize.__file__))


def _engine_files() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        out += [
            os.path.relpath(os.path.join(root, f), PKG)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


def _code_names(path: str) -> set[str]:
    """Names called as ``.name(`` in code, plus every bare NAME token
    (prefixed with '!'), ``.parquet().schema`` for an inference lookup and
    ``.rdd`` for a DataFrame's RDD view read as an attribute — comments
    and string literals excluded."""
    with open(os.path.join(PKG, path), encoding="utf-8") as fh:
        toks = [
            t for t in tokenize.generate_tokens(io.StringIO(fh.read()).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
                              tokenize.INDENT, tokenize.DEDENT)
        ]
    found = {"!" + t.string for t in toks if t.type == tokenize.NAME}
    for i, (a, b, c) in enumerate(zip(toks, toks[1:], toks[2:])):
        if a.string == "." and b.string == "rdd" and c.string != "(":
            found.add(".rdd")
        if a.string == "." and b.type == tokenize.NAME and c.string == "(":
            found.add(b.string)
            if b.string == "parquet" and _attr_after_call(toks, i + 2) == "schema":
                found.add(".parquet().schema")
    return found


def _attr_after_call(toks: list, i: int) -> str | None:
    """The attribute read right after the call whose '(' is ``toks[i]``."""
    depth = 0
    for j in range(i, len(toks)):
        depth += {"(": 1, ")": -1}.get(toks[j].string, 0)
        if depth == 0:
            nxt = toks[j + 1 : j + 3]
            if len(nxt) == 2 and nxt[0].string == "." and nxt[1].type == tokenize.NAME:
                return nxt[1].string
            return None
    return None


def _local_checkpoint_allowlist() -> set[str]:
    doc = materialize.__doc__
    tail = doc[doc.index("Direct ``localCheckpoint`` calls"):]
    return set(re.findall(r"^\s+(\S+\.py)\s", tail, re.M))


def test_pin_storage_is_decided_only_in_materialize():
    allow = _local_checkpoint_allowlist()
    files = _engine_files()
    assert allow and allow <= set(files), allow  # no stale allowlist entries
    bad = []
    for path in files:
        calls = _code_names(path)
        if path != "materialize.py":
            bad += [f"{path}: .{m}(" for m in ("persist", "checkpoint") if m in calls]
            if "localCheckpoint" in calls and path not in allow:
                bad.append(f"{path}: .localCheckpoint( (not on the allowlist)")
        if "!_pin" in calls:
            bad.append(f"{path}: _pin")
        if ".parquet().schema" in calls:
            bad.append(f"{path}: .parquet(...).schema (use sources.footer_schema)")
        if ".rdd" in calls:
            bad.append(f"{path}: DataFrame .rdd (decide from the plan, as the scan floor does)")
    assert not bad, bad
