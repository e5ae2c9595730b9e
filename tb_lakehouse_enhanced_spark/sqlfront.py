"""SQL-statement front-end: the reference's statement texts executed
against managed tables.

The reference's entire user surface is ``spark.sql()`` statement
strings — SCD2 silver loads as two-pass MERGE texts (reference
notebooks/22_ETL_Silver_PySpark.py:62-101), SCD1 gold dims
(33_ETL_Gold_Dim_PySpark.py:61-184), the keyed fact upsert
(34_ETL_Gold_Fact_PySpark.py:90-139), ad-hoc UPDATE/DELETE and SELECT
checks (23_Testing_SCD2.py:39-50), typed CREATE TABLE DDL with
GENERATED AS IDENTITY surrogates, and seed INSERT VALUES
(01_Init.py:46-355). The engine already implements those SEMANTICS
behind a Python API (operators/merge.py, sources/managed.py); this
module closes the API-fidelity gap: a user coming from the reference
pastes the same statement text — or whole ``;``-separated notebook
scripts (``run_script``), or wires the text to a stream
(streaming/sink.py::stream_sql_merge_sink) — and it executes against
managed tables. SELECT/WITH bind ``db.table`` references (including
``VERSION/TIMESTAMP AS OF`` time travel); OPTIMIZE / VACUUM / RESTORE
/ DESCRIBE HISTORY map onto the table services.

Design: a STATEMENT-SHAPE parser, not a SQL grammar. The parser splits
the statement into its structural slots (target, source, ON, WHEN
clauses, SET lists, column defs) at top level — tracking parentheses,
quotes, comments and CASE..END so embedded expressions never confuse
it — and every expression inside a slot passes through VERBATIM to
``F.expr`` / ``spark.sql``, i.e. Catalyst keeps full expression
semantics and this module never re-implements SQL evaluation.

MERGE declares the canonical logical shape (the join Delta's
``MergeIntoCommand`` runs internally): ONE full-outer join of target
and source on the verbatim ON condition, a first-match-wins branch
index over the WHEN clauses, one projection for the surviving
target-derived rows, one for the inserts, union. Catalyst's outer-join
elimination then specializes each branch (left-/right-outer; broadcast
when the source is small — zero shuffles, plan-gated), insert-only
merges take a left-anti fast path, and statically partition-safe
statements route through the partition-scoped machinery
(``ManagedTable.merge_into_generic``): only source-touched partitions
rewritten, the rest hardlinked — the 100 TB cost shape through the SQL
surface.

Determinism seam: the reference stamps rows with
``current_timestamp()``, which is untestable; ``LakehouseSql(now=...)``
rewrites that call to a literal — the statement-text analogue of the
injected ``load_ts`` every merge operator takes (SURVEY.md §7.4).
Identity ids are likewise deterministic: dense past the high-water
mark in merge-key order, where Delta's are arbitrary-but-unique.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.managed import (
    ManagedTable,
    empty_local_df,
    materialized_source,
)

__all__ = ["LakehouseSql", "MergeSpec", "MergeClause",
           "parse_merge", "parse_update", "parse_delete", "parse_insert",
           "apply_merge", "MergeCardinalityError"]


class MergeCardinalityError(Exception):
    """A target row matched multiple source rows under an UPDATE/DELETE
    clause — the merge would be non-deterministic (Delta raises the
    same error)."""


class _FusedSourceDupes(Exception):
    """Internal: the uniqueness gate (run concurrently with the fused
    MERGE pair's write) found duplicate source keys — the speculative
    fused commit aborts pre-publish and the pair re-runs sequentially."""


# ------------------------------------------------------------ tokenizing ---
#
# The only lexical structure the parser needs: where do the TOP-LEVEL
# occurrences of a keyword / separator sit? "Top level" = outside
# single-quoted strings, outside parentheses, and outside CASE..END
# blocks (a WHEN MATCHED condition may contain CASE WHEN .. THEN ..,
# which must not be mistaken for the clause's own THEN).

def _scan(s: str):
    """Yield (index, char, depth) with depth counting '(' and CASE."""
    depth = 0
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":                           # skip string literal
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2                     # escaped quote
                elif s[j] == "'":
                    break
                else:
                    j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c.isalpha() and (i == 0 or not (s[i - 1].isalnum()
                                             or s[i - 1] in "_.")):
            w = re.match(r"[A-Za-z_]+", s[i:]).group(0).upper()
            if w == "CASE":
                depth += 1
            elif w == "END":
                depth -= 1
            yield i, w, depth - (1 if w == "CASE" else 0) \
                + (1 if w == "END" else 0)
            i += len(w)
            continue
        yield i, c, depth
        i += 1


def _find_word(s: str, word: str, start: int = 0) -> int:
    """Index of the first top-level occurrence of keyword ``word``
    (case-insensitive) in ``s`` at or after ``start``, else -1."""
    for i, tok, depth in _scan(s):
        if i >= start and depth == 0 and tok == word.upper():
            return i
    return -1


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on top-level ``sep`` characters."""
    parts, last = [], 0
    for i, tok, depth in _scan(s):
        if tok == sep and depth == 0:
            parts.append(s[last:i].strip())
            last = i + 1
    parts.append(s[last:].strip())
    return [p for p in parts if p]


def _norm(sql: str) -> str:
    """Collapse whitespace runs to single spaces and strip ``--``
    line comments, both OUTSIDE string literals (statement shapes
    become regex-friendly; literals with embedded whitespace survive;
    the reference's DDL texts carry inline comments)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
        elif c.isspace():
            out.append(" ")
            while i < n and sql[i].isspace():
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out).strip()


def _strip_alias(name: str, aliases: tuple[str, ...]) -> str:
    head, _, tail = name.partition(".")
    if tail and head in aliases:
        return tail
    return name


def _parse_assignments(text: str, aliases: tuple[str, ...]) -> dict:
    """``a = e1, tgt.b = e2`` -> {'a': 'e1', 'b': 'e2'} (exprs
    verbatim)."""
    out = {}
    for item in _split_top(text):
        # first top-level '=' that isn't part of != <= >= <=> ==
        eq = -1
        for i, tok, depth in _scan(item):
            if tok == "=" and depth == 0:
                prev = item[i - 1] if i else ""
                nxt = item[i + 1] if i + 1 < len(item) else ""
                if prev not in "!<>=" and nxt != "=" and nxt != ">":
                    eq = i
                    break
        if eq < 0:
            raise ValueError(f"cannot parse assignment: {item!r}")
        lhs = _strip_alias(item[:eq].strip(), aliases)
        out[lhs] = item[eq + 1:].strip()
    return out


# --------------------------------------------------------------- parsing ---

@dataclass(frozen=True)
class MergeClause:
    """One WHEN clause. ``kind``: matched_update | matched_delete |
    nmbs_update | nmbs_delete (not-matched-by-source) | insert.
    ``cond`` is the clause's AND condition text (None = uncondition),
    ``assigns`` the SET map, ``insert_cols``/``insert_vals`` the INSERT
    lists (``insert_cols is None`` = INSERT *)."""
    kind: str
    cond: str | None = None
    assigns: dict = field(default_factory=dict)
    insert_cols: tuple[str, ...] | None = None
    insert_vals: tuple[str, ...] = ()


@dataclass(frozen=True)
class MergeSpec:
    target: str
    t_alias: str
    source: str
    s_alias: str
    on: str
    clauses: tuple[MergeClause, ...]


_MERGE_HEAD = re.compile(
    r"^MERGE INTO (?P<tgt>[\w.]+)(?: AS)? (?P<talias>\w+) USING ",
    re.IGNORECASE)
_MERGE_SRC_TAIL = re.compile(
    r"^(?: AS)? (?P<salias>\w+) ON ", re.IGNORECASE)


def parse_merge(sql: str) -> MergeSpec:
    """Parse the reference's MERGE statement shape
    (22_ETL_Silver_PySpark.py:62-101 et al.). The USING relation is
    either a ``db.table`` name or a parenthesized subquery — located
    with a paren scan, so nested parentheses (function calls, inner
    subqueries) inside the source text are fine."""
    s = _norm(sql)
    m = _MERGE_HEAD.match(s)
    if not m:
        raise ValueError(f"unrecognized MERGE shape: {s[:80]!r}")
    after = s[m.end():]
    if after.startswith("("):
        close = _matching_paren(after)
        src, after = after[:close + 1], after[close + 1:]
    else:
        mn = re.match(r"^[\w.]+", after)
        if not mn:
            raise ValueError(f"unrecognized MERGE USING source: "
                             f"{after[:60]!r}")
        src, after = mn.group(0), after[mn.end():]
    mt = _MERGE_SRC_TAIL.match(after)
    if not mt:
        raise ValueError(f"unrecognized MERGE shape after USING "
                         f"source: {after[:60]!r}")
    rest = after[mt.end():]
    first_when = _find_word(rest, "WHEN")
    if first_when < 0:
        raise ValueError("MERGE has no WHEN clauses")
    on = rest[:first_when].strip()
    aliases = (m.group("talias"), mt.group("salias"))
    clauses, text = [], rest[first_when:]
    # split into WHEN..-delimited segments at top level
    bounds = []
    pos = 0
    while True:
        i = _find_word(text, "WHEN", pos)
        if i < 0:
            break
        bounds.append(i)
        pos = i + 4
    bounds.append(len(text))
    for b0, b1 in zip(bounds, bounds[1:]):
        clauses.append(_parse_when(text[b0:b1].strip(), aliases))
    return MergeSpec(target=m.group("tgt"), t_alias=aliases[0],
                     source=src, s_alias=aliases[1],
                     on=on, clauses=tuple(clauses))


def _parse_when(seg: str, aliases: tuple[str, str]) -> MergeClause:
    u = seg.upper()
    then = _find_word(seg, "THEN")
    if then < 0:
        raise ValueError(f"WHEN clause without THEN: {seg[:60]!r}")
    head, action = seg[:then].strip(), seg[then + 4:].strip()
    if u.startswith("WHEN MATCHED"):
        base, kindp = head[len("WHEN MATCHED"):].strip(), "matched"
    elif u.startswith("WHEN NOT MATCHED BY SOURCE"):
        base = head[len("WHEN NOT MATCHED BY SOURCE"):].strip()
        kindp = "nmbs"
    elif u.startswith("WHEN NOT MATCHED BY TARGET"):
        base = head[len("WHEN NOT MATCHED BY TARGET"):].strip()
        kindp = "insert"
    elif u.startswith("WHEN NOT MATCHED"):
        base, kindp = head[len("WHEN NOT MATCHED"):].strip(), "insert"
    else:
        raise ValueError(f"unrecognized WHEN clause: {seg[:60]!r}")
    cond = None
    if base.upper().startswith("AND "):
        cond = base[4:].strip()
    elif base:
        raise ValueError(f"unexpected text after WHEN: {base[:60]!r}")
    au = action.upper()
    if kindp == "insert":
        if au == "INSERT *":
            return MergeClause("insert", cond, insert_cols=None)
        mm = re.match(r"INSERT \((?P<cols>[^)]*)\) VALUES \(", action,
                      re.IGNORECASE)
        if not mm:
            raise ValueError(f"unrecognized INSERT action: {action[:60]!r}")
        cols = tuple(c.strip() for c in mm.group("cols").split(","))
        vals_txt = action[mm.end() - 1:]
        close = _matching_paren(vals_txt)
        vals = tuple(_split_top(vals_txt[1:close]))
        if len(cols) != len(vals):
            raise ValueError(
                f"INSERT column/value arity mismatch: {len(cols)} vs "
                f"{len(vals)}")
        return MergeClause("insert", cond, insert_cols=cols,
                           insert_vals=vals)
    if au == "DELETE":
        return MergeClause(f"{kindp}_delete", cond)
    if au == "UPDATE SET *":
        # Delta's shorthand: assign every source column to its
        # same-named target column; resolved against the actual
        # source/target schemas at execution (apply_merge)
        return MergeClause(f"{kindp}_update", cond, assigns=None)
    if au.startswith("UPDATE SET "):
        return MergeClause(
            f"{kindp}_update", cond,
            assigns=_parse_assignments(action[len("UPDATE SET "):],
                                       aliases))
    raise ValueError(f"unrecognized merge action: {action[:60]!r}")


def _matching_paren(s: str) -> int:
    """Index of the ')' closing the '(' at s[0]."""
    assert s[0] == "("
    for i, tok, depth in _scan(s):
        if tok == ")" and depth == 0 and i > 0:
            return i
    raise ValueError("unbalanced parentheses")


_UPDATE_RE = re.compile(r"^UPDATE (?P<tbl>[\w.]+) SET ", re.IGNORECASE)
_DELETE_RE = re.compile(r"^DELETE FROM (?P<tbl>[\w.]+)\s*", re.IGNORECASE)
_INSERT_RE = re.compile(
    r"^INSERT (?P<mode>INTO|OVERWRITE(?: TABLE)?) (?P<tbl>[\w.]+)"
    r"(?: \((?P<cols>[^)]*)\))? "
    r"(?P<body>VALUES |SELECT )", re.IGNORECASE)


def parse_update(sql: str):
    """``UPDATE t SET a = e [, ...] [WHERE cond]`` (reference
    23_Testing_SCD2.py:40-44) -> (table, assigns, where|None)."""
    s = _norm(sql)
    m = _UPDATE_RE.match(s)
    if not m:
        raise ValueError(f"unrecognized UPDATE shape: {s[:60]!r}")
    rest = s[m.end():]
    w = _find_word(rest, "WHERE")
    assigns_txt, where = (rest, None) if w < 0 else \
        (rest[:w], rest[w + 5:].strip())
    return m.group("tbl"), _parse_assignments(assigns_txt, ()), where


def parse_delete(sql: str):
    """``DELETE FROM t [WHERE cond]`` (reference 23:50)."""
    s = _norm(sql)
    m = _DELETE_RE.match(s)
    if not m:
        raise ValueError(f"unrecognized DELETE shape: {s[:60]!r}")
    rest = s[m.end():].strip()
    if not rest:
        return m.group("tbl"), None
    if not rest.upper().startswith("WHERE "):
        raise ValueError(f"unexpected text after DELETE: {rest[:60]!r}")
    return m.group("tbl"), rest[6:].strip()


def parse_insert(sql: str):
    """``INSERT INTO|OVERWRITE t [(cols)] VALUES (...)[, ...]`` or
    ``... SELECT ...`` (reference 01_Init.py:265-321) ->
    (table, cols|None, select_sql, overwrite)."""
    s = _norm(sql)
    m = _INSERT_RE.match(s)
    if not m:
        raise ValueError(f"unrecognized INSERT shape: {s[:60]!r}")
    cols = None
    if m.group("cols"):
        cols = tuple(c.strip() for c in m.group("cols").split(","))
    body = s[m.end() - len(m.group("body")):]
    if body.upper().startswith("VALUES"):
        select_sql = f"SELECT * FROM ({body})"
        if cols:
            select_sql = (f"SELECT * FROM ({body}) AS _ins"
                          f"({', '.join(cols)})")
    else:
        select_sql = body
    overwrite = m.group("mode").upper().startswith("OVERWRITE")
    return m.group("tbl"), cols, select_sql, overwrite


_SUBQUERY_RE = re.compile(r"\bEXISTS\s*\(|\bIN\s*\(\s*SELECT\b"
                          r"|\(\s*SELECT\b", re.IGNORECASE)


def _has_subquery(where: str | None) -> bool:
    """Does the WHERE text carry any subquery form (EXISTS, IN
    (SELECT…), scalar (SELECT…))? Checked OUTSIDE string literals."""
    return bool(where) and any(
        _SUBQUERY_RE.search(seg)
        for lit, seg in _segments(where) if not lit)



_CREATE_TABLE_RE = re.compile(
    r"^CREATE (?P<replace>OR REPLACE )?TABLE (?P<ine>IF NOT EXISTS )?"
    r"(?P<tbl>[\w.]+) ?"
    r"(?P<body>\(|(?:USING \w+ |PARTITIONED BY \((?P<pbc>[^)]*)\) "
    r"|TBLPROPERTIES \([^)]*\) |COMMENT '(?:[^']|'')*' )*"
    r"AS (?:SELECT|WITH) )", re.IGNORECASE)
# table-level decorations after the coldef parens (Databricks DDL:
# USING DELTA, COMMENT, TBLPROPERTIES, PARTITIONED BY in any order) —
# USING/COMMENT/TBLPROPERTIES are storage/metadata hints with no
# behavioral content here (storage is always this engine's managed
# parquet layout), so they parse and drop; PARTITIONED BY is honored
_TBL_DECOR = re.compile(
    r"^(?:USING (?P<using>\w+)|COMMENT '(?:[^']|'')*'"
    r"|TBLPROPERTIES \([^)]*\)"
    r"|PARTITIONED BY \((?P<pbc2>[^)]*)\))\s*", re.IGNORECASE)
_CREATE_DB_RE = re.compile(
    r"^CREATE (?:DATABASE|SCHEMA) (?P<ine>IF NOT EXISTS )?(?P<db>[\w.]+)$",
    re.IGNORECASE)
_DROP_DB_RE = re.compile(
    r"^DROP (?:DATABASE|SCHEMA) (?P<ie>IF EXISTS )?(?P<db>[\w.]+)"
    r"(?P<cascade> CASCADE)?$", re.IGNORECASE)
_DROP_TABLE_RE = re.compile(
    r"^DROP TABLE (?P<ie>IF EXISTS )?(?P<tbl>[\w.]+)$", re.IGNORECASE)

_COL_MODIFIERS = re.compile(
    r"(?P<identity> GENERATED (?P<idkind>ALWAYS|BY DEFAULT) AS IDENTITY"
    r"(?: \((?P<idspec>[^)]*)\))?)|(?P<pk> PRIMARY KEY)|(?P<nn> NOT NULL)"
    r"|(?P<fk> REFERENCES (?P<fktbl>[\w.]+) ?\((?P<fkcol>[^)]*)\))"
    r"|(?P<comment> COMMENT '(?:[^']|'')*')",
    re.IGNORECASE)


def parse_create_table(sql: str):
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] db.t ( coldefs )
    [PARTITIONED BY (cols)]`` (the reference's typed DDL with
    identity/PK/NOT NULL/column-level ``REFERENCES`` FK modifiers,
    01_Init.py:46-355) or ``CREATE ... TABLE db.t [PARTITIONED BY
    (cols)] AS SELECT|WITH ...`` (CTAS, including the reference's
    leading-CTE calendar CTAS at 01_Init.py:180-233). Returns (table,
    schema_ddl|None, ddl_info, or_replace, if_not_exists,
    ctas_select|None, partition_by); ``ddl_info`` records identity
    (plus whether it is GENERATED ALWAYS) / primary-key / not-null /
    foreign-key columns (informational constraints, the Databricks
    stance — validated by assertion, not enforced in-engine; NOT NULL
    is the exception and becomes an enforced constraint)."""
    s = _norm(sql)
    m = _CREATE_TABLE_RE.match(s)
    if not m:
        raise ValueError(f"unrecognized CREATE TABLE shape: {s[:70]!r}")
    tbl = m.group("tbl")
    or_replace = bool(m.group("replace"))
    if_not_exists = bool(m.group("ine"))
    pb = tuple(c.strip() for c in m.group("pbc").split(",")) \
        if m.group("pbc") else ()
    body_kw = m.group("body").upper()
    if body_kw.endswith(("AS SELECT ", "AS WITH ")):
        # CTAS: the SELECT (or WITH-prefixed) query text starts right
        # after the 'AS ' keyword; pass it through verbatim
        kw_len = len("SELECT ") if body_kw.endswith("AS SELECT ") \
            else len("WITH ")
        ctas = s[m.end() - kw_len:]
        return tbl, None, {}, or_replace, if_not_exists, ctas, pb
    body = s[m.end() - 1:]
    close = _matching_paren(body)
    tail = body[close + 1:].strip()
    while tail:
        mt = _TBL_DECOR.match(tail)
        if not mt:
            raise ValueError(
                f"unexpected text after column defs: {tail[:60]!r}")
        if mt.group("pbc2"):
            pb = tuple(c.strip() for c in mt.group("pbc2").split(","))
        if mt.group("using") and mt.group("using").upper() not in (
                "DELTA", "PARQUET"):
            raise ValueError(
                f"unsupported storage format: USING {mt.group('using')}")
        tail = tail[mt.end():].strip()
    info: dict = {"identity": None, "primary_key": [], "not_null": [],
                  "foreign_keys": []}
    fields = []
    for coldef in _split_top(body[1:close]):
        rest = coldef
        mods = {"identity": False, "pk": False, "nn": False}
        fks = []
        while True:
            mm = _COL_MODIFIERS.search(rest)
            if not mm:
                break
            for k in mods:
                if mm.group(k):
                    mods[k] = True
            if mm.group("identity"):
                info["identity_always"] = \
                    mm.group("idkind").upper() == "ALWAYS"
                spec = mm.group("idspec") or ""
                ms = re.search(r"START\s+WITH\s+(-?\d+)", spec,
                               re.IGNORECASE)
                mi = re.search(r"INCREMENT\s+BY\s+(-?\d+)", spec,
                               re.IGNORECASE)
                info["identity_start"] = int(ms.group(1)) if ms else 1
                info["identity_step"] = int(mi.group(1)) if mi else 1
                if info["identity_step"] == 0:
                    raise ValueError(
                        "IDENTITY INCREMENT BY must be non-zero")
            if mm.group("fk"):
                fks.append((mm.group("fktbl"),
                            mm.group("fkcol").strip()))
            rest = (rest[:mm.start()] + rest[mm.end():]).strip()
        name, _, typ = rest.partition(" ")
        if not typ:
            raise ValueError(f"cannot parse column definition: {coldef!r}")
        # CHAR(n)/VARCHAR(n) surface as STRING at runtime (Spark's own
        # read-side semantics; char/varchar are DDL-only annotations)
        typ = re.sub(r"^(?:CHAR|VARCHAR)\s*\(\d+\)$", "STRING", typ,
                     flags=re.IGNORECASE)
        fields.append(f"{name} {typ}")
        if mods["identity"]:
            info["identity"] = name
        if mods["pk"]:
            info["primary_key"].append(name)
        if mods["nn"]:
            info["not_null"].append(name)
        for ref_tbl, ref_col in fks:
            info["foreign_keys"].append([name, ref_tbl, ref_col])
    return tbl, ", ".join(fields), info, or_replace, if_not_exists, \
        None, pb


_EQ_PAIR = re.compile(r"^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$")


def _equi_key_pairs(on: str, t: str, s: str) -> list[tuple] | None:
    """If the ON condition is a top-level AND of ``t.col = s.col``
    equality pairs plus predicates referencing ONLY the target, return
    the (target_col, source_col) pairs. Return None for anything else —
    range/expression joins fall back to the join-based checks."""
    # split on top-level AND keywords
    cuts, conjs, last = [], [], 0
    for i, tok, depth in _scan(on):
        if tok == "AND" and depth == 0:
            cuts.append(i)
    for i in cuts:
        conjs.append(on[last:i].strip())
        last = i + 3
    conjs.append(on[last:].strip())
    pairs = []
    for conj in conjs:
        m = _EQ_PAIR.match(conj)
        if m:
            a_al, a_c, b_al, b_c = m.groups()
            if {a_al, b_al} == {t, s}:
                pairs.append((a_c, b_c) if a_al == t else (b_c, a_c))
                continue
        refs = set(re.findall(r"\b(\w+)\.", conj))
        if refs <= {t}:
            continue                  # target-only guard: cannot widen
        return None                   # source refs / expressions: punt
    return pairs or None


def _on_structure(on: str, t: str, s: str):
    """Decompose an equi-key ON into ((tgt_col, src_col) pairs,
    [target-only guard conjunct texts]); None when the ON carries
    source-referencing or expression conjuncts."""
    cuts, conjs, last = [], [], 0
    for i, tok, depth in _scan(on):
        if tok == "AND" and depth == 0:
            cuts.append(i)
    for i in cuts:
        conjs.append(on[last:i].strip())
        last = i + 3
    conjs.append(on[last:].strip())
    pairs, guards = [], []
    for conj in conjs:
        m = _EQ_PAIR.match(conj)
        if m:
            a_al, a_c, b_al, b_c = m.groups()
            if {a_al, b_al} == {t, s}:
                pairs.append((a_c, b_c) if a_al == t else (b_c, a_c))
                continue
        refs = set(re.findall(r"\b(\w+)\.", conj))
        if refs <= {t}:
            guards.append(conj)
            continue
        return None
    return (pairs, guards) if pairs else None


def _equi_source_keys(on: str, t: str, s: str) -> list[str] | None:
    """Source-side columns of the ON's equi-key pairs (cardinality
    then reduces to source uniqueness on those keys); None when the ON
    is not a pure equi-key conjunction."""
    pairs = _equi_key_pairs(on, t, s)
    return [sc for _, sc in pairs] if pairs else None


# -------------------------------------------------------------- executor ---

def _resolve_star_updates(spec: MergeSpec, target_cols, source_cols
                          ) -> MergeSpec:
    """Expand ``UPDATE SET *`` clauses (parsed as ``assigns=None``)
    into explicit same-name source->target assignments, now that both
    schemas are known."""
    from dataclasses import replace as _dc_replace
    tset = set(target_cols)
    out, changed = [], False
    for cl in spec.clauses:
        if cl.kind.endswith("_update") and cl.assigns is None:
            if cl.kind.startswith("nmbs"):
                raise ValueError(
                    "UPDATE SET * is not valid in a NOT MATCHED BY "
                    "SOURCE clause (there is no source row to copy)")
            assigns = {c: f"{spec.s_alias}.{c}" for c in source_cols
                       if c in tset}
            out.append(_dc_replace(cl, assigns=assigns))
            changed = True
        else:
            out.append(cl)
    return _dc_replace(spec, clauses=tuple(out)) if changed else spec


def apply_merge(target: DataFrame, source: DataFrame, spec: MergeSpec,
                check_cardinality: bool = True) -> DataFrame:
    """Compute the post-MERGE target state as ONE full-outer join +
    per-branch projections (the Delta ``MergeIntoCommand`` join,
    SURVEY.md §3 E2 — same plan shape as operators/merge.py).

    First-match-wins across WHEN clauses, per the MERGE standard: a
    branch-index column picks the first clause whose condition holds,
    every UPDATE column is a CASE over that index, DELETE branches
    drop at the filter, unmatched-by-clause rows pass through, and
    NOT MATCHED inserts project the VALUES expressions cast to the
    target's types. ``check_cardinality`` enforces Delta's
    multiple-source-match error with one extra aggregate over the
    matched slice.
    """
    t, s = spec.t_alias, spec.s_alias
    spec = _resolve_star_updates(spec, target.columns, source.columns)
    out_cols = target.columns
    dtypes = {f.name: f.dataType for f in target.schema.fields}

    m_clauses = [c for c in spec.clauses if c.kind.startswith("matched")]
    n_clauses = [c for c in spec.clauses if c.kind.startswith("nmbs")]
    i_clauses = [c for c in spec.clauses if c.kind == "insert"]

    if not m_clauses and not n_clauses:
        # insert-only merge: the target is untouched; new rows are the
        # source anti-joined on the ON condition (the same file-skipping
        # shape Delta's insert-only MERGE special-cases) — no outer
        # join, no cardinality concern, duplicates impossible.
        anti = (source.alias(s)
                .join(target.alias(t), F.expr(spec.on), "left_anti"))
        out = target
        for cl in i_clauses:
            rows = anti.filter(F.expr(cl.cond)) if cl.cond else anti
            if cl.insert_cols is None:      # INSERT *
                vals = {c: f"{s}.{c}" for c in source.columns
                        if c in dtypes}
            else:
                vals = {_strip_alias(c, (t, s)): v
                        for c, v in zip(cl.insert_cols, cl.insert_vals)}
            unknown = set(vals) - set(out_cols)
            if unknown:
                raise ValueError(f"INSERT targets unknown columns: "
                                 f"{sorted(unknown)}")
            proj = [(F.expr(vals[c]) if c in vals else F.lit(None))
                    .cast(dtypes[c]).alias(c) for c in out_cols]
            out = out.unionByName(rows.select(*proj))
        return out

    tgt = (target
           .withColumn("__t_present", F.lit(True))
           .withColumn("__t_rid", F.monotonically_increasing_id())
           .alias(t))
    src = source.withColumn("__s_present", F.lit(True)).alias(s)
    joined = tgt.join(src, F.expr(spec.on), "full_outer")
    t_here = F.coalesce(F.col(f"{t}.__t_present"), F.lit(False))
    s_here = F.coalesce(F.col(f"{s}.__s_present"), F.lit(False))
    matched = t_here & s_here

    def branch(clauses, base):
        w = None
        for i, c in enumerate(clauses):
            cnd = base & (F.expr(c.cond) if c.cond else F.lit(True))
            w = F.when(cnd, F.lit(i)) if w is None else w.when(cnd, F.lit(i))
        return w.otherwise(F.lit(-1)) if w is not None else F.lit(-1)

    mbr = branch(m_clauses, matched)
    nbr = branch(n_clauses, t_here & ~s_here)

    if check_cardinality:
        # A multi-source match duplicates the target row through the
        # outer join, so Delta's ambiguity error is also the
        # duplication guard: raise when a target row matches more than
        # one source row. Two tiers:
        # - equi-key ON (every reference statement): a target row can
        #   multi-match ONLY if the source duplicates its join-key
        #   tuple AND that tuple exists in the target. Phase 1 is one
        #   grouped count on the SOURCE alone — no join, negligible at
        #   any scale, and in the common keyed-source case the ONLY
        #   check that runs. Phase 2 fires only when source dupes
        #   exist: the duplicate key tuples (already a tiny set — they
        #   are the anomaly) semi-join the target; dupes that match no
        #   target row feed only NOT MATCHED inserts, which Delta
        #   executes without error (each unmatched row inserts), so
        #   they pass;
        # - general ON: fall back to counting matches per target row
        #   (recomputes the join once; the price of a non-equi merge).
        pairs = _equi_key_pairs(spec.on, t, s)
        if pairs is not None:
            src_keys = [sc for _, sc in pairs]
            dup_keys = (source.groupBy(*src_keys)
                        .agg(F.count(F.lit(1)).alias("__n"))
                        .filter(F.col("__n") > 1).drop("__n"))
            dupes = dup_keys.limit(1).count()
            if dupes:
                from functools import reduce
                from operator import and_
                tkeys = target.select(
                    *[F.col(tc).alias(f"__tk{i}")
                      for i, (tc, _) in enumerate(pairs)])
                cond = reduce(and_, (
                    F.col(sc) == F.col(f"__tk{i}")
                    for i, (_, sc) in enumerate(pairs)))
                dupes = (dup_keys.join(tkeys, cond, "left_semi")
                         .limit(1).count())
        else:
            dupes = (joined.filter(matched)
                     .groupBy(F.col(f"{t}.__t_rid"))
                     .agg(F.count(F.lit(1)).alias("__n"))
                     .filter(F.col("__n") > 1).limit(1).count())
        if dupes:
            raise MergeCardinalityError(
                "MERGE: a target row matches multiple source rows; "
                "the result would be non-deterministic (dedupe the "
                "source on the ON keys)")

    deleted = F.lit(False)
    for i, c in enumerate(m_clauses):
        if c.kind == "matched_delete":
            deleted = deleted | (mbr == i)
    for i, c in enumerate(n_clauses):
        if c.kind == "nmbs_delete":
            deleted = deleted | (nbr == i)

    def col_value(c: str):
        v = F.col(f"{t}.{c}")
        for i, cl in enumerate(m_clauses):
            if cl.kind == "matched_update" and c in cl.assigns:
                v = F.when(mbr == i, F.expr(cl.assigns[c])).otherwise(v)
        for i, cl in enumerate(n_clauses):
            if cl.kind == "nmbs_update" and c in cl.assigns:
                v = F.when(nbr == i, F.expr(cl.assigns[c])).otherwise(v)
        return v.cast(dtypes[c]).alias(c)

    kept = (joined.filter(t_here & ~deleted)
            .select(*[col_value(c) for c in out_cols]))

    if not i_clauses:
        return kept
    ibr = branch(i_clauses, ~t_here & s_here)
    inserts = []
    for i, cl in enumerate(i_clauses):
        if cl.insert_cols is None:          # INSERT *
            vals = {c: f"{s}.{c}" for c in source.columns if c in dtypes}
        else:
            vals = {_strip_alias(c, (t, s)): v
                    for c, v in zip(cl.insert_cols, cl.insert_vals)}
        unknown = set(vals) - set(out_cols)
        if unknown:
            raise ValueError(f"INSERT targets unknown columns: "
                             f"{sorted(unknown)}")
        proj = [(F.expr(vals[c]) if c in vals else F.lit(None))
                .cast(dtypes[c]).alias(c) for c in out_cols]
        inserts.append(joined.filter(ibr == i).select(*proj))
    out = kept
    for ins in inserts:
        out = out.unionByName(ins)
    return out


_NONNULL_LITERAL = re.compile(
    r"^(?:(?:TIMESTAMP|DATE) '[^']*'|'(?:[^']|'')*'|-?\d+(?:\.\d+)?"
    r"|current_timestamp\(\)|true|false)$", re.IGNORECASE)


def _fusable_close_insert(s1: MergeSpec, s2: MergeSpec) -> bool:
    """True when two consecutive MERGE texts are the reference's SCD2
    close+insert pair shape (22_ETL_Silver_PySpark.py:62-101) and the
    single-join fusion below is PROVABLY equivalent to running them
    sequentially:

    - same target, same source text, same aliases, same ON;
    - pass 1 has only UPDATE clauses (matched / not-matched-by-source);
    - pass 2 is a single INSERT clause whose condition (if any)
      references only the source;
    - the ON is equi-keys plus target-only guard conjuncts, and every
      guard is re-establishable-proof: a guard must have the form
      ``tgt.col IS NULL`` with every NMBS clause that assigns ``col``
      assigning a non-NULL literal, or no NMBS clause assigns any
      column the guard references. (A row NOT matched to a source row
      sits outside the fused window; the proof guarantees pass-1
      updates can never flip its guard to true, which is the only way
      it could block pass-2's insert in the sequential run.)
    """
    if (s1.target != s2.target or s1.source != s2.source
            or s1.on != s2.on
            or (s1.t_alias, s1.s_alias) != (s2.t_alias, s2.s_alias)):
        return False
    if not s1.clauses or not all(
            c.kind in ("matched_update", "nmbs_update")
            and c.assigns is not None for c in s1.clauses):
        return False
    if len(s2.clauses) != 1 or s2.clauses[0].kind != "insert":
        return False
    cond = s2.clauses[0].cond
    if cond:
        refs = set(re.findall(r"\b(\w+)\.", cond))
        if not refs <= {s1.s_alias}:
            return False
    struct = _on_structure(s1.on, s1.t_alias, s1.s_alias)
    if struct is None:
        return False
    _, guards = struct
    nmbs = [c for c in s1.clauses if c.kind == "nmbs_update"]
    for g in guards:
        cols = {c for a, c in re.findall(r"\b(\w+)\.(\w+)", g)
                if a == s1.t_alias}
        touching = [c for c in nmbs if set(c.assigns) & cols]
        if not touching:
            continue
        m = re.match(rf"^{s1.t_alias}\.(\w+) IS NULL$", g, re.IGNORECASE)
        if not m:
            return False
        col = m.group(1)
        for c in touching:
            expr = c.assigns.get(col)
            if expr is None or not _NONNULL_LITERAL.match(expr.strip()):
                return False
    return True


def apply_merge_fused_pair(target: DataFrame, source: DataFrame,
                           spec1: MergeSpec, spec2: MergeSpec
                           ) -> DataFrame:
    """The reference's two-pass SCD2 load (close then insert) computed
    from ONE full-outer join — the fusion ``scd2_merge`` has on the
    operator path, derived generically for statement texts that pass
    ``_fusable_close_insert``.

    Sequential semantics re-derived per joined row: pass 2 inserts a
    source row iff no post-pass-1 target row with its key still
    satisfies the ON's target-only guards. Matched rows evaluate the
    guards directly on their pass-1 CASE values; a window over the
    source keys (source-unique — the caller verifies) folds the group
    to one verdict. Unmatched-target rows never need the window: the
    fusability proof shows pass 1 cannot flip their guards to true.
    Both output branches project the SAME join, so the exchanges are
    computed once (ReusedExchange) and the load is one plan + one
    commit instead of two of each."""
    from pyspark.sql import Window

    t, s = spec1.t_alias, spec1.s_alias
    spec1 = _resolve_star_updates(spec1, target.columns, source.columns)
    out_cols = target.columns
    dtypes = {f.name: f.dataType for f in target.schema.fields}
    pairs, guards = _on_structure(spec1.on, t, s)
    src_keys = [sc for _, sc in pairs]
    m_clauses = [c for c in spec1.clauses if c.kind == "matched_update"]
    n_clauses = [c for c in spec1.clauses if c.kind == "nmbs_update"]

    tgt = target.withColumn("__t_present", F.lit(True)).alias(t)
    src = source.withColumn("__s_present", F.lit(True)).alias(s)
    joined = tgt.join(src, F.expr(spec1.on), "full_outer")
    t_here = F.coalesce(F.col(f"{t}.__t_present"), F.lit(False))
    s_here = F.coalesce(F.col(f"{s}.__s_present"), F.lit(False))
    matched = t_here & s_here

    def branch(clauses, base):
        w = None
        for i, c in enumerate(clauses):
            cnd = base & (F.expr(c.cond) if c.cond else F.lit(True))
            w = F.when(cnd, F.lit(i)) if w is None \
                else w.when(cnd, F.lit(i))
        return w.otherwise(F.lit(-1)) if w is not None else F.lit(-1)

    mbr = branch(m_clauses, matched)
    nbr = branch(n_clauses, t_here & ~s_here)

    def col_value(c: str):
        v = F.col(f"{t}.{c}")
        for i, cl in enumerate(m_clauses):
            if c in cl.assigns:
                v = F.when(mbr == i, F.expr(cl.assigns[c])).otherwise(v)
        for i, cl in enumerate(n_clauses):
            if c in cl.assigns:
                v = F.when(nbr == i, F.expr(cl.assigns[c])).otherwise(v)
        return v.cast(dtypes[c]).alias(c)

    post = joined.select(
        *[col_value(c) for c in out_cols],
        t_here.alias("__t"), s_here.alias("__s"),
        *[F.col(f"{s}.{c}").alias(f"__s_{c}") for c in source.columns])

    kept = post.filter(F.col("__t")).select(*out_cols)

    # pass-2 verdict per source row, over its key group (matched rows
    # carry their POST-update guard values; the lone unmatched-source
    # row trivially has no surviving guard row)
    def strip_t(expr: str) -> str:
        return _sub_code(rf"\b{t}\.(\w+)", r"\1", expr)

    post_g = F.lit(True)
    for g in guards:
        post_g = post_g & F.expr(strip_t(g))
    cand = post.filter(F.col("__s"))
    w = Window.partitionBy(*[F.col(f"__s_{k}") for k in src_keys])
    cand = (cand
            .withColumn("__blocked", F.max(
                F.when(F.col("__t") & post_g, 1).otherwise(0)).over(w))
            .withColumn("__rn", F.row_number().over(
                w.orderBy(F.lit(1)))))
    ins = cand.filter((F.col("__blocked") == 0) & (F.col("__rn") == 1))
    cl = spec2.clauses[0]

    def src_expr(expr: str) -> str:
        return _sub_code(rf"\b{s}\.(\w+)", r"__s_\1", expr)

    if cl.cond:
        ins = ins.filter(F.expr(src_expr(cl.cond)))
    if cl.insert_cols is None:          # INSERT *
        vals = {c: f"__s_{c}" for c in source.columns if c in dtypes}
    else:
        vals = {_strip_alias(c, (t, s)): src_expr(v)
                for c, v in zip(cl.insert_cols, cl.insert_vals)}
    unknown = set(vals) - set(out_cols)
    if unknown:
        raise ValueError(
            f"INSERT targets unknown columns: {sorted(unknown)}")
    proj = [(F.expr(vals[c]) if c in vals else F.lit(None))
            .cast(dtypes[c]).alias(c) for c in out_cols]
    return kept.unionByName(ins.select(*proj))


def _segments(s: str):
    """Split into (is_literal, text) segments on single-quoted string
    literals (escaped '' respected)."""
    out, i, n, last = [], 0, len(s), 0
    while i < n:
        if s[i] == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                elif s[j] == "'":
                    break
                else:
                    j += 1
            if last < i:
                out.append((False, s[last:i]))
            out.append((True, s[i:j + 1]))
            i = last = j + 1
        else:
            i += 1
    if last < n:
        out.append((False, s[last:]))
    return out


def _sub_code(pattern: str, repl: str, s: str, flags=0) -> str:
    """re.sub applied ONLY outside string literals."""
    return "".join(seg if lit else re.sub(pattern, repl, seg, flags=flags)
                   for lit, seg in _segments(s))


def _findall_code(pattern: str, s: str, flags=0) -> list:
    return [m for lit, seg in _segments(s) if not lit
            for m in re.findall(pattern, seg, flags)]


def _slots_taken_expr(ident: str, start: int, step: int):
    """Aggregate expression: identity SLOTS already consumed by a
    relation — the smallest k >= 0 with ``start + k*step`` strictly
    beyond every existing value in the step's direction.
    floor((edge - start)/|step|) + 1 in EXACT arithmetic: pmod makes
    the numerator divisible, so the decimal division is integral (a
    double-based F.floor would silently lose ids past 2^53). Floored
    at 0 (never generate before START WITH): an explicit seed outside
    the generated domain — the reference's -9 unknown member under the
    default (1,1) — must not pull generated ids below ``start``,
    matching Delta's sequence behavior. Negative INCREMENT BY tracks
    the table MIN instead of the MAX (the high-water mark runs
    downward)."""
    edge = (F.max(ident) if step > 0 else F.min(ident)) \
        .cast("decimal(38,0)")
    num = (edge - F.lit(start)) if step > 0 else (F.lit(start) - edge)
    b = abs(step)
    past = ((num - F.pmod(num, F.lit(b))) / F.lit(b)).cast("bigint") \
        + F.lit(1)
    return (F.greatest(F.coalesce(past, F.lit(0)), F.lit(0))
            .cast("bigint").alias("_slots"))


def _assign_identity(result: DataFrame, target: DataFrame, ident: str,
                     order_cols: list[str], start: int = 1,
                     step: int = 1,
                     base_slots: int | None = None,
                     seq_partitions: int | None = None) -> DataFrame:
    """Fill NULL ``ident`` values (merge-inserted rows) with a dense
    sequence of the identity domain ``start + k*step`` continuing past
    the pre-merge target's high-water mark — a 1-row broadcast riding
    dense_sequence's dynamic offset (zero extra driver jobs).

    ``base_slots``: a pre-RESERVED slot base (see
    ``ManagedTable.reserve_identity``) — the caller already owns
    ``[base_slots, base_slots + |need|)``, so the target aggregate is
    skipped entirely and the assignment is independent of the read
    snapshot (what makes a reserving INSERT blind and OCC-retryable)."""
    from .operators.sequence import dense_sequence
    ident_t = target.schema[ident].dataType
    have = result.filter(F.col(ident).isNotNull())
    need = result.filter(F.col(ident).isNull()).drop(ident)
    if base_slots is not None:
        # ``seq_partitions=1`` (set by callers that COUNTED the batch
        # and know it is small) takes dense_sequence's machinery-free
        # fast path: no persist, no localCheckpoint — nothing retained
        # in the block manager after the statement (ADVICE r10)
        seq = dense_sequence(need, order_cols, ident,
                             offset=int(base_slots),
                             num_partitions=seq_partitions)
    else:
        slots = target.agg(_slots_taken_expr(ident, start, step))
        seq = dense_sequence(need, order_cols, ident, offset_df=slots,
                             num_partitions=seq_partitions)
    val = F.lit(start) + (F.col(ident) - F.lit(1)) * F.lit(step)
    return have.unionByName(
        seq.withColumn(ident, val.cast(ident_t))
        .select(*result.columns))


def _assign_identity_reserved(tbl: ManagedTable, res: DataFrame,
                              snapshot: DataFrame, ident: str,
                              order_cols: list[str], info: dict,
                              pin: list) -> DataFrame:
    """Merge-side identity assignment routed through the SAME
    mutex-guarded ``reserve_identity`` high-water counter as INSERT
    reservations (ADVICE r10): a MERGE racing a reserved INSERT can
    never mint the same ids. The EXACT inserted-row count is reserved
    (ids stay dense across race-free sequential statements, so
    deterministic oracles are unchanged); the merge result persists
    for the count and the caller unpersists everything in ``pin``
    after the commit."""
    start_, step_ = _ident_params(info)
    cached = res.persist()
    pin.append(cached)
    n = cached.filter(F.col(ident).isNull()).count()
    floor = int(snapshot.agg(
        _slots_taken_expr(ident, start_, step_)).collect()[0]["_slots"])
    base = tbl.reserve_identity(ident, int(n), floor)
    return _assign_identity(cached, snapshot, ident, order_cols,
                            start_, step_, base_slots=base,
                            seq_partitions=1 if n <= 100_000 else None)


def _ident_params(info: dict) -> tuple[int, int]:
    """(START WITH, INCREMENT BY) recorded by the table's DDL —
    default (1, 1), Delta's default and the only spec the reference
    uses (01_Init.py:59)."""
    start = info.get("identity_start")
    step = info.get("identity_step")
    return (1 if start is None else int(start),
            1 if step is None else int(step))


# ------------------------------------------------------------- front-end ---

class LakehouseSql:
    """Execute the reference's DML statement texts against managed
    tables rooted under ``root`` (``db.table`` ->
    ``<root>/<db>/<table>``).

    Non-DML statements pass through to ``spark.sql`` untouched, so the
    reference's full notebook flow (temp views, SELECT checks, USE)
    runs against one entry point. ``now`` (optional ``'YYYY-MM-DD
    HH:MM:SS'``) rewrites ``current_timestamp()`` to a literal — the
    statement-text form of the injected-clock seam every merge operator
    has; leave it None for wall-clock semantics."""

    def __init__(self, spark: SparkSession, root: str,
                 now: str | None = None,
                 check_cardinality: bool = True,
                 stable_partitions: bool | None = None,
                 merge_schema: bool = False):
        self.spark = spark
        self.root = root
        self.now = now
        self.check_cardinality = check_cardinality
        # None = auto: partition-scope a MERGE only when the ON proves
        # matched pairs share a partition (tgt.p = src.p conjunct per
        # partition column). True = the caller asserts the
        # stable-partitions contract (rows never migrate partitions),
        # extending the route to key-only ONs. False = always rewrite.
        self.stable_partitions = stable_partitions
        # opt-in statement-text schema evolution (Delta's mergeSchema):
        # MERGE/INSERT may reference source columns absent from the
        # target; they are appended as nullable columns first.
        self.merge_schema = merge_schema
        # session context set by USE CATALOG / USE SCHEMA (every
        # reference notebook's preamble, e.g. 12_ETL_Bronze:50-52):
        # the catalog is recorded only (one file-backed catalog here);
        # the schema qualifies bare table names in later statements.
        self.current_catalog = "spark_catalog"
        self.current_db: str | None = None
        # persistent-view inlining re-entrancy guard (cycle refusal)
        self._resolving_views: set[str] = set()

    def table(self, name: str) -> ManagedTable:
        if "." not in name and self.current_db:
            name = f"{self.current_db}.{name}"
        rel = name.replace(".", os.sep)
        return ManagedTable(self.spark, os.path.join(self.root, rel))

    def _temp_view_exists(self, name: str) -> bool:
        """Does a SESSION-LOCAL temp view named ``name`` exist? One
        direct SessionCatalog lookup (~0.5 ms) instead of
        ``catalog.listTables()`` (~150+ ms: enumerates and converts
        every table/view descriptor through py4j) — this probe sits on
        the statement-binding hot path of every bare-name resolution
        (guide §5, driver overhead). Name matching is
        case-insensitive, same as the listing it replaced."""
        return self.spark._jsparkSession.sessionState().catalog() \
            .getTempView(name).isDefined()

    def _prep(self, statement: str) -> str:
        s = _norm(statement)
        if self.now is not None:
            s = re.sub(r"current_timestamp\(\)",
                       f"TIMESTAMP '{self.now}'", s, flags=re.IGNORECASE)
        return s

    def _source_df(self, source: str) -> DataFrame:
        if source.startswith("("):
            # subquery USING source: db.table references inside it
            # resolve to managed tables, same as top-level SELECTs
            return self.spark.sql(
                self._bind_managed_tables(source[1:-1]))
        t = self.table(source)
        if "." in source and t.exists():
            return t.read()
        if self.current_db and t.exists():
            # bare name under a USE SCHEMA context — but a session
            # temp view of the same name keeps resolution precedence
            if not self._temp_view_exists(source):
                return t.read()
        # persistent lakehouse views (CREATE VIEW) resolve by stored
        # text, AFTER session temp views (Spark's precedence)
        if "." in source or not self._temp_view_exists(source):
            views = self._views()
            text = views.get(self._qualify(source)) \
                or views.get(source)
            if text:
                return self.spark.sql(self._bind_managed_tables(text))
        return self.spark.table(source)

    def sql(self, statement: str, extra_meta: dict | None = None,
            source_df: DataFrame | None = None):
        """Dispatch one statement. DML returns the ManagedTable written
        (UPDATE/DELETE/INSERT/MERGE); everything else returns
        ``spark.sql``'s DataFrame. ``extra_meta`` rides the MERGE
        commit's metadata (the streaming sink's replay high-water
        mark); ``source_df`` overrides the MERGE's USING relation with
        an in-hand DataFrame — the foreachBatch case, where the
        micro-batch lives in a CLONED session whose temp views the
        outer session cannot see."""
        s = self._prep(statement)
        head = s.split(" ", 1)[0].upper()
        if head == "MERGE":
            return self._merge(s, extra_meta, source_df)
        if head == "UPDATE":
            tbl, assigns, where = parse_update(s)
            self._reject_always_identity(
                self._ddl_info(self.table(tbl)), assigns, "UPDATE SET")
            if _has_subquery(where):
                return self._dml_via_views(tbl, where, assigns=assigns)
            cond = F.expr(where) if where else F.lit(True)
            return self.table(tbl).update(cond, assigns)
        if head == "DELETE":
            tbl, where = parse_delete(s)
            if _has_subquery(where):
                return self._dml_via_views(tbl, where)
            cond = F.expr(where) if where else F.lit(True)
            return self.table(tbl).delete(cond)
        if head == "INSERT":
            return self._insert(s)
        if head == "COPY":
            return self._copy_into(s)
        if head in ("CREATE", "DROP", "ALTER"):
            handled = self._ddl(s)
            if handled is not None:
                return handled
        if head in ("SELECT", "WITH"):
            return self.spark.sql(self._bind_managed_tables(s))
        handled = self._utility(s)
        if handled is not None:
            return handled
        return self.spark.sql(statement)

    def _utility(self, s: str):
        """Delta's table-service SQL (the OPTIMIZE/VACUUM/RESTORE/
        DESCRIBE HISTORY command family), mapped 1:1 onto the managed
        table's maintenance methods."""
        m = re.match(r"^OPTIMIZE ([\w.]+)$", s, re.IGNORECASE)
        if m:
            return self.table(m.group(1)).compact()
        m = re.match(r"^OPTIMIZE ([\w.]+) ZORDER BY \(([^)]+)\)$",
                     s, re.IGNORECASE)
        if m:
            cols = tuple(c.strip() for c in m.group(2).split(","))
            return self.table(m.group(1)).optimize_layout(
                cols, zorder=len(cols) > 1)
        m = re.match(r"^OPTIMIZE ([\w.]+) WHERE (.+)$", s,
                     re.IGNORECASE | re.DOTALL)
        if m:
            # Delta's partition-targeted OPTIMIZE: the predicate must
            # select whole partitions; matching ones compact, the rest
            # hardlink forward (compact_partitions). Partition values
            # hive-decode from the LIVE rel paths, cast to the table's
            # partition-column types, and filter through the verbatim
            # predicate — a predicate referencing a non-partition
            # column fails analysis, matching Delta's restriction.
            t = self.table(m.group(1))
            if not t.partition_by:
                raise ValueError(
                    f"OPTIMIZE ... WHERE requires a partitioned table; "
                    f"{m.group(1)} is unpartitioned")
            import urllib.parse as _up
            from pyspark.sql import functions as F
            rels = sorted({os.path.dirname(rf) for rf in
                           t._files_rel(t.current_version())} - {""})
            if not rels:
                return t
            pb = list(t.partition_by)
            rows = []
            for rel in rels:
                vals = {}
                for seg in rel.split("/"):
                    k, _, val = seg.partition("=")
                    vals[k] = (None if val == "__HIVE_DEFAULT_PARTITION__"
                               else _up.unquote(val))
                rows.append((rel, *[vals.get(c) for c in pb]))
            types = {f.name: f.dataType for f in t.read().schema.fields}
            # explicit all-string schema: inference over the decoded
            # partition values fails outright when a column is None in
            # every live partition (__HIVE_DEFAULT_PARTITION__
            # throughout); the cast below re-types exactly as before
            df = self.spark.createDataFrame(
                rows, "__rel string, " + ", ".join(
                    f"`{c}` string" for c in pb))
            for c in pb:
                df = df.withColumn(c, F.col(c).cast(types[c]))
            matched = [r["__rel"] for r in
                       df.filter(F.expr(m.group(2)))
                       .select("__rel").collect()]
            if matched:
                # Delta's OPTIMIZE bin-packs small files toward few
                # large ones; at this scale that is one file per
                # compacted partition
                t.compact_partitions(matched, target_files=1)
            return t
        m = re.match(r"^VACUUM ([\w.]+)"
                     r"(?: RETAIN (\d+) (VERSIONS?|HOURS?))?"
                     r"( DRY RUN)?$",
                     s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            dry = bool(m.group(4))
            if m.group(3) and m.group(3).upper().startswith("HOUR"):
                # Delta's syntax: time-based horizon (always keeps the
                # current version via retain_last=1)
                out = t.vacuum(retain_last=1,
                               retain_hours=float(m.group(2)),
                               dry_run=dry)
            else:
                out = t.vacuum(retain_last=int(m.group(2) or 1),
                               dry_run=dry)
            if dry:
                # Delta's DRY RUN returns the would-be-deleted paths
                return self.spark.createDataFrame(
                    [(os.path.join(t.path, p),) for p in out],
                    "path string")
            return t
        m = re.match(r"^RESTORE TABLE ([\w.]+) TO VERSION AS OF (\d+)$",
                     s, re.IGNORECASE)
        if m:
            return self.table(m.group(1)).restore(int(m.group(2)))
        m = re.match(r"^RESTORE TABLE ([\w.]+) TO TIMESTAMP AS OF "
                     r"'([^']+)'$", s, re.IGNORECASE)
        if m:
            # Delta's timestamp restore: newest commit at/before the ts
            import datetime as _dt
            t = self.table(m.group(1))
            ts = _dt.datetime.fromisoformat(m.group(2)).timestamp()
            cand = [c["version"] for c in t.history()
                    if (c.get("ts") or float("-inf")) <= ts]
            if not cand:
                raise FileNotFoundError(
                    f"no snapshot of {m.group(1)} at or before "
                    f"'{m.group(2)}'")
            return t.restore(max(cand))
        m = re.match(r"^CREATE BLOOMFILTER INDEX ON TABLE ([\w.]+) "
                     r"FOR COLUMNS\s*\((.+)\)$", s,
                     re.IGNORECASE | re.DOTALL)
        if m:
            # Databricks' bloom-filter index DDL, mapped onto the
            # per-file Bloom manifests: OPTIONS (fpp, numItems) size
            # the filter with the standard formulas m = -n·ln p/ln²2,
            # k = m/n·ln 2 (m rounded up to whole 64-bit words — the
            # manifest stores word arrays).
            import math
            t = self.table(m.group(1))
            for spec in _split_top(m.group(2)):
                sm = re.match(r"^(\w+)(?:\s+OPTIONS\s*\((.+)\))?$",
                              spec.strip(), re.IGNORECASE | re.DOTALL)
                if not sm:
                    raise ValueError(
                        f"cannot parse bloom index column spec: "
                        f"{spec.strip()!r}")
                fpp, n_items = 0.1, 1024
                for pair in _split_top(sm.group(2) or ""):
                    if not pair.strip():
                        continue
                    k, _, val = pair.partition("=")
                    k = k.strip().strip("'\"").lower()
                    val = val.strip().strip("'\"")
                    if k == "fpp":
                        fpp = float(val)
                    elif k == "numitems":
                        n_items = int(val)
                    else:
                        raise ValueError(
                            f"unknown bloom index option {k!r}")
                m_bits = math.ceil(-n_items * math.log(fpp)
                                   / (math.log(2) ** 2))
                m_bits = max(64, ((m_bits + 63) // 64) * 64)
                k_hash = max(1, round(m_bits / n_items * math.log(2)))
                t.analyze_bloom(sm.group(1), m_bits=m_bits, k=k_hash)
            return t
        m = re.match(r"^DROP BLOOMFILTER INDEX ON TABLE ([\w.]+)"
                     r"(?: FOR COLUMNS\s*\(([^)]+)\))?$",
                     s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            want = ({c.strip() for c in m.group(2).split(",")}
                    if m.group(2) else None)
            for fn in list(os.listdir(t.path)):
                if not (fn.startswith("_bloom_") and fn.endswith(".json")):
                    continue
                if want is not None:
                    with open(os.path.join(t.path, fn)) as f:
                        if json.load(f).get("column") not in want:
                            continue
                os.remove(os.path.join(t.path, fn))
            return t
        m = re.match(r"^DESCRIBE HISTORY ([\w.]+)$", s, re.IGNORECASE)
        if m:
            hist = self.table(m.group(1)).history()
            return self.spark.createDataFrame(
                [(int(h["version"]), str(h.get("op", "")),
                  float(h.get("ts", 0.0))) for h in hist],
                "version bigint, operation string, timestamp double")
        m = re.match(r"^ANALYZE TABLE ([\w.]+) COMPUTE STATISTICS"
                     r"(?: FOR COLUMNS ([\w, ]+))?$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            cols = tuple(c.strip() for c in m.group(2).split(",")) \
                if m.group(2) else tuple(
                    f.name for f in t.read().schema.fields
                    if f.dataType.simpleString().startswith(
                        ("int", "bigint", "double", "float", "date",
                         "timestamp", "decimal", "smallint")))
            t.analyze(cols)
            return t
        m = re.match(r"^SHOW PARTITIONS ([\w.]+)$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            if not t.partition_by:
                raise ValueError(
                    f"{m.group(1)} is not a partitioned table")
            # live-set derived (log-native append chains span dirs)
            rels = sorted({os.path.dirname(rf) for rf in
                           t._files_rel(t.current_version())} - {""})
            return self.spark.createDataFrame(
                [(r,) for r in rels], "partition string")
        m = re.match(r"^TRUNCATE TABLE ([\w.]+)$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            return t.overwrite(t.read().limit(0), operation="TRUNCATE")
        m = re.match(r"^SHOW TABLES(?: (?:IN|FROM) (\w+))?$", s,
                     re.IGNORECASE)
        if m:
            # an explicit IN/FROM wins; else the USE SCHEMA context
            # (Databricks lists the current schema); else every db
            want = m.group(1) or self.current_db
            rows = []
            for db in sorted(os.listdir(self.root)) \
                    if os.path.isdir(self.root) else []:
                if want and db != want:
                    continue
                dbdir = os.path.join(self.root, db)
                if not os.path.isdir(dbdir):
                    continue
                for name in sorted(os.listdir(dbdir)):
                    if ManagedTable(
                            self.spark,
                            os.path.join(dbdir, name)).exists():
                        rows.append((db, name))
            return self.spark.createDataFrame(
                rows or [], "namespace string, tableName string")
        m = re.match(r"^DESCRIBE DETAIL ([\w.]+)$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            if not t.exists():
                raise FileNotFoundError(f"no such table: {m.group(1)}")
            ver = t.current_version()
            n_files = len(t._files_rel(ver))
            return self.spark.createDataFrame(
                [("parquet", t.path, int(n_files),
                  list(t.partition_by or []), int(ver),
                  dict(t.properties()))],
                "format string, location string, numFiles bigint, "
                "partitionColumns array<string>, version bigint, "
                "properties map<string,string>")
        m = re.match(r"^SHOW TBLPROPERTIES ([\w.]+)$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            if not t.exists():
                raise FileNotFoundError(f"no such table: {m.group(1)}")
            return self.spark.createDataFrame(
                sorted(t.properties().items()) or
                [("", "")], "key string, value string").filter("key <> ''")
        m = re.match(r"^SHOW CREATE TABLE ([\w.]+)$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            if not t.exists():
                raise FileNotFoundError(f"no such table: {m.group(1)}")
            info = self._ddl_info(t)
            ident, pks = info.get("identity"), info.get(
                "primary_key", [])
            nns = info.get("not_null", [])
            fks = {c: (rt, rc)
                   for c, rt, rc in info.get("foreign_keys", [])}
            cols = []
            for f in t.read().schema.fields:
                mods = ""
                if f.name == ident:
                    kind = "ALWAYS" if info.get("identity_always") \
                        else "BY DEFAULT"
                    st_, sp_ = _ident_params(info)
                    mods += (f" GENERATED {kind} AS IDENTITY "
                             f"(START WITH {st_} INCREMENT BY {sp_})")
                if f.name in pks:
                    mods += " PRIMARY KEY"
                if f.name in nns:
                    mods += " NOT NULL"
                if f.name in fks:
                    rt, rc = fks[f.name]
                    mods += f" REFERENCES {rt}({rc})"
                cols.append(
                    f"  {f.name} {f.dataType.simpleString().upper()}"
                    f"{mods}")
            ddl = (f"CREATE TABLE {m.group(1)} (\n"
                   + ",\n".join(cols) + "\n)")
            if t.partition_by:
                ddl += (" PARTITIONED BY ("
                        + ", ".join(t.partition_by) + ")")
            return self.spark.createDataFrame(
                [(ddl,)], "createtab_stmt string")
        m = re.match(r"^DESCRIBE (?:TABLE )?([\w.]+)$", s, re.IGNORECASE)
        if m and self.table(m.group(1)).exists():
            schema = self.table(m.group(1)).read().schema
            return self.spark.createDataFrame(
                [(f.name, f.dataType.simpleString(), None)
                 for f in schema.fields],
                "col_name string, data_type string, comment string")
        # catalog/schema context (the notebooks' preamble — SHOW
        # CATALOGS then USE CATALOG/USE SCHEMA, 12_ETL_Bronze:35-52 and
        # identically in 01/22/33/34). One file-backed catalog exists,
        # so SHOW CATALOGS reports it and USE CATALOG records the name;
        # USE SCHEMA must name an existing database under the root and
        # makes bare table names resolve to it.
        if re.match(r"^SHOW CATALOGS$", s, re.IGNORECASE):
            return self.spark.createDataFrame(
                [(self.current_catalog,)], "catalog string")
        m = re.match(r"^USE CATALOG (\w+)$", s, re.IGNORECASE)
        if m:
            self.current_catalog = m.group(1)
            return self.spark.createDataFrame([], "result string")
        m = re.match(r"^USE (?:SCHEMA |DATABASE )?(\w+)$", s,
                     re.IGNORECASE)
        if m:
            db = m.group(1)
            if not os.path.isdir(os.path.join(self.root, db)):
                raise ValueError(f"schema not found: {db}")
            self.current_db = db
            return self.spark.createDataFrame([], "result string")
        if re.match(r"^SHOW (?:DATABASES|SCHEMAS)$", s, re.IGNORECASE):
            dbs = sorted(
                d for d in os.listdir(self.root)
                if os.path.isdir(os.path.join(self.root, d))) \
                if os.path.isdir(self.root) else []
            return self.spark.createDataFrame(
                [(d,) for d in dbs], "namespace string")
        return None

    def _bind_managed_tables(self, s: str) -> str:
        """Make ``SELECT ... FROM db.table`` read managed tables (the
        reference's ad-hoc check queries, 23_Testing_SCD2.py:39,49):
        every ``db.tbl`` token naming an EXISTING managed table under
        the root is registered as a temp view and the reference
        rewritten to it. Alias-qualified column refs never collide —
        they don't name managed directories."""
        out = self._inline_views(s)
        # Delta's CDF table-valued function first (its quoted table
        # name is a string literal, invisible to the code-only
        # rewrites below): SELECT ... FROM table_changes('t', s[, e])
        # binds the commit-log-driven per-commit feed, classified on
        # the table's recorded PRIMARY KEY when one exists. Bounds are
        # versions (bare integers) or timestamps (quoted, Delta's
        # spelling): a starting timestamp resolves to the EARLIEST
        # commit at/after it, an ending one to the NEWEST at/before.
        def _bind_tvf(m):
            tbl, s_num, s_ts, e_num, e_ts = m.groups()
            t = self.table(self._qualify(tbl))
            if not t.exists():
                return m.group(0)
            import datetime as _dt
            if s_num is not None:
                start = int(s_num)
            else:
                start = t.version_at_or_after(
                    _dt.datetime.fromisoformat(s_ts).timestamp())
            if e_num is not None:
                end = int(e_num)
            elif e_ts is not None:
                ets = _dt.datetime.fromisoformat(e_ts).timestamp()
                cand = [c["version"] for c in t.history()
                        if (c.get("ts") or float("-inf")) <= ets]
                if not cand:
                    raise FileNotFoundError(
                        f"no commit of {tbl} at or before '{e_ts}'")
                end = max(cand)
            else:
                end = None
            keys = tuple(self._ddl_info(t).get("primary_key") or ()) \
                or None
            df = t.table_changes(start, end, keys=keys)
            view = (f"__lake_cdf__{tbl.replace('.', '__')}"
                    f"__{start}_{'head' if end is None else end}")
            df.createOrReplaceTempView(view)
            return view
        out = re.sub(
            r"\btable_changes\(\s*'([\w.]+)'\s*,\s*(?:(\d+)|'([^']+)')"
            r"\s*(?:,\s*(?:(\d+)|'([^']+)'))?\s*\)",
            _bind_tvf, out, flags=re.IGNORECASE)
        # time travel first (Delta's SELECT syntax), so the generic
        # rewrite below doesn't strand the AS OF suffix; all matching
        # and rewriting happens OUTSIDE string literals only
        for db, tb, ver in set(_findall_code(
                r"\b(\w+)\.(\w+) VERSION AS OF (\d+)", out,
                re.IGNORECASE)):
            t = self.table(f"{db}.{tb}")
            if t.exists():
                view = f"__lake_{db}__{tb}__v{ver}"
                t.read(version=int(ver)).createOrReplaceTempView(view)
                out = _sub_code(
                    rf"\b{db}\.{tb} VERSION AS OF {ver}\b", view, out,
                    flags=re.IGNORECASE)
        for db, tb, ts in set(re.findall(
                r"\b(\w+)\.(\w+) TIMESTAMP AS OF '([^']+)'", out,
                re.IGNORECASE)):  # the quoted ts IS part of the syntax
            t = self.table(f"{db}.{tb}")
            if t.exists():
                import datetime as _dt
                epoch = _dt.datetime.fromisoformat(ts).timestamp()
                view = f"__lake_{db}__{tb}__ts{int(epoch)}"
                t.read_as_of(epoch).createOrReplaceTempView(view)
                out = re.sub(
                    rf"\b{db}\.{tb} TIMESTAMP AS OF '{re.escape(ts)}'",
                    view, out, flags=re.IGNORECASE)
        for db, tb in set(_findall_code(r"\b(\w+)\.(\w+)\b", out)):
            name = f"{db}.{tb}"
            t = self.table(name)
            if t.exists():
                view = f"__lake_{db}__{tb}"
                t.read().createOrReplaceTempView(view)
                out = _sub_code(rf"\b{db}\.{tb}\b", view, out)
        # bare FROM/JOIN names under a USE SCHEMA context (Databricks
        # resolution order preserved: CTE names and session temp views
        # win over the schema's tables)
        if self.current_db:
            ctes = {n.lower() for n in _findall_code(
                r"\b(?:WITH|,)\s+(\w+)\s+AS\s*\(", out, re.IGNORECASE)}
            for kw, tb in set(_findall_code(
                    r"\b(FROM|JOIN)\s+(\w+)\b(?!\s*\()", out,
                    re.IGNORECASE)):
                if tb.lower() in ctes or self._temp_view_exists(tb):
                    continue
                t = self.table(tb)     # current_db-qualified
                if t.exists():
                    view = f"__lake_{self.current_db}__{tb}"
                    t.read().createOrReplaceTempView(view)
                    out = _sub_code(
                        rf"\b(FROM|JOIN)\s+{tb}\b", rf"\1 {view}", out,
                        flags=re.IGNORECASE)
        return out

    # ----------------------------------------------------------- views --
    _CREATE_VIEW_RE = re.compile(
        r"^CREATE (?P<replace>OR REPLACE )?"
        r"(?P<scope>GLOBAL TEMP(?:ORARY)? |TEMP(?:ORARY)? )?VIEW "
        r"(?P<ine>IF NOT EXISTS )?(?P<name>[\w.]+) AS "
        r"(?=SELECT |WITH )", re.IGNORECASE)
    _DROP_VIEW_RE = re.compile(
        r"^DROP VIEW (?P<ie>IF EXISTS )?(?P<name>[\w.]+)$",
        re.IGNORECASE)

    @property
    def _views_file(self) -> str:
        return os.path.join(self.root, "_views.json")

    def _views(self) -> dict:
        import json as _json
        try:
            with open(self._views_file) as f:
                return _json.load(f)
        except FileNotFoundError:
            return {}

    def _qualify(self, name: str) -> str:
        if "." not in name and self.current_db:
            return f"{self.current_db}.{name}"
        return name

    def _create_view(self, s: str, m) -> DataFrame:
        """``CREATE [OR REPLACE] [TEMP] VIEW name AS SELECT ...`` —
        the pure-SQL spelling of the reference's temp-view bridge
        (22_ETL_Silver_PySpark.py:58's createOrReplaceTempView).
        TEMP views register in the Spark session; persistent views
        store their TEXT under the lakehouse root (``_views.json``)
        and are inlined by the binder in any later statement — they
        survive a restart because the definition, not the data, is
        durable (standard view semantics)."""
        import json as _json
        body = s[m.end():]
        name = m.group("name")
        bound = self._bind_managed_tables(body)
        df = self.spark.sql(bound)       # analyzes: validates the text
        if m.group("scope"):             # TEMP / GLOBAL TEMP
            if "." in name:
                raise ValueError(
                    f"temp view name cannot be qualified: {name}")
            if m.group("scope").upper().startswith("GLOBAL"):
                df.createOrReplaceGlobalTempView(name)
            else:
                if not m.group("replace") and self._temp_view_exists(name):
                    if m.group("ine"):
                        return df
                    raise ValueError(f"temp view exists: {name}")
                df.createOrReplaceTempView(name)
            return df
        qname = self._qualify(name)
        if self.table(qname).exists():
            raise ValueError(f"{qname} is a managed TABLE")
        views = self._views()
        if qname in views and not m.group("replace"):
            if m.group("ine"):
                return df
            raise ValueError(f"view exists: {qname}")
        # store the ORIGINAL text (with the clock seam already
        # applied by _prep): binding happens at every read, so the
        # view always reflects the CURRENT table state
        views[qname] = body
        os.makedirs(self.root, exist_ok=True)
        tmp = self._views_file + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(views, f)
        os.replace(tmp, self._views_file)
        return df

    def _inline_views(self, s: str) -> str:
        """Rewrite references to stored persistent views into temp
        views materialized from their (recursively bound) texts."""
        views = self._views()
        if not views:
            return s
        out = s
        for qname, text in views.items():
            if qname in self._resolving_views:
                continue
            db, _, tb = qname.partition(".")
            pats = [rf"\b{re.escape(qname)}\b"]
            if self.current_db and db == self.current_db:
                # bare reference under the matching USE SCHEMA context
                pats.append(rf"\b(?:FROM|JOIN)\s+{re.escape(tb)}\b")
            hit = any(_findall_code(p, out, re.IGNORECASE)
                      for p in pats)
            if not hit:
                continue
            view = f"__lakeview_{db}__{tb}"
            self._resolving_views.add(qname)
            try:
                self.spark.sql(self._bind_managed_tables(text)) \
                    .createOrReplaceTempView(view)
            finally:
                self._resolving_views.discard(qname)
            out = _sub_code(rf"\b{re.escape(qname)}\b", view, out,
                            flags=re.IGNORECASE)
            if self.current_db and db == self.current_db:
                out = _sub_code(
                    rf"\b(FROM|JOIN)\s+{re.escape(tb)}\b",
                    rf"\1 {view}", out, flags=re.IGNORECASE)
        return out

    # ------------------------------------------------------------- DDL --
    def _ddl(self, s: str):
        """CREATE/DROP DATABASE|TABLE|VIEW against the managed root
        (reference 01_Init.py:27-29,38-40,46-355). Returns None for
        CREATE shapes this front-end does not own so the caller can
        fall through to spark.sql."""
        import shutil
        m = re.match(r"^CREATE TABLE (?P<ine>IF NOT EXISTS )?"
                     r"(?P<dest>[\w.]+) SHALLOW CLONE (?P<src>[\w.]+)"
                     r"(?: VERSION AS OF (?P<ver>\d+))?$", s, re.IGNORECASE)
        if m:
            # Delta's zero-copy SHALLOW CLONE, optionally at a version
            src = self.table(self._qualify(m.group("src")))
            if not src.exists():
                raise FileNotFoundError(
                    f"no such table: {m.group('src')}")
            dest = self.table(self._qualify(m.group("dest")))
            if dest.exists():
                if m.group("ine"):
                    return dest
                raise FileExistsError(
                    f"table exists: {m.group('dest')}")
            ver = int(m.group("ver")) if m.group("ver") else None
            return src.clone(dest.path, version=ver)
        m = self._CREATE_VIEW_RE.match(s)
        if m:
            return self._create_view(s, m)
        m = self._DROP_VIEW_RE.match(s)
        if m:
            import json as _json
            name = m.group("name")
            qname = self._qualify(name)
            views = self._views()
            if qname in views:
                views.pop(qname)
                tmp = self._views_file + ".tmp"
                with open(tmp, "w") as f:
                    _json.dump(views, f)
                os.replace(tmp, self._views_file)
                return qname
            if "." not in name and self._temp_view_exists(name):
                self.spark.catalog.dropTempView(name)
                return name
            if not m.group("ie"):
                raise ValueError(f"no such view: {name}")
            return name
        m = _CREATE_DB_RE.match(s)
        if m:
            db = os.path.join(self.root, m.group("db").replace(".", os.sep))
            if os.path.isdir(db) and not m.group("ine"):
                raise ValueError(f"database exists: {m.group('db')}")
            os.makedirs(db, exist_ok=True)
            return db
        m = _DROP_DB_RE.match(s)
        if m:
            db = os.path.join(self.root, m.group("db").replace(".", os.sep))
            if os.path.isdir(db):
                if os.listdir(db) and not m.group("cascade"):
                    raise ValueError(
                        f"database {m.group('db')} is not empty "
                        f"(use CASCADE)")
                shutil.rmtree(db)
            elif not m.group("ie"):
                raise ValueError(f"no such database: {m.group('db')}")
            return db
        m = _DROP_TABLE_RE.match(s)
        if m:
            t = self.table(m.group("tbl"))
            if t.exists():
                shutil.rmtree(t.path)
            elif not m.group("ie"):
                raise ValueError(f"no such table: {m.group('tbl')}")
            return t.path
        if _CREATE_TABLE_RE.match(s):
            return self._create_table(s)
        # post-CTAS constraint DDL (reference 01_Init.py:236-239): the
        # calendar dim gets its NOT NULL + PRIMARY KEY after creation
        m = re.match(r"^ALTER TABLE ([\w.]+) ALTER COLUMN (\w+) "
                     r"SET NOT NULL$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            col = m.group(2)
            t.add_constraint(f"nn_{col}", f"{col} IS NOT NULL")
            self._update_ddl_info(t, "not_null", col)
            return t
        m = re.match(r"^ALTER TABLE ([\w.]+) DROP CONSTRAINT (\w+)$",
                     s, re.IGNORECASE)
        if m:
            return self.table(m.group(1)).drop_constraint(m.group(2))
        m = re.match(r"^ALTER TABLE ([\w.]+) SET TBLPROPERTIES\s*"
                     r"\((.+)\)$", s, re.IGNORECASE)
        if m:
            # Delta TBLPROPERTIES: durable key-value table config —
            # notably delta.enableChangeDataFeed, which makes DML
            # writers RECORD their change rows (cdc files) so
            # table_changes() serves them with zero diff compute
            t = self.table(m.group(1))
            # pair-at-a-time parse with proper quoted literals: values
            # may contain commas/parens/spaces inside quotes, and an
            # unparsable pair must raise, not be silently dropped
            pairs_src = m.group(2)
            pair_re = re.compile(
                r"\s*(?:'([^']*)'|([\w.]+))\s*=\s*"
                r"(?:'([^']*)'|([^,'=\s][^,']*?))\s*(?:,|$)")
            pos = 0
            while pos < len(pairs_src):
                pm = pair_re.match(pairs_src, pos)
                if not pm or pm.end() == pos:
                    raise ValueError(
                        f"cannot parse TBLPROPERTIES pair at: "
                        f"{pairs_src[pos:]!r}")
                key = pm.group(1) if pm.group(1) is not None \
                    else pm.group(2)
                val = pm.group(3) if pm.group(3) is not None \
                    else pm.group(4).strip()
                t.set_property(key, val)
                pos = pm.end()
            return t
        m = re.match(r"^ALTER TABLE ([\w.]+) ADD PRIMARY KEY "
                     r"\(([^)]+)\)$", s, re.IGNORECASE)
        if m:
            # informational, like Databricks PK (SURVEY §2.8 D5) —
            # recorded in the ddl info; uniqueness checkable via
            # catalog.validate_unique
            t = self.table(m.group(1))
            for col in (c.strip() for c in m.group(2).split(",")):
                self._update_ddl_info(t, "primary_key", col)
            return t
        m = re.match(r"^ALTER TABLE ([\w.]+) ADD CONSTRAINT (\w+) "
                     r"CHECK \((.+)\)$", s, re.IGNORECASE)
        if m:
            return self.table(m.group(1)).add_constraint(
                m.group(2), m.group(3))
        # explicit schema-evolution DDL (Delta's ALTER TABLE column
        # family). METADATA-ONLY since round 8 (the Delta/Iceberg
        # contract: a column add on a 100 TB table costs O(1), not a
        # table rewrite): each statement publishes a column_map commit
        # that reuses the parent's data dir untouched;
        # ManagedTable.read reconciles physical -> logical at scan
        # time, and the next data-writing commit materializes.
        m = re.match(r"^ALTER TABLE ([\w.]+) ADD COLUMNS? "
                     r"(?P<defs>.+)$", s, re.IGNORECASE)
        if m and not m.group("defs").upper().startswith(
                ("CONSTRAINT", "PRIMARY")):
            t = self.table(m.group(1))
            cmap = t.identity_column_map()
            have = {logical for _, logical, _ in cmap}
            defs = m.group("defs").strip()
            if defs.startswith("(") and _matching_paren(defs) \
                    == len(defs) - 1:
                defs = defs[1:-1]
            for coldef in _split_top(defs):
                name, _, typ = coldef.strip().partition(" ")
                typ = re.sub(r" COMMENT '(?:[^']|'')*'$", "", typ,
                             flags=re.IGNORECASE)
                if not typ:
                    raise ValueError(
                        f"cannot parse column definition: {coldef!r}")
                if name in have:
                    raise ValueError(f"column exists: {name}")
                have.add(name)
                cmap.append([None, name, typ.strip()])
            return t.evolve_schema(cmap, operation="ADD COLUMNS")
        m = re.match(r"^ALTER TABLE ([\w.]+) RENAME COLUMN (\w+) "
                     r"TO (\w+)$", s, re.IGNORECASE)
        if m:
            import json as _json
            t = self.table(m.group(1))
            old, new = m.group(2), m.group(3)
            if old in (t.partition_by or ()):
                raise ValueError(
                    f"cannot rename partition column {old!r}")
            cmap = t.identity_column_map()
            names = [logical for _, logical, _ in cmap]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column exists: {new!r}")
            for e in cmap:
                if e[1] == old:
                    e[1] = new
            # CHECK constraints follow the rename (token rewrite
            # outside string literals) BEFORE the metadata commit so
            # future write-validation runs the new expressions;
            # restored if the commit fails
            cons = t.constraints()
            if cons:
                remapped = {
                    (f"nn_{new}" if n == f"nn_{old}" else n):
                        _sub_code(rf"\b{old}\b", new, e)
                    for n, e in cons.items()}
                with open(t._constraints_file, "w") as f:
                    _json.dump(remapped, f)
            try:
                t.evolve_schema(cmap, operation="RENAME COLUMN")
            except Exception:
                if cons:
                    with open(t._constraints_file, "w") as f:
                        _json.dump(cons, f)
                raise
            self._remap_ddl_info(t, old, new)
            return t
        m = re.match(r"^ALTER TABLE ([\w.]+) DROP COLUMNS? "
                     r"\(?([\w, ]+?)\)?$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            cols = [c.strip() for c in m.group(2).split(",")]
            info = self._ddl_info(t)
            cmap = t.identity_column_map()
            names = {logical for _, logical, _ in cmap}
            for c in cols:
                if c not in names:
                    raise ValueError(f"no such column: {c!r}")
                if c in (t.partition_by or ()):
                    raise ValueError(
                        f"cannot drop partition column {c!r}")
                if c == info.get("identity"):
                    raise ValueError(
                        f"cannot drop identity column {c!r}")
                for cname, expr in t.constraints().items():
                    if re.search(rf"\b{c}\b", expr):
                        raise ValueError(
                            f"constraint {cname!r} references {c!r}; "
                            f"drop it first")
            cmap = [e for e in cmap if e[1] not in cols]
            t.evolve_schema(cmap, operation="DROP COLUMNS")
            for c in cols:
                self._remap_ddl_info(t, c, None)
            return t
        return None

    def _remap_ddl_info(self, tbl: ManagedTable, old: str,
                        new: str | None) -> None:
        """Rename (or, with ``new=None``, remove) a column across the
        recorded DDL constraints (identity / PK / NOT NULL / FK)."""
        import json as _json
        info = self._ddl_info(tbl)
        if not info:
            return
        if info.get("identity") == old:
            info["identity"] = new
        for key in ("primary_key", "not_null"):
            vals = info.get(key) or []
            info[key] = [new if c == old else c for c in vals
                         if not (c == old and new is None)]
        fks = info.get("foreign_keys") or []
        info["foreign_keys"] = [
            [new if c == old else c, rt, rc] for c, rt, rc in fks
            if not (c == old and new is None)]
        with open(os.path.join(tbl.path, "_ddl_info.json"), "w") as f:
            _json.dump(info, f)

    def _update_ddl_info(self, tbl: ManagedTable, key: str,
                         col: str) -> None:
        import json as _json
        info = self._ddl_info(tbl)
        info.setdefault("identity", info.get("identity"))
        vals = info.setdefault(key, [])
        if col not in vals:
            vals.append(col)
        with open(os.path.join(tbl.path, "_ddl_info.json"), "w") as f:
            _json.dump(info, f)

    def _create_table(self, s: str) -> ManagedTable:
        import json as _json
        tbl_name, schema_ddl, info, or_replace, ine, ctas, pb = \
            parse_create_table(s)
        tbl = self.table(tbl_name)
        replacing = tbl.exists()
        if replacing and not or_replace:
            if ine:
                return tbl
            raise ValueError(f"table exists: {tbl_name}")
        old_cfg, cfg_written = None, False
        if (pb or replacing) and (
                tuple(tbl.partition_by or ()) != pb
                or (replacing and tbl.generated_cols)):
            # rewrite the config when the layout changes OR when a
            # replace must clear stale GENERATED AS expressions — a
            # same-layout replacement otherwise keeps running the old
            # table's generated columns against a new schema they may
            # not reference (inconsistent with the _ddl_info/
            # _constraints stash-and-clear below)
            # new table with a layout, or OR REPLACE with a CHANGED
            # layout — including replacing a partitioned table with an
            # unpartitioned definition (pb = ()). Transactional and
            # history-preserving (Delta's CREATE OR REPLACE keeps
            # history; this repo's commit JSONs are never deleted).
            # Snapshot dirs are layout-independent on read (hive dirs
            # re-attach old partition columns), so the replacement is
            # just the next commit under a rewritten _table_config —
            # swapped BEFORE the write and restored if it fails, so a
            # failing CTAS leaves the table exactly as it was.
            cfg_file = os.path.join(tbl.path, "_table_config.json")
            if os.path.exists(cfg_file):
                with open(cfg_file) as f:
                    old_cfg = f.read()
            tmp = cfg_file + ".tmp"
            with open(tmp, "w") as f:
                _json.dump({"partition_by": list(pb),
                            "generated_cols": {}}, f)
            os.replace(tmp, cfg_file)
            cfg_written = True
            rel = tbl_name.replace(".", os.sep)
            tbl = ManagedTable(self.spark, os.path.join(self.root, rel))
        df = self.spark.sql(self._bind_managed_tables(ctas)) if ctas \
            else empty_local_df(self.spark, schema_ddl)
        # a replaced table is a NEW definition: stale identity/PK/FK
        # info and CHECK constraints from the old one must neither
        # validate the replacement write nor survive into it
        # (history/time-travel still does). Stashed and restored if
        # the write fails — the table stays exactly as it was.
        stash = {}
        if replacing:
            for fn in ("_ddl_info.json", "_constraints.json"):
                p = os.path.join(tbl.path, fn)
                if os.path.exists(p):
                    with open(p) as f:
                        stash[p] = f.read()
                    os.remove(p)
        try:
            tbl.overwrite(df, operation="CREATE OR REPLACE TABLE"
                          if replacing else "CREATE TABLE")
        except Exception:
            for p, content in stash.items():
                with open(p, "w") as f:
                    f.write(content)
            if cfg_written:
                cfg_file = os.path.join(tbl.path, "_table_config.json")
                if old_cfg is not None:
                    tmp = cfg_file + ".tmp"
                    with open(tmp, "w") as f:
                        f.write(old_cfg)
                    os.replace(tmp, cfg_file)
                else:
                    os.remove(cfg_file)
            raise
        if any(info.get(k) for k in ("identity", "primary_key",
                                     "not_null", "foreign_keys")):
            with open(os.path.join(tbl.path, "_ddl_info.json"),
                      "w") as f:
                _json.dump(info, f)
        # NOT NULL modifiers become ENFORCED constraints (the managed
        # table validates every write path in one scan and aborts
        # atomically) — stricter than Databricks' informational PK but
        # exactly what NOT NULL means there
        for col in info.get("not_null", []):
            tbl.add_constraint(f"nn_{col}", f"{col} IS NOT NULL")
        return tbl

    def _ddl_info(self, tbl: ManagedTable) -> dict:
        import json as _json
        p = os.path.join(tbl.path, "_ddl_info.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.load(f)

    def _reject_always_identity(self, info: dict, cols, what: str):
        """``GENERATED ALWAYS AS IDENTITY`` columns never accept
        user-supplied values (Databricks raises; ``BY DEFAULT`` accepts
        — the reference relies on exactly this split: silver/fact
        surrogates are ALWAYS, the ``-9`` unknown-member seeds go into
        BY DEFAULT dims, 01_Init.py:59 vs :246,:265-321)."""
        ident = info.get("identity")
        if ident and info.get("identity_always") and ident in cols:
            raise ValueError(
                f"{what} provides a value for GENERATED ALWAYS AS "
                f"IDENTITY column {ident!r}; remove it from the "
                f"statement (BY DEFAULT identities accept explicit "
                f"values, ALWAYS ones never do)")

    def validate_foreign_keys(self, table_name: str) -> dict:
        """Assert the column-level ``REFERENCES`` constraints recorded
        by the typed DDL (reference 01_Init.py:336-341): for each FK,
        the count of rows whose non-NULL key misses the referenced
        table (anti-join — catalog.validate_fk's pattern against
        managed tables). All-zero = integrity holds."""
        tbl = self.table(table_name)
        out = {}
        for col, ref_tbl, ref_col in \
                self._ddl_info(tbl).get("foreign_keys", []):
            dim = (self.table(ref_tbl).read()
                   .select(F.col(ref_col).alias("__fk_val")))
            n = (tbl.read().filter(F.col(col).isNotNull())
                 .join(dim, F.col(col) == F.col("__fk_val"), "left_anti")
                 .count())
            out[f"{col}->{ref_tbl}({ref_col})"] = n
        return out

    def run_script(self, script: str, fuse_merges: bool = False) -> list:
        """Execute a ``;``-separated statement sequence (the reference
        notebooks are exactly such sequences). Statements split at
        TOP-LEVEL semicolons only — literals, parens, and CASE..END
        are respected — and run in order; returns the per-statement
        results. ``fuse_merges=True`` opt-in: runs of consecutive
        MERGE statements against the same target execute as ONE plan +
        ONE commit (``merge_chain`` — the reference's close+insert
        SCD2 pair); the fused statements share the run's result
        object."""
        stmts = _split_top(_norm(script), ";")
        if not fuse_merges:
            return [self.sql(stmt) for stmt in stmts]
        results, i = [], 0
        while i < len(stmts):
            s = stmts[i]
            run = [s]
            if s.split(" ", 1)[0].upper() == "MERGE":
                tgt = parse_merge(self._prep(s)).target
                while (i + len(run) < len(stmts)
                       and stmts[i + len(run)].split(" ", 1)[0].upper()
                       == "MERGE"
                       and parse_merge(self._prep(stmts[i + len(run)]))
                       .target == tgt):
                    run.append(stmts[i + len(run)])
            if len(run) > 1:
                r = self.merge_chain(run)
                results.extend([r] * len(run))
            else:
                results.append(self.sql(s))
            i += len(run)
        return results

    def _dml_via_views(self, tbl_name: str, where: str,
                       assigns: dict | None = None) -> ManagedTable:
        """UPDATE/DELETE whose WHERE carries any subquery form —
        ``col [NOT] IN (SELECT…)``, correlated EXISTS, nested INs,
        scalar subqueries (Delta's full subquery-DML surface, with
        exact SQL three-valued semantics incl. NOT IN's NULL
        poisoning). The predicate text passes VERBATIM to Catalyst over
        a temp view of the target snapshot, so Spark's own subquery
        decorrelation plans the semi/anti join; the table rewrites as
        (rows where the predicate IS NOT TRUE) ∪ (matched rows with
        assignments applied). Exact SQL three-valued semantics,
        including NOT IN's NULL poisoning — unlike the fast path's
        documented anti-join reading. Registers the target under its
        bare table name (correlated outer references in Delta
        statements use it) and re-registers db.tbl references through
        ``_bind_managed_tables``; both views read the SAME snapshot.
        A pre-existing session temp view under the bare name is
        restored afterwards (and absent one, the transient view is
        dropped) — temp-view resolution happens at ``spark.sql``
        analysis time, so the cleanup cannot break the lazy plans."""
        t = self.table(tbl_name)
        base = t.read()
        bare = tbl_name.split(".")[-1]
        # a session-local temp view shadows everything at spark.table
        # resolution, so existence via the direct SessionCatalog probe
        # plus spark.table(bare) resolves the same relation the old
        # listTables scan found
        prior = (self.spark.table(bare)
                 if self._temp_view_exists(bare) else None)
        base.createOrReplaceTempView(bare)
        try:
            bound = self._bind_managed_tables(where)
            # the match verdict as a precomputed boolean column over
            # the snapshot (subqueries are not expressible as a bare
            # Column), so the DML rides the SAME partition-scoped
            # rewrite core as plain-predicate UPDATE/DELETE: only
            # partitions holding matches are rewritten, the rest
            # hardlink forward
            marked = self.spark.sql(
                f"SELECT *, ({bound}) IS TRUE AS __match FROM {bare}")
            cond = F.col("__match")
            dtypes = {f.name: f.dataType for f in base.schema.fields}
            if assigns is None:
                def rewrite(df):
                    return df.filter(~cond).select(*base.columns)
                cdc = None
                if t._cdf_enabled():
                    cdc = (marked.filter(cond).select(*base.columns)
                           .withColumn("_change_type", F.lit("delete")))
                return t._partial_rewrite(cond, rewrite, "DELETE",
                                          snapshot=marked, cdc=cdc)

            def rewrite(df):
                return df.select(*[
                    F.when(cond, F.expr(assigns[c]).cast(dtypes[c]))
                    .otherwise(F.col(c)).alias(c)
                    if c in assigns else F.col(c)
                    for c in base.columns])
            cdc = None
            if t._cdf_enabled():
                from functools import reduce
                from operator import or_
                exprs = {c: F.expr(assigns[c]).cast(dtypes[c])
                         for c in assigns}
                changed = marked.filter(cond).filter(reduce(
                    or_, (~F.col(c).eqNullSafe(e)
                          for c, e in exprs.items())))
                pre = (changed.select(*base.columns)
                       .withColumn("_change_type",
                                   F.lit("update_preimage")))
                # ONE projection so every assignment sees the
                # PRE-image (matching the rewrite's single select);
                # sequential withColumn would feed later assignments
                # earlier assignments' NEW values
                post = changed.select(*[
                    (exprs[c] if c in exprs else F.col(c)).alias(c)
                    for c in base.columns])
                cdc = pre.unionByName(
                    post.withColumn("_change_type",
                                    F.lit("update_postimage")))
            return t._partial_rewrite(cond, rewrite, "UPDATE",
                                      snapshot=marked, cdc=cdc)
        finally:
            if prior is not None:
                prior.createOrReplaceTempView(bare)
            else:
                self.spark.catalog.dropTempView(bare)

    def _merge(self, s: str, extra_meta: dict | None = None,
               source_df: DataFrame | None = None) -> ManagedTable:
        spec = parse_merge(s)
        tbl = self.table(spec.target)
        if not tbl.exists():
            raise FileNotFoundError(
                f"MERGE target {spec.target} does not exist under "
                f"{self.root}")
        target = tbl.read()
        source = source_df if source_df is not None \
            else self._source_df(spec.source)

        # opt-in statement-text schema evolution (Delta mergeSchema,
        # operators/merge.py::align_schemas' target direction): source
        # columns new to the target are appended as typed NULLs, so a
        # WHEN clause referencing them executes and historical rows
        # read back NULL. Evolution forces the full-rewrite route —
        # hardlinked untouched partitions would otherwise keep the old
        # parquet schema and the new column would vanish from them.
        evolved = [f for f in source.schema.fields
                   if f.name not in target.columns] \
            if self.merge_schema else []
        for f in evolved:
            target = target.withColumn(f.name,
                                       F.lit(None).cast(f.dataType))

        # GENERATED ... AS IDENTITY (reference 01_Init.py:59): an
        # INSERT clause that omits the identity column gets ids
        # assigned past the table's current max — Delta's high-water
        # behavior, but DETERMINISTIC: new ids are dense in the order
        # of the merge's source key columns (documented deviation from
        # Delta's arbitrary-but-unique allocation; testable, and what
        # the scd1/dim oracles already specify).
        info = self._ddl_info(tbl)
        ident = info.get("identity")
        if ident and info.get("identity_always"):
            for cl in spec.clauses:
                if cl.kind.endswith("_update"):
                    self._reject_always_identity(
                        info,
                        cl.assigns if cl.assigns is not None
                        else source.columns,   # UPDATE SET * copies src
                        "MERGE UPDATE SET")
                elif cl.kind == "insert":
                    explicit = (
                        [_strip_alias(c, (spec.t_alias, spec.s_alias))
                         for c in cl.insert_cols]
                        if cl.insert_cols is not None
                        else source.columns)   # INSERT * maps src cols
                    self._reject_always_identity(
                        info, explicit, "MERGE INSERT")
        needs_ident = ident and ident in target.columns and any(
            c.kind == "insert"
            and (c.insert_cols is None or ident not in c.insert_cols)
            for c in spec.clauses)
        src_keys = _equi_source_keys(spec.on, spec.t_alias, spec.s_alias)
        order_cols = (src_keys
                      or [c for c in target.columns if c != ident])

        pin: list = []      # persisted merge results, freed post-commit

        def combine(target_slice: DataFrame, src: DataFrame) -> DataFrame:
            res = apply_merge(target_slice, src, spec,
                              self.check_cardinality)
            if needs_ident:
                # high-water mark from the FULL target, not the slice —
                # ids must be unique table-wide; routed through the
                # reservation counter shared with INSERTs (ADVICE r10)
                res = _assign_identity_reserved(
                    tbl, res, target, ident, order_cols, info, pin)
            return res

        # partition-scoped route (the 100 TB shape: only source-touched
        # partitions rewritten, the rest hardlinked): taken when the
        # STATEMENT is statically partition-safe — see
        # _partition_scoped_ok — AND matched target/source pairs
        # PROVABLY share a partition. The proof is the ON condition
        # itself: when every partition column p appears as a
        # ``tgt.p = src.p`` equality conjunct, a matched target row's
        # partition equals its source row's, so slicing the target to
        # the source's partition values loses no matches. Without that
        # conjunct a source row could key-match a target row living in
        # an untouched (hardlinked) partition — the merge would
        # silently insert a duplicate instead of updating — so the
        # default (``stable_partitions=None``) full-rewrites.
        # ``LakehouseSql(stable_partitions=True)`` is the user's
        # explicit assertion that rows never change partitions (the
        # contract ManagedTable.merge_into documents), re-enabling the
        # route for key-only ONs; False disables it entirely.
        pb = self._partition_scoped_ok(tbl, spec)
        pairs = _equi_key_pairs(spec.on, spec.t_alias, spec.s_alias) or []
        proven = pb is not None and all((p, p) in pairs for p in pb)
        asserted = pb is not None and self.stable_partitions is True \
            and src_keys is not None and set(pb) <= set(source.columns)
        try:
            if (proven or asserted) and not evolved \
                    and self.stable_partitions is not False:
                return tbl.merge_into_generic(
                    source, combine, operation="MERGE",
                    stable_partitions=True, extra_meta=extra_meta,
                    # identity ids derive from the read snapshot — a
                    # lost race must not rebase (see _insert's
                    # occ_retry note)
                    occ_retry=not needs_ident)
            # the partition-scoped route materializes its own source
            with materialized_source(source) as src:
                return tbl.overwrite(combine(target, src),
                                     operation="MERGE",
                                     extra_meta=extra_meta)
        finally:
            for df in pin:
                df.unpersist()

    def merge_chain(self, statements, extra_meta: dict | None = None
                    ) -> ManagedTable:
        """Execute consecutive MERGE statement texts against the SAME
        target as ONE composed plan and ONE commit.

        The reference's SCD2 silver load is exactly such a pair — the
        close pass then the insert pass (22_ETL_Silver_PySpark.py:
        62-101), sharing one source view and one target snapshot.
        Statement-by-statement each pass is a full table read + write;
        composing them lazily (pass N+1's ``apply_merge`` consumes pass
        N's unexecuted DataFrame) lets Catalyst plan the whole load as
        one job and halves the table rewrites — the same fusion the
        operator path's single-join ``scd2_merge`` already has. The
        result is bit-identical to running the statements sequentially:
        composition IS the sequential semantics, only commit
        granularity changes (one version instead of N — noted in the
        commit's ``fused`` metadata).

        Equivalence REQUIRES every statement's USING source to be
        independent of the chain's target: all sources resolve against
        the pre-chain committed snapshot (commits happen once, at the
        end), so a source that reads the target itself would see
        pre-chain state where sequential execution sees statement
        N-1's result. Such chains (detected textually: the target
        name, db-qualified or bare under the USE SCHEMA context, in
        any source text) execute statement-by-statement through
        ``sql()`` instead — per-statement commits, exact sequential
        semantics."""
        specs = [parse_merge(self._prep(x)) for x in statements]
        if not specs:
            raise ValueError("merge_chain needs at least one statement")
        if len({sp.target for sp in specs}) != 1:
            raise ValueError(
                f"merge_chain statements target different tables: "
                f"{sorted({sp.target for sp in specs})}")
        target_name = specs[0].target
        bare = target_name.split(".")[-1]
        for stmt, sp in zip(statements, specs):
            refs = {w.lower() for w in
                    _findall_code(r"[\w.]+", sp.source)}
            if target_name.lower() in refs or bare.lower() in refs:
                last = None
                for st in statements:
                    last = self.sql(st, extra_meta=extra_meta)
                return last
        tbl = self.table(target_name)
        if not tbl.exists():
            raise FileNotFoundError(
                f"MERGE target {specs[0].target} does not exist under "
                f"{self.root}")
        info = self._ddl_info(tbl)
        ident = info.get("identity")
        # the ALWAYS-identity rejection applies to EVERY spec before
        # any execution strategy is chosen — the fused and
        # empty-target fast paths must reject exactly what the
        # sequential path (and single-statement sql()) rejects
        if ident and info.get("identity_always"):
            for sp in specs:
                src_cols = None
                for cl in sp.clauses:
                    if cl.kind.endswith("_update"):
                        if cl.assigns is not None:
                            self._reject_always_identity(
                                info, cl.assigns, "MERGE UPDATE SET")
                        else:
                            if src_cols is None:
                                src_cols = self._source_df(
                                    sp.source).columns
                            self._reject_always_identity(
                                info, src_cols, "MERGE UPDATE SET")
                    elif cl.kind == "insert":
                        if cl.insert_cols is not None:
                            self._reject_always_identity(
                                info,
                                [_strip_alias(c, (sp.t_alias,
                                                  sp.s_alias))
                                 for c in cl.insert_cols],
                                "MERGE INSERT")
                        else:
                            if src_cols is None:
                                src_cols = self._source_df(
                                    sp.source).columns
                            self._reject_always_identity(
                                info, src_cols, "MERGE INSERT")
        state = tbl.read()
        if len(specs) == 2 and _fusable_close_insert(*specs):
            # the reference's close+insert SCD2 pair: ONE full-outer
            # join serves both passes. Requires strict source-key
            # uniqueness (the window verdict folds per key); duplicate
            # keys fall back to sequential composition below, which
            # applies the relaxed matched-only guard.
            # the uniqueness gate and the fused write (or the empty-
            # target insert) read one materialized source
            with materialized_source(
                    self._source_df(specs[0].source)) as source:
                src_keys = _equi_source_keys(specs[0].on, specs[0].t_alias,
                                             specs[0].s_alias)
                # emptiness from commit metadata + parquet footers when
                # provable (r13) — skips a take(1) probe JOB per load on
                # the serving path; None falls back to the probe
                empty = tbl.is_provably_empty()
                if empty is None:
                    empty = not state.take(1)
                if empty:
                    # empty target (the initial load): the update pass is a
                    # no-op and every source row is unmatched, so the pair
                    # reduces to the insert-only fast path — no outer join,
                    # no window, no uniqueness gate (duplicates all insert,
                    # exactly the sequential result)
                    res = apply_merge(state, source, specs[1],
                                      check_cardinality=False)
                    cl = specs[1].clauses[0]
                    pin: list = []
                    if ident and ident in state.columns and (
                            cl.insert_cols is None
                            or ident not in cl.insert_cols):
                        res = _assign_identity_reserved(
                            tbl, res, state, ident, src_keys, info, pin)
                    try:
                        return tbl.overwrite(
                            res, operation="MERGE",
                            extra_meta={"fused": 2, **(extra_meta or {})})
                    finally:
                        for df in pin:
                            df.unpersist()
                def _dupes() -> int:
                    return (source.groupBy(*src_keys)
                            .agg(F.count(F.lit(1)).alias("__n"))
                            .filter(F.col("__n") > 1).limit(1).count())
                cl = specs[1].clauses[0]
                needs_ident = bool(
                    ident and ident in state.columns
                    and (cl.insert_cols is None
                         or ident not in cl.insert_cols))
                if not needs_ident:
                    # overlap the uniqueness gate with the fused write
                    # (guide §2.6: independent jobs back-fill each other's
                    # task tails): the gate joins at overwrite's
                    # pre-publish hook, so a duplicate-key source aborts
                    # BEFORE anything becomes visible and falls back to
                    # the sequential composition exactly as the serial
                    # probe did. Identity assignment is excluded — its
                    # reservation commits are side effects that must not
                    # run speculatively.
                    from concurrent.futures import ThreadPoolExecutor
                    res = apply_merge_fused_pair(state, source, *specs)
                    with ThreadPoolExecutor(1) as _pool:
                        fut = _pool.submit(_dupes)

                        def _gate():
                            if fut.result():
                                raise _FusedSourceDupes()
                        try:
                            return tbl.overwrite(
                                res, operation="MERGE",
                                extra_meta={"fused": 2,
                                            **(extra_meta or {})},
                                pre_publish=_gate)
                        except _FusedSourceDupes:
                            pass    # sequential composition below
                elif not _dupes():
                    res = apply_merge_fused_pair(state, source, *specs)
                    pin: list = []
                    res = _assign_identity_reserved(
                        tbl, res, state, ident, src_keys, info, pin)
                    try:
                        return tbl.overwrite(
                            res, operation="MERGE",
                            extra_meta={"fused": 2, **(extra_meta or {})})
                    finally:
                        for df in pin:
                            df.unpersist()
        chain_pin: list = []    # persisted merge results, freed post-commit
        for spec in specs:
            source = self._source_df(spec.source)
            if ident and info.get("identity_always"):
                for cl in spec.clauses:
                    if cl.kind.endswith("_update"):
                        self._reject_always_identity(
                            info,
                            cl.assigns if cl.assigns is not None
                            else source.columns,
                            "MERGE UPDATE SET")
                    elif cl.kind == "insert":
                        explicit = (
                            [_strip_alias(c, (spec.t_alias, spec.s_alias))
                             for c in cl.insert_cols]
                            if cl.insert_cols is not None
                            else source.columns)
                        self._reject_always_identity(
                            info, explicit, "MERGE INSERT")
            res = apply_merge(state, source, spec,
                              self.check_cardinality)
            needs_ident = ident and ident in state.columns and any(
                c.kind == "insert"
                and (c.insert_cols is None or ident not in c.insert_cols)
                for c in spec.clauses)
            if needs_ident:
                keys = _equi_source_keys(spec.on, spec.t_alias,
                                         spec.s_alias)
                res = _assign_identity_reserved(
                    tbl, res, state, ident,
                    keys or [c for c in state.columns if c != ident],
                    info, chain_pin)
            state = res
        try:
            return tbl.overwrite(state, operation="MERGE",
                                 extra_meta={"fused": len(specs),
                                             **(extra_meta or {})})
        finally:
            for df in chain_pin:
                df.unpersist()

    def merge_pair(self, first_sql: str, second_sql: str,
                   extra_meta: dict | None = None) -> ManagedTable:
        """The reference's two-pass SCD2 shape (close + insert,
        22:62-101) as one commit — see ``merge_chain``."""
        return self.merge_chain([first_sql, second_sql], extra_meta)

    @staticmethod
    def _partition_scoped_ok(tbl: ManagedTable, spec) -> list | None:
        """Static safety check for the partition-scoped MERGE route:
        every output row must provably stay in its source/target row's
        partition. Requires NO not-matched-by-source clauses (their
        semantics are table-global), no UPDATE assignment to a
        partition column, and every INSERT clause mapping each
        partition column to exactly ``src.<col>`` (INSERT * qualifies).
        Returns the partition columns, or None to full-rewrite."""
        pb = list(tbl.partition_by or ())
        if not pb:
            return None
        t, s = spec.t_alias, spec.s_alias
        for cl in spec.clauses:
            if cl.kind.startswith("nmbs"):
                return None
            if cl.kind.endswith("_update") and (
                    cl.assigns is None      # SET *: could touch pb
                    or any(c in cl.assigns for c in pb)):
                return None
            if cl.kind == "insert" and cl.insert_cols is not None:
                vals = {_strip_alias(c, (t, s)): v.strip()
                        for c, v in zip(cl.insert_cols, cl.insert_vals)}
                for c in pb:
                    if vals.get(c, "").lower() != f"{s}.{c}".lower():
                        return None
        return pb

    _COPY_RE = re.compile(
        r"^COPY INTO ([\w.]+) FROM '([^']+)' "
        r"FILEFORMAT ?= ?(\w+)"
        r"(?: PATTERN ?= ?'(?P<pattern>[^']+)')?"
        r"(?: FORMAT_OPTIONS ?\('header' ?= ?"
        r"'(?P<header>true|false)'\))?"
        r"(?P<force> COPY_OPTIONS ?\('force' ?= ?'true'\))?$",
        re.IGNORECASE)

    def _copy_into(self, s: str) -> ManagedTable:
        """Delta's idempotent batch ingest: ``COPY INTO db.t FROM
        '<dir>' FILEFORMAT = PARQUET|JSON``. Files already loaded by a
        previous COPY never load again — the loaded-file manifest
        rides the commit metadata, so a crashed-and-rerun ingest job
        is exactly-once per FILE without any external state, the same
        guarantee Databricks' COPY INTO gives. New files append
        cast to the target's types; no new files is a no-op (no
        commit). The manifest survives VACUUM (commit records are
        never vacuumed) and RESTORE — a restored-away load does NOT
        re-ingest, matching Databricks, unless
        ``COPY_OPTIONS ('force' = 'true')`` bypasses the manifest.

        100 TB cost shape (both halves O(batch), not O(table)):

        - the commit is ``ManagedTable.append`` — only the new files
          are written; every existing data file hardlinks forward;
        - each COPY commit carries the CUMULATIVE manifest
          (``copy_manifest``) alongside its own batch
          (``copy_files``), so reconstruction walks back only to the
          newest checkpointed commit — O(1) commit reads in the
          steady ingest case, never O(history). Non-COPY commits
          in between don't carry the checkpoint, so the walk
          accumulates their (absent) ``copy_files`` until it hits
          the last COPY — still O(#commits since last COPY)."""
        m = self._COPY_RE.match(s)
        if not m:
            raise ValueError(f"unrecognized COPY INTO shape: {s[:70]!r}")
        tbl_name, src_dir, fmt = m.group(1), m.group(2), \
            m.group(3).lower()
        if fmt not in ("parquet", "json", "csv"):
            raise ValueError(f"unsupported FILEFORMAT: {fmt}")
        tbl = self.table(tbl_name)
        if not tbl.exists():
            raise FileNotFoundError(
                f"COPY INTO target {tbl_name} does not exist under "
                f"{self.root}")
        ext = {"parquet": ".parquet", "json": ".json",
               "csv": ".csv"}[fmt]
        # normalized paths key the manifest: '/dir' and '/dir/' must
        # dedupe to the same file entries across runs.
        # PATTERN narrows the candidate set (Databricks' glob filter)
        # but never widens the manifest semantics: idempotence stays
        # per-FILE regardless of which pattern first loaded it.
        src_dir = os.path.normpath(src_dir)
        import fnmatch
        pattern = m.group("pattern")
        avail = sorted(
            os.path.join(src_dir, f) for f in os.listdir(src_dir)
            if (fnmatch.fnmatch(f, pattern) if pattern
                else f.endswith(ext)))
        loaded = self._copy_manifest(tbl) if not m.group("force") \
            else set()
        new_files = [f for f in avail if f not in loaded]
        if not new_files:
            return tbl
        cur = tbl.read()
        dtypes = {f.name: f.dataType for f in cur.schema.fields}
        reader = self.spark.read.format(fmt)
        if fmt == "csv":
            # header defaults ON (the useful CSV shape; FORMAT_OPTIONS
            # ('header' = 'false') reads headerless positional columns
            # named by the target's order). Values arrive as strings
            # and the projection below casts to the target's types —
            # schema inference never guesses.
            header = (m.group("header") or "true").lower() == "true"
            reader = reader.option("header", str(header).lower())
        new = reader.load(new_files)
        if fmt == "csv" and (m.group("header") or "true").lower() \
                == "false":
            if len(new.columns) != len(cur.columns):
                raise ValueError(
                    f"headerless CSV arity mismatch: {len(new.columns)}"
                    f" columns vs {len(cur.columns)} table columns")
            new = new.toDF(*cur.columns)
        unknown = set(new.columns) - set(cur.columns)
        if unknown:
            raise ValueError(
                f"COPY source carries unknown columns: "
                f"{sorted(unknown)}")
        proj = [(F.col(c) if c in new.columns else F.lit(None))
                .cast(dtypes[c]).alias(c) for c in cur.columns]
        # even under force, the manifest checkpoint stays CUMULATIVE
        # (union with the walked set) so a later non-force COPY still
        # sees every previously loaded file
        manifest = sorted(self._copy_manifest(tbl) | set(new_files)) \
            if m.group("force") else sorted(loaded | set(new_files))
        return tbl.append(
            new.select(*proj), operation="COPY INTO",
            extra_meta={"copy_files": new_files,
                        "copy_manifest": manifest})

    @staticmethod
    def _copy_manifest(tbl: ManagedTable) -> set:
        """The loaded-file set: walk commits backward, stop at the
        first cumulative ``copy_manifest`` checkpoint (every COPY
        commit carries one), accumulating any newer commits'
        ``copy_files`` on the way. O(commits since the last COPY)
        tiny JSON reads, not O(history)."""
        loaded: set = set()
        for v in range(tbl.current_version(), -1, -1):
            c = tbl._commit(v)
            if "copy_manifest" in c:
                loaded.update(c["copy_manifest"])
                # an OCC-REBASED copy's cumulative manifest was
                # computed before the racing winner committed — it may
                # miss that writer's files, so only a non-rebased
                # checkpoint terminates the walk (rebases are rare;
                # the walk stays O(commits since the last clean COPY))
                if not c.get("occ_rebased"):
                    break
            else:
                loaded.update(c.get("copy_files") or [])
        return loaded

    def _insert(self, s: str) -> ManagedTable:
        tbl_name, cols, select_sql, replace = parse_insert(s)
        tbl = self.table(tbl_name)
        new = self.spark.sql(self._bind_managed_tables(select_sql))
        if not tbl.exists():
            raise FileNotFoundError(
                f"INSERT target {tbl_name} does not exist under "
                f"{self.root}")
        cur = tbl.read()
        dtypes = {f.name: f.dataType for f in cur.schema.fields}
        if cols is None:
            if len(new.columns) != len(cur.columns):
                raise ValueError(
                    f"INSERT arity mismatch: {len(new.columns)} values "
                    f"vs {len(cur.columns)} table columns")
            cols = tuple(cur.columns)
        new = new.toDF(*cols)
        info = self._ddl_info(tbl)
        self._reject_always_identity(info, cols, "INSERT")
        proj = [(F.col(c) if c in cols else F.lit(None))
                .cast(dtypes[c]).alias(c) for c in cur.columns]
        batch = new.select(*proj)
        ident = info.get("identity")
        needs_ident = ident and ident in cur.columns and ident not in cols
        if replace:
            result = cur.limit(0).unionByName(batch)
            if needs_ident:
                # watermark from the PRE-overwrite snapshot: Delta's
                # identity high-water mark is table metadata and never
                # regresses across INSERT OVERWRITE/TRUNCATE — ids must
                # not restart at START WITH and reuse issued values
                result = _assign_identity(result, cur, ident,
                                          [c for c in cols],
                                          *_ident_params(info))
            return tbl.overwrite(result, operation="INSERT OVERWRITE")
        # plain INSERT INTO: O(batch) append commit — only the new
        # rows' files are written (ManagedTable.append). Identity ids
        # come from a RESERVED range (r10): the batch's slot range is
        # allocated in a tiny mutex-guarded counter pre-commit, floored
        # at the live snapshot's high-water mark so merge-assigned or
        # explicit ids are never re-issued — which makes the append
        # BLIND and therefore OCC-retryable: two concurrent identity
        # INSERTs both commit with disjoint keys (pre-r10 the loser
        # raised). A reservation lost to a crash leaves an id gap, the
        # standard identity contract.
        if needs_ident:
            start_, step_ = _ident_params(info)
            cached = batch.persist()
            try:
                n = cached.count()
                floor = cur.agg(
                    _slots_taken_expr(ident, start_, step_)
                ).collect()[0]["_slots"]
                base = tbl.reserve_identity(ident, n, floor)
                batch = _assign_identity(
                    cached, cur, ident, [c for c in cols],
                    start_, step_, base_slots=base,
                    seq_partitions=1 if n <= 100_000 else None)
                return tbl.append(batch, operation="INSERT",
                                  occ_retry=True)
            finally:
                # the assigned batch's plan reads THROUGH the cached
                # relation, so unpersisting after the append releases
                # the blocks without recompute (ADVICE r10: one cached
                # DataFrame leaked per identity INSERT statement)
                cached.unpersist()
        return tbl.append(batch, operation="INSERT", occ_retry=True)
