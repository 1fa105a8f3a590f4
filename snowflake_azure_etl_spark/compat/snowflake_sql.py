"""Snowflake → Spark SQL translation shim (SURVEY §4.3.1).

The reference's entire data surface is Snowflake SQL text (DDL files in
private_ddl/, view bodies in rahil/create_views.py). Most of it is
ANSI and runs on Spark unchanged (`||`, CASE, NULLIF, COALESCE,
window functions). This shim rewrites the dialect deltas SURVEY §4.3.1
enumerates so a reference user can feed their scripts to
`run_script(spark, sql_text)` directly:

- `NUMBER(p[,s])` → `DECIMAL(p[,s])`; bare `NUMBER` → `DECIMAL(38,0)`
- `IDENTITY(start, step)` / `AUTOINCREMENT` → stripped (Spark has no
  identity columns; the engine's surrogate-key generator owns this —
  plans/surrogate.py documents the contract)
- `PRIMARY KEY` / `UNIQUE` column constraints → stripped (unenforced
  in Snowflake too — advisory only)
- `DEFAULT <expr>` → stripped and *returned* per column so loaders can
  apply them in the select (Spark tables have no universal defaults)
- `CREATE OR REPLACE SECURE VIEW` → `CREATE OR REPLACE VIEW`
  (definition-hiding has no Spark analog — documented degradation)
- `CREATE OR REPLACE TABLE` → `CREATE TABLE` of the table named in
  `replaces`, which `run_script` first drops with `ddl.drop_table`
  (a directory left by an earlier session goes too)
- `COMMENT = '...'` trailing table options → stripped
- bare `VARCHAR` (no length — Snowflake's 16 MB default,
  private_ddl/example_staging_table.sql) → `STRING` (Spark's VARCHAR
  requires a length)

Deliberately regex-based and transparent: the goal is the documented
delta list, not a full SQL parser — statements outside it pass through
untouched (and Spark's parser is the arbiter).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Translated:
    """One input statement → 1..n Spark statements + extracted info;
    `replaces` names a table to drop before the statements run."""
    statements: list[str]
    replaces: str | None = None
    column_defaults: dict[str, str] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


_NUMBER = re.compile(r"\bNUMBER\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
                     re.IGNORECASE)
_BARE_NUMBER = re.compile(r"\bNUMBER\b(?!\s*\()", re.IGNORECASE)
_BARE_VARCHAR = re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE)
_IDENTITY = re.compile(
    r"\s+(?:IDENTITY\s*\(\s*\d+\s*,\s*\d+\s*\)|IDENTITY|AUTOINCREMENT)",
    re.IGNORECASE)
_PKEY = re.compile(r"\s+PRIMARY\s+KEY\b|\s+UNIQUE\b", re.IGNORECASE)
_DEFAULT = re.compile(
    r"([(,]\s*)"                                   # start of a column def
    r"([A-Za-z_][A-Za-z0-9_]*)"                    # column name
    r"(\s+[A-Za-z0-9_]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"  # type
    r"\s+DEFAULT\s+"
    r"((?:'[^']*')"                                # quoted literal
    r"|(?:[A-Za-z_][\w.]*\s*\([^()]*\))"           # fn call (1 level)
    r"|(?:[^,\n)]+))",                             # bare expr
    re.IGNORECASE)
_SECURE_VIEW = re.compile(r"\bSECURE\s+VIEW\b", re.IGNORECASE)
_CREATE_OR_REPLACE_TABLE = re.compile(
    r"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+([\w.\"]+)", re.IGNORECASE)
_TABLE_COMMENT = re.compile(r"\bCOMMENT\s*=\s*'[^']*'", re.IGNORECASE)


def translate_statement(sql: str) -> Translated:
    """Translate one Snowflake statement into Spark statement(s)."""
    out = Translated(statements=[])
    s = sql.strip().rstrip(";")
    if not s:
        return out

    # column DEFAULTs: record, then strip
    for m in _DEFAULT.finditer(s):
        out.column_defaults[m.group(2)] = m.group(4).strip()
    if out.column_defaults:
        s = _DEFAULT.sub(lambda m: m.group(1) + m.group(2) + m.group(3), s)
        out.notes.append(
            f"stripped DEFAULT for {sorted(out.column_defaults)} — apply "
            "in the load select (Spark tables have no column defaults)")

    if _IDENTITY.search(s):
        s = _IDENTITY.sub("", s)
        out.notes.append("stripped IDENTITY — use plans.surrogate keys")
    if _PKEY.search(s):
        s = _PKEY.sub("", s)
        out.notes.append("stripped PRIMARY KEY/UNIQUE (advisory only)")
    s = _NUMBER.sub(
        lambda m: f"DECIMAL({m.group(1)},{m.group(2) or 0})", s)
    s = _BARE_NUMBER.sub("DECIMAL(38,0)", s)
    s = _BARE_VARCHAR.sub("STRING", s)
    if _SECURE_VIEW.search(s):
        s = _SECURE_VIEW.sub("VIEW", s)
        out.notes.append("SECURE VIEW degraded to plain VIEW (no analog)")
    s = _TABLE_COMMENT.sub("", s)

    m = _CREATE_OR_REPLACE_TABLE.match(s)
    if m:
        out.replaces = m.group(1)
        s = _CREATE_OR_REPLACE_TABLE.sub(f"CREATE TABLE {out.replaces}", s,
                                         count=1)
        out.notes.append("CREATE OR REPLACE TABLE → DROP + CREATE")
    out.statements = [s]
    return out


def _scan_statements(sql_text: str) -> list[str]:
    """ONE literal-aware scan (ADVICE r5): drops -- line comments and
    /* */ block comments and splits on semicolons, all tracking the
    same in-quote state — so comment markers INSIDE string literals
    (DEFAULT 'a /* b */ c', 'it''s -- fine') are data, not comments.
    Doubled '' quote escapes exit-and-reenter the literal, which nets
    out for scanning purposes. Block comments nest, as Snowflake's do
    (and ANSI's don't). An unterminated block comment outside a
    literal is malformed input and raises rather than silently
    swallowing statements."""
    stmts: list[str] = []
    cur: list[str] = []
    i, n = 0, len(sql_text)
    in_str = False
    while i < n:
        ch = sql_text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            cur.append(ch)
            i += 1
            continue
        if sql_text.startswith("--", i):
            nl = sql_text.find("\n", i)
            i = n if nl < 0 else nl          # the newline survives
            continue
        if sql_text.startswith("/*", i):
            # Snowflake block comments NEST (unlike ANSI): track depth
            depth, j = 1, i + 2
            while j < n and depth:
                if sql_text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif sql_text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            if depth:
                raise ValueError(
                    "unterminated /* block comment in SQL script")
            i = j
            continue
        if ch == ";":
            stmts.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    if "".join(cur).strip():
        stmts.append("".join(cur))
    return stmts


def translate_script(sql_text: str) -> list[Translated]:
    """Split a script on top-level semicolons (string-literal aware —
    the reference escapes quotes as '' inside literals) and translate
    each statement. Line comments (--) and /* */ block comments are
    dropped in the same literal-aware scan (the reference's DDL headers
    are block comments that would otherwise hide the leading CREATE
    from the statement rewrites)."""
    return [t for t in (translate_statement(s)
                        for s in _scan_statements(sql_text))
            if t.statements]


def run_script(spark, sql_text: str) -> list[str]:
    """Translate + execute a Snowflake SQL script on Spark; returns the
    accumulated translation notes (what was degraded/stripped)."""
    from ..warehouse.ddl import drop_table

    notes: list[str] = []
    for t in translate_script(sql_text):
        if t.replaces:
            drop_table(spark, t.replaces)
        for stmt in t.statements:
            spark.sql(stmt)
        notes.extend(t.notes)
    return notes
