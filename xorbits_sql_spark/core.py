"""The public entry point: ``execute``.

API-compatible with the reference's single public function
(reference core.py:50-55)::

    execute(sql, schema=None, dialect=None, tables={name: df}) -> DataFrame

but returning a lazy :class:`pyspark.sql.DataFrame`, whose laziness
contract matches the reference's lazy Xorbits result (``.fetch()`` there
≈ ``.toPandas()``/``.collect()`` here).

Query lifecycle (maps the reference's 8-step trace, SURVEY.md §3, onto
Spark): convert tables and READ_CSV scans to DataFrames → dialect
transpile → register temp views, ``spark.sql`` (Catalyst: parse/analyze)
and drop the views → return. Distributed execution happens when the
caller runs an action — the same boundary as the reference's
``xorbits.run``.
"""

from __future__ import annotations

import threading
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from . import dialect as _dialect
from .errors import ExecuteError, TableNotFoundError, UnsupportedError
from .session import get_spark
from .sources.readers import register_csv_reads
from .table import register_tables

# words that may legally follow a table primary without being an alias
_NON_ALIAS_WORDS = _dialect.NON_ALIAS_WORDS

# Temp views live in the session-global catalog under the caller's own
# table names. One lock spans a call's view registration, the analysis
# of its statements and the views' removal, so concurrent calls never
# resolve each other's tables and no view outlives its call.
_VIEW_LOCK = threading.Lock()


def _ident_lower(tok: tuple[str, str]) -> str:
    kind, text = tok
    if kind == "backtick":
        return text[1:-1].replace("``", "`").lower()
    return text.lower()


def _scope_paths(
    tokens: list[tuple[str, str]],
) -> tuple[list[tuple[int, ...]], dict[int, int]]:
    """Per-token scope path: the stack of enclosing paren-group ids.

    Each ``(`` opens a new uniquely-numbered scope; a binding made at
    path P is visible at token i iff P is a prefix of i's path (SQL
    scoping: an alias bound in an outer block shadows inside nested
    subqueries, but an alias bound inside a derived table is invisible
    to sibling and outer blocks). The open/close parens themselves
    carry the OUTER path, so ``FROM (`` and its alias after ``)`` sit
    in the scope that binds the alias.

    Also returns {token index of '(' : group id it opens} so a
    derived-table alias can exclude the group it NAMES from its own
    shadow (``FROM (SELECT .. FROM db.t) AS db``: the alias is not in
    scope inside the subquery that defines it).
    """
    paths: list[tuple[int, ...]] = []
    opened: dict[int, int] = {}
    stack: list[int] = []
    counter = 0
    for j, (k, t) in enumerate(tokens):
        if (k, t) == ("op", "("):
            paths.append(tuple(stack))
            counter += 1
            opened[j] = counter
            stack.append(counter)
        elif (k, t) == ("op", ")"):
            if stack:
                stack.pop()
            paths.append(tuple(stack))
        else:
            paths.append(tuple(stack))
    return paths, opened


def _table_aliases(
    tokens: list[tuple[str, str]],
    paths: list[tuple[int, ...]],
    opened: dict[int, int],
) -> dict[str, list[tuple[tuple[int, ...], int | None]]]:
    """Lower-cased table aliases bound by FROM/JOIN clauses (explicit
    ``AS x`` and bare ``FROM t x`` forms, including subquery aliases),
    each with (scope path of its binding site, excluded group id or
    None). These shadow registered qualified names only within the
    query block that binds them (and its nested subqueries) — a
    derived table aliased ``db`` inside one subquery must not suppress
    rewriting of a registered ``db.t`` in an unrelated outer or
    sibling scope. The excluded group is the derived table's own paren
    group: ``FROM (SELECT .. FROM db.t) AS db`` must still rewrite the
    INNER db.t, because the alias is not in scope inside the subquery
    that defines it."""
    code = [j for j, (k, _) in enumerate(tokens) if k not in ("ws", "comment")]
    n = len(code)

    def tok(p: int) -> tuple[str, str]:
        return tokens[code[p]]

    aliases: dict[str, list[tuple[tuple[int, ...], int | None]]] = {}

    def bind(p: int, excluded: int | None = None) -> None:
        aliases.setdefault(_ident_lower(tok(p)), []).append(
            (paths[code[p]], excluded)
        )

    pos = 0
    while pos < n:
        k, t = tok(pos)
        pos += 1
        if k != "word" or t.upper() not in ("FROM", "JOIN"):
            continue
        excluded: int | None = None
        if pos < n and tok(pos) == ("op", "("):
            # Derived table / lateral subquery: scan ahead to the
            # matching ')' to find the alias that follows, but resume
            # the main scan INSIDE the group so FROM/JOIN aliases bound
            # within the subquery are collected too (in their own
            # scope) rather than skipped.
            excluded = opened.get(code[pos])
            depth, ahead = 1, pos + 1
            while ahead < n and depth:
                if tok(ahead) == ("op", "("):
                    depth += 1
                elif tok(ahead) == ("op", ")"):
                    depth -= 1
                ahead += 1
            pos += 1  # continue scanning inside the group
            alias_pos = ahead
        elif pos < n and tok(pos)[0] in ("word", "backtick"):
            pos += 1
            # consume the dotted tail and any table-function call args
            while pos < n:
                if (
                    tok(pos) == ("op", ".")
                    and pos + 1 < n
                    and tok(pos + 1)[0] in ("word", "backtick")
                ):
                    pos += 2
                elif tok(pos) == ("op", "("):
                    depth, pos = 1, pos + 1
                    while pos < n and depth:
                        if tok(pos) == ("op", "("):
                            depth += 1
                        elif tok(pos) == ("op", ")"):
                            depth -= 1
                        pos += 1
                else:
                    break
            alias_pos = pos
        else:
            continue
        if (
            alias_pos < n
            and tok(alias_pos)[0] == "word"
            and tok(alias_pos)[1].upper() == "AS"
        ):
            alias_pos += 1
            if alias_pos < n and tok(alias_pos)[0] in ("word", "backtick"):
                bind(alias_pos, excluded)
        elif alias_pos < n and tok(alias_pos)[0] in ("word", "backtick"):
            if (
                tok(alias_pos)[0] == "backtick"
                or tok(alias_pos)[1].upper() not in _NON_ALIAS_WORDS
            ):
                bind(alias_pos, excluded)
    return aliases


def _rewrite_qualified_names(sql: str, registered: Mapping[tuple[str, ...], str]) -> str:
    """Rewrite ``catalog.db.table`` / ``db.table`` refs to flat view names.

    Spark temp views are un-namespaced, so nested registrations
    (reference core.py:62-65) are flattened by table.view_name and the SQL
    text updated to match. Plain single-part names need no rewrite.

    Runs AFTER transpile, so identifier quoting is already Spark's
    backticks regardless of input dialect, and the text is lexed the
    way Spark's parser lexes it (tokenize_spark: backslash is a string
    escape) — lexing with the ANSI rule here would split a literal like
    ``'it\\'s'`` (legal post-mysql-fallback output) at the escaped
    quote and let a registered db.table pattern inside the literal be
    rewritten, corrupting the string. The rewrite walks the token
    stream: each part of a registered qualified name matches a bare word
    or a backtick-quoted identifier, case-insensitively (Spark view
    resolution is case-insensitive, and registration keys were already
    case-normalized per dialect by table.normalize_name). String
    literals and comments can never match — they aren't word/backtick
    tokens.
    """
    multi = {q: v for q, v in registered.items() if len(q) > 1}
    if not multi:
        return sql
    tokens = _dialect.tokenize_spark(sql)
    paths, opened = _scope_paths(tokens)
    # Table aliases declared in the query SHADOW registered names:
    # ``SELECT db.t FROM orders AS db`` references the alias's column t,
    # not a table registered as ('db','t') — rewriting it would corrupt
    # the column ref into the flattened view name. Shadowing is scoped:
    # an alias suppresses matches only inside the query block that binds
    # it (binding path is a prefix of the match's path), so an alias
    # ``db`` inside one subquery no longer disables rewriting of
    # registered db.t references in unrelated scopes.
    shadowed = _table_aliases(tokens, paths, opened)

    def _is_shadowed(head: str, at: int) -> bool:
        here = paths[at]
        for bound, excluded in shadowed.get(head, ()):
            if here[: len(bound)] != bound:
                continue  # binding scope does not enclose this token
            if (
                excluded is not None
                and len(here) > len(bound)
                and here[len(bound)] == excluded
            ):
                continue  # inside the derived table the alias names
            return True
        return False

    def part_matches(idx: int, part: str) -> bool:
        kind, text = tokens[idx]
        if kind == "word":
            return text.lower() == part.lower()
        if kind == "backtick":
            return text[1:-1].replace("``", "`").lower() == part.lower()
        return False

    def match_at(start: int, qualified: tuple[str, ...]) -> int | None:
        """Token index just past a full dotted match starting at ``start``."""
        i = start
        for n, part in enumerate(qualified):
            if n:
                j = _dialect._next_code(tokens, i)
                if j is None or tokens[j] != ("op", "."):
                    return None
                i = _dialect._next_code(tokens, j)
                if i is None:
                    return None
            if not part_matches(i, part):
                return None
        return i

    out: list[tuple[str, str]] = []
    i = 0
    prev_code: tuple[str, str] | None = None
    # Longest-first so catalog.db.table wins over db.table prefixes.
    by_len = sorted(multi, key=len, reverse=True)
    while i < len(tokens):
        kind, _text = tokens[i]
        hit = None
        # a dotted ref never starts right after a '.' (that would be the
        # tail of an outer qualification, e.g. `other_db.` + our name)
        if kind in ("word", "backtick") and prev_code != ("op", "."):
            for qualified in by_len:
                if _is_shadowed(qualified[0].lower(), i):
                    continue
                end = match_at(i, qualified)
                if end is not None:
                    hit = (qualified, end)
                    break
        if hit is None:
            if kind not in ("ws", "comment"):
                prev_code = tokens[i]
            out.append(tokens[i])
            i += 1
        else:
            qualified, end = hit
            out.append(("word", multi[qualified]))
            prev_code = ("word", multi[qualified])
            i = end + 1
    return "".join(t for _, t in out)


def execute(
    sql: str,
    schema: Mapping[str, Any] | None = None,
    dialect: str | None = None,
    tables: Mapping[str, Any] | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Run ``sql`` against registered ``tables`` and return a lazy DataFrame.

    Parameters mirror the reference (core.py:50-65):

    * ``sql`` — the query, in any supported dialect. Like the reference
      (``sql: str | Expression``), a parsed AST object is accepted too:
      anything with a callable ``.sql()`` renderer (e.g. a sqlglot
      Expression) is rendered in ``dialect`` first — duck-typed, so it
      works whether or not sqlglot is importable here.
    * ``schema`` — optional ``{table: {col: type-string}}`` (possibly nested
      ``{catalog: {db: {table: ...}}}``); used to type list/pandas inputs.
      Spark DataFrames carry their own schema and ignore it.
    * ``dialect`` — input dialect name; transpiled to Spark SQL.
    * ``tables`` — ``{name: DataFrame | pandas.DataFrame | [row dicts]}``,
      nested up to catalog.db.table.
    * ``spark`` — optional explicit session (defaults to the tuned
      process-wide session).

    The tables are visible to this call only: their temp views are
    registered, every statement is analyzed, and the views are dropped
    before ``execute`` returns, so the returned DataFrame keeps its
    resolved plan but no view is left in the catalog. Views a script
    creates itself (``CREATE TEMP VIEW v AS ...``) stay after the call,
    but can no longer read the tables this call registered.
    """
    if not isinstance(sql, str):
        render = getattr(sql, "sql", None)
        if not callable(render):
            raise ExecuteError(
                f"sql must be a string or an AST with a .sql() renderer, got {type(sql).__name__}"
            )
        try:
            sql = render(dialect=dialect) if dialect else render()
        except TypeError:  # renderer without a dialect kwarg
            sql = render()

    spark = spark or get_spark()
    registered: dict[tuple[str, ...], str] = {}
    views: dict[str, DataFrame] = {}
    if tables:
        for qualified, (name, df) in register_tables(
            spark, tables, schema, dialect=dialect
        ).items():
            registered[qualified] = name
            views[name] = df

    # Transpile first: qualified-name rewriting then sees Spark quoting
    # (backticks) regardless of the input dialect's identifier style.
    # READ_CSV rewriting runs on the RAW dialect text, so its
    # literal-span guard must lex the way the source dialect does
    # (backslash escapes for the mysql/clickhouse/bigquery/snowflake/
    # redshift families, '#' comments for mysql).
    text, csv_views = register_csv_reads(spark, sql, schema, dialect=dialect)
    views.update(csv_views)
    text = _dialect.transpile(text, dialect)
    text = _rewrite_qualified_names(text, registered)

    # The snowflake OBJECT_CONSTRUCT rewrite (and any explicit
    # TO_JSON(NAMED_STRUCT(...)) a snowflake query reaches Spark with)
    # matches snowflake's omit-NULL-pairs OBJECT contract only under
    # spark.sql.jsonGenerator.ignoreNullFields=true — the Spark
    # default, but a session conf, so assert it rather than silently
    # diverge. Scoped to the snowflake dialect: in native Spark SQL the
    # user's conf choice IS the requested semantics.
    if (dialect or "").lower() == "snowflake" and _dialect.emits_variant_object(text):
        flag = str(
            spark.conf.get("spark.sql.jsonGenerator.ignoreNullFields", "true")
        ).lower()
        if flag != "true":
            raise UnsupportedError(
                "snowflake OBJECT_CONSTRUCT requires "
                "spark.sql.jsonGenerator.ignoreNullFields=true (the Spark "
                "default): with it false, TO_JSON keeps NULL struct fields "
                "and the result silently diverges from snowflake's "
                "omit-NULL-pairs contract"
            )

    # Multi-statement scripts (CREATE TEMP VIEW …; SELECT …) run
    # sequentially — Spark's sql() takes ONE statement — and the LAST
    # statement's DataFrame is the result, matching every source
    # engine's script semantics. The split is on depth-0 semicolons of
    # the TRANSPILED text (Spark lexing), so literals/comments
    # containing ';' are safe.
    try:
        with _VIEW_LOCK:
            try:
                for name, df in views.items():
                    df.createOrReplaceTempView(name)
                result = None
                for stmt in _split_statements(text):
                    result = spark.sql(stmt)
            finally:
                # the session catalog's own dropTempView: Catalog.dropTempView
                # would also uncache a persisted DataFrame passed as a table
                catalog = spark._jsparkSession.sessionState().catalog()
                for name in views:
                    catalog.dropTempView(name)
        if result is None:
            raise ExecuteError("empty SQL (no statements)")
        return result
    except Exception as exc:
        msg = str(exc)
        if "TABLE_OR_VIEW_NOT_FOUND" in msg or "Table or view not found" in msg:
            raise TableNotFoundError(msg) from exc
        if isinstance(exc, ExecuteError):
            raise
        raise ExecuteError(f"failed to execute query: {msg}") from exc


def _split_statements(text: str) -> list[str]:
    """Split Spark SQL text on top-level ``;`` (paren-depth 0, outside
    literals/comments — the tokenizer guarantees the latter)."""
    tokens = _dialect.tokenize_spark(text)
    stmts: list[str] = []
    buf: list[str] = []
    depth = 0
    for k, t in tokens:
        if (k, t) == ("op", "("):
            depth += 1
        elif (k, t) == ("op", ")"):
            depth -= 1
        if (k, t) == ("op", ";") and depth == 0:
            stmts.append("".join(buf))
            buf = []
        else:
            buf.append(t)
    stmts.append("".join(buf))
    return [s for s in stmts if s.strip()]
