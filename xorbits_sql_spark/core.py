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

# Temp views live in the session-global catalog under the caller's own
# table names. One lock spans a call's view registration, the analysis
# of its statements and the views' removal, so concurrent calls never
# resolve each other's tables and no view outlives its call.
_VIEW_LOCK = threading.Lock()


def _rewrite_qualified_names(sql: str, registered: Mapping[tuple[str, ...], str]) -> str:
    """Rewrite ``catalog.db.table`` / ``db.table`` refs to flat view names.

    Spark temp views are un-namespaced, so nested registrations
    (reference core.py:62-65) are flattened by table.view_name and the SQL
    text updated to match. Plain single-part names need no rewrite.

    Runs after transpile on text lexed the way Spark lexes it
    (tokenize_spark: backtick quoting, backslash string escapes), so a
    registered name inside a literal or comment is never a match. Each
    part matches a bare word or a backtick-quoted identifier,
    case-insensitively (registration keys were case-normalized per
    dialect by table.normalize_name). A match is rewritten when it
    stands in a table position (dialect.table_positions), or when it
    heads a longer dotted chain (``db.t.a``, ``db.t.*``) and the same
    name is a table reference somewhere in the text. Anywhere else
    ``db.t`` is alias ``db``'s column ``t`` and stays as written.
    """
    multi = {q: v for q, v in registered.items() if len(q) > 1}
    if not multi:
        return sql
    tokens = _dialect.tokenize_spark(sql)
    code = list(_dialect._iter_code(tokens))
    dot = ("op", ".")

    def key(tok: tuple[str, str]) -> str | tuple[str, str]:
        kind, text = tok
        if kind == "backtick":
            return text[1:-1].replace("``", "`").lower()
        return text.lower() if kind == "word" else tok

    keys = [key(tokens[i]) for i in code]
    # db.t -> ["db", dot, "t"]; longest first, so catalog.db.t wins over db.t
    pats = {q: [k for part in q for k in (dot, part.lower())][1:] for q in multi}
    by_len = sorted(multi, key=len, reverse=True)

    def match(
        p: int, names: list[tuple[str, ...]], chained: bool = False
    ) -> tuple[tuple[str, ...], int] | None:
        # a dotted ref never starts right after a '.' (that would be the
        # tail of an outer qualification, e.g. `other_db.` + our name)
        if p and keys[p - 1] == dot:
            return None
        for q in names:
            n = len(pats[q])
            if keys[p : p + n] == pats[q] and (not chained or keys[p + n : p + n + 1] == [dot]):
                return q, n
        return None

    at_table = _dialect.table_positions(tokens)
    refs = {p: hit for p, i in enumerate(code) if i in at_table and (hit := match(p, by_len))}
    used = [q for q in by_len if any(q == hit[0] for hit in refs.values())]
    if used:
        for p in range(len(code)):
            if p not in refs and (hit := match(p, used, chained=True)):
                refs[p] = hit
    return _dialect.splice(
        tokens, {code[p]: (code[p + n - 1], multi[q]) for p, (q, n) in refs.items()}
    )


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

    Nested names and ``READ_CSV('path', ...)`` calls are rewritten to
    flat temp-view names where SQL puts a relation: right after
    ``FROM``, ``JOIN``, ``TABLE``, ``INTO`` or ``DESCRIBE``, or after a
    comma inside a FROM clause. A registered ``db.t`` that heads a
    longer chain (``db.t.a``, ``db.t.*``) is rewritten too when
    ``db.t`` is a table reference in the text; elsewhere ``db.t`` is
    alias ``db``'s column ``t``. Known limit: a flattened table is not
    reachable by its last part alone (``SELECT t.a FROM db.t`` fails;
    write ``db.t.a`` or an alias), since an implicit alias ``t`` would
    collide in ``db1.t JOIN db2.t``.

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

    # Transpile first: both table rewrites then see Spark text (backtick
    # quoting, Spark's string escapes) whatever the input dialect.
    text = _dialect.transpile(sql, dialect)
    text, csv_views = register_csv_reads(spark, text, schema)
    views.update(csv_views)
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
