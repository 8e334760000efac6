"""Dialect handling: get arbitrary-dialect SQL into Spark SQL.

The reference delegates all dialect work to SQLGlot (reference
core.py:102 calls sqlglot.optimizer.optimize with a ``dialect=`` arg and
README.md advertises ~20 input dialects). Spark SQL parses only its own
dialect, so this engine transpiles first, with one built-in token-stream
transpiler that covers the cross-dialect constructs real queries
actually hit (quoting styles, TOP n, LIMIT offsets, EPOCH extraction,
tsql/mysql function spellings). sqlglot is never consulted, even when
importable: it would skip the probed semantic fixes here (1-based
subscripts, NULL order, integer division, DOW numbering).

The transpiler is deliberately NOT a full parser, but it is also not blind
regex: the SQL is lexed into tokens (string literals, quoted identifiers,
comments, numbers, words, operators) and every rewrite runs over the
token stream, so string literals and comments can never be corrupted,
and structural rewrites (``TOP n`` → trailing ``LIMIT n``) track paren
depth. Constructs it cannot translate faithfully raise
``UnsupportedError`` instead of silently changing semantics.

One path runs every dialect: ``transpile`` resolves the dialect's
family (postgresql → postgres, presto → trino, ...), lexes, splits
top-level statements, and runs each statement through ``_PASSES``, an
ordered table of ``(dialects, rewrite)`` rows; a row applies when its
set holds the resolved dialect. Passes that rewrite one function call
at a time share one loop, ``_rewrite_calls``: it finds ``NAME(``,
splits the arguments, splices in what the pass builds, and rescans
inside the replacement so nested calls are rewritten too.
"""

from __future__ import annotations

import re
from functools import partial
from typing import AbstractSet, Callable, Container, Iterable

from .errors import UnsupportedError

# dialect aliases accepted by the API (superset of what we special-case)
KNOWN_DIALECTS = {
    None,
    "",
    "spark",
    "databricks",
    "hive",
    "ansi",
    "duckdb",
    "postgres",
    "postgresql",
    "mysql",
    "presto",
    "trino",
    "sqlite",
    "snowflake",
    "redshift",
    "bigquery",
    "clickhouse",
    "oracle",
    "tsql",
    "teradata",
    "doris",
    "starrocks",
    "drill",
    "athena",
    "materialize",
    "spark2",
}

# Family aliases: dialects whose transpiled surface is another
# dialect's (doris/starrocks are mysql-wire with mysql quoting and
# LIMIT syntax; drill is ANSI with double-quoted identifiers). The
# pass table and the lexer only ever see the resolved name.
_DIALECT_FAMILY = {
    "postgresql": "postgres",
    "doris": "mysql",
    "starrocks": "mysql",
    "drill": "ansi",
    # trino is presto's successor and shares its SQL surface; athena
    # engine v2+ is presto/trino under the hood; materialize speaks the
    # postgres wire dialect
    "presto": "trino",
    "athena": "trino",
    "materialize": "postgres",
}

# ClickHouse conversion functions → Spark CAST target types.
_CLICKHOUSE_CASTS = {
    "TOINT8": "TINYINT", "TOINT16": "SMALLINT", "TOINT32": "INT",
    "TOINT64": "BIGINT", "TOUINT8": "SMALLINT", "TOUINT16": "INT",
    "TOUINT32": "BIGINT", "TOUINT64": "DECIMAL(20,0)",
    "TOFLOAT32": "FLOAT", "TOFLOAT64": "DOUBLE",
    "TOSTRING": "STRING", "TODATE": "DATE", "TODATETIME": "TIMESTAMP",
}

# Dialects where "double quoted" means identifier (Spark's default parser
# reads double quotes as strings, so these must become backticks).
_DQUOTE_IDENT_DIALECTS = {
    "duckdb",
    "postgres",
    "trino",
    "snowflake",
    "redshift",
    "oracle",
    "sqlite",
    "ansi",
    "clickhouse",
    "teradata",
    # tsql: double-quoted identifiers are the QUOTED_IDENTIFIER ON
    # default (the legacy OFF mode reads them as strings; that mode is
    # not modeled). Without this, a dquoted alias injected into a
    # generated OVER (ORDER BY ...) parses as a Spark string literal
    # and silently ranks every row equal.
    "tsql",
}

# ---------------------------------------------------------------------------
# Lexer

# One lexer template, three comment/string-escape instantiations —
# keeping the shared branches (identifiers, numbers, operators) in ONE
# place so a future fix cannot silently desynchronize pre- and
# post-transpile lexing.
def _lexer(comment: str, string: str, dquoted: str) -> re.Pattern[str]:
    return re.compile(
        rf"""
      (?P<ws>\s+)
    | (?P<comment>{comment})
    | (?P<string>{string})
    | (?P<dquoted>{dquoted})
    | (?P<backtick>`(?:[^`]|``)*`)
    | (?P<bracket>\[(?:[^\]]|\]\])*\])
    | (?P<number>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<word>[A-Za-z_][\w$]*)
    | (?P<op>::|<=>|<=|>=|<>|!=|\|\||->>|->|.)
    """,
        re.VERBOSE | re.DOTALL,
    )


# ANSI: '' doubles a quote inside a string; backslash is literal.
_TOKEN = _lexer(
    r"--[^\n]*|/\*.*?\*/",
    r"[xX]?'(?:[^']|'')*'",
    r'"(?:[^"]|"")*"',
)

# MySQL-family lexing (mysql + doris/starrocks wire dialects): the
# default sql_mode treats backslash as a string escape, so ``'\''`` is
# one quote INSIDE a string, not a terminator — lexing it with the ANSI
# rule splits the literal and later rewrites corrupt its contents.
# ``#`` also opens a line comment.
_TOKEN_MYSQL = _lexer(
    r"--[^\n]*|\#[^\n]*|/\*.*?\*/",
    r"[xX]?'(?:[^'\\]|''|\\.)*'",
    r'"(?:[^"\\]|""|\\.)*"',
)

# Spark-SQL lexing (for text that is ALREADY Spark SQL, i.e.
# post-transpile): Spark's own parser treats backslash as a string
# escape — ``'it\'s'`` is one literal — so post-transpile rewrites must
# lex the way Spark will, or a registered db.table pattern appearing
# after a ``\'`` inside a literal gets rewritten, silently corrupting
# the string (mysql-family transpiled output legally contains such
# escapes). MySQL escapes minus the ``#`` line comment, which Spark
# does not recognize.
_TOKEN_SPARK = _lexer(
    r"--[^\n]*|/\*.*?\*/",
    r"[xX]?'(?:[^'\\]|''|\\.)*'",
    r'"(?:[^"\\]|""|\\.)*"',
)

# Words that may legally follow a table primary without being an alias:
# the one test behind :func:`alias_at` (READ_CSV's schema lookup, the
# FLATTEN and UNNEST rewrites).
NON_ALIAS_WORDS = frozenset(
    {
        "ON", "USING", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
        "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT", "RIGHT",
        "FULL", "CROSS", "NATURAL", "SEMI", "ANTI", "QUALIFY", "WINDOW",
        "OFFSET", "FETCH", "TABLESAMPLE", "LATERAL", "PIVOT", "UNPIVOT",
        "FOR", "SET", "AS",
    }
)


def tokenize(sql: str, mysql: bool = False) -> list[tuple[str, str]]:
    """Lex ``sql`` into (kind, text) tokens. Lossless: ``''.join(texts)``
    reproduces the input exactly (unterminated quotes degrade to ``op``
    single chars, never an exception — Spark's parser reports those).
    ``mysql=True`` lexes with backslash string escapes and ``#``
    comments (the mysql/doris/starrocks default)."""
    out: list[tuple[str, str]] = []
    for m in (_TOKEN_MYSQL if mysql else _TOKEN).finditer(sql):
        out.append((m.lastgroup or "op", m.group()))
    return out


def tokenize_spark(sql: str) -> list[tuple[str, str]]:
    """Lex ``sql`` the way Spark's parser will (backslash string
    escapes, no ``#`` comments). Use for text that is already Spark SQL
    — i.e. any rewrite that runs after :func:`transpile`."""
    return [(m.lastgroup or "op", m.group()) for m in _TOKEN_SPARK.finditer(sql)]


# Words right before a relation besides FROM (``DESCRIBE [EXTENDED]
# db.t`` names a table too; ``ORDER BY a DESC`` is never followed by one).
_TABLE_WORDS = frozenset(
    {"JOIN", "TABLE", "INTO", "DESCRIBE", "DESC", "EXTENDED", "FORMATTED"}
)

# Clause words that close a FROM clause at its own paren depth, so a
# later depth-0 comma (``GROUP BY a, db.t``) is not a table position.
_FROM_CLAUSE_ENDS = frozenset(
    {
        "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "WINDOW",
        "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "MINUS", "SORT",
        "CLUSTER", "DISTRIBUTE",
    }
)


def table_positions(tokens: list[tuple[str, str]]) -> set[int]:
    """Indices of the code tokens where SQL puts a relation: right after
    ``FROM`` or one of ``_TABLE_WORDS`` (``JOIN``, ``TABLE``, ``INTO``,
    ``DESCRIBE`` ...), and right after a depth-0 comma inside a FROM
    clause (which stays open across ``ON`` conditions). A ``(`` in a
    table position passes it on to its first token, so ``FROM
    ((db.t))`` counts too.

    ``FROM`` opens a table clause at statement level (``FROM t SELECT
    a`` included) and, inside parens, only in a scope that has seen
    ``SELECT`` or ``DELETE`` at its own depth: ``EXTRACT(YEAR FROM x)``,
    ``SUBSTRING(s FROM 2)`` and ``TRIM(BOTH 'x' FROM s)`` hold
    expressions. ``IS [NOT] DISTINCT FROM`` never opens one.
    """
    found: set[int] = set()
    # per paren depth: [FROM may open a table clause, inside one]
    scopes = [[True, False]]
    at = False  # the next code token is a table position
    prev = ""
    for i in _iter_code(tokens):
        tok = tokens[i]
        word = tok[1].upper() if tok[0] == "word" else ""
        if at:
            found.add(i)
        at = at and tok == ("op", "(")
        scope = scopes[-1]
        if tok == ("op", "("):
            scopes.append([False, False])
        elif tok == ("op", ")"):
            if len(scopes) > 1:
                scopes.pop()
        elif tok == ("op", ";"):
            scopes = [[True, False]]
        elif tok == ("op", ","):
            at = scope[1]
        elif word in ("SELECT", "DELETE"):
            scope[:] = [True, False]
        elif word == "FROM":
            if scope[0] and prev != "DISTINCT":
                scope[1] = at = True
        elif word in _TABLE_WORDS:
            at = True
        elif word in _FROM_CLAUSE_ENDS:
            scope[1] = False
        prev = word
    return found


def splice(tokens: list[tuple[str, str]], spans: dict[int, tuple[int, str]]) -> str:
    """Join the token texts, replacing each ``{start: (end, text)}``
    span of tokens (inclusive) by ``text``."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        if i in spans:
            i, text = spans[i]
            out.append(text)
        else:
            out.append(tokens[i][1])
        i += 1
    return "".join(out)


def alias_at(tokens: list[tuple[str, str]], end: int) -> int | None:
    """Index of the alias (``[AS] name``) after the relation whose last
    token is ``end``, or None when a clause word follows instead."""
    a = _next_code(tokens, end)
    if a is not None and tokens[a][0] == "word" and tokens[a][1].upper() == "AS":
        a = _next_code(tokens, a)
    if a is None or tokens[a][0] not in ("word", "backtick") or (
        tokens[a][0] == "word" and tokens[a][1].upper() in NON_ALIAS_WORDS
    ):
        return None
    return a


# Dialects whose string literals treat backslash as an ESCAPE by
# default. Lexing these with the ANSI rule splits a literal at ``\'``
# and later rewrites corrupt its contents — the never-corrupt-literals
# guarantee this module is built on. (postgres proper is NOT here:
# standard_conforming_strings is on by default; redshift, its fork,
# kept the old escaping.)
_BACKSLASH_STRING_DIALECTS = frozenset(
    {"mysql", "clickhouse", "bigquery", "snowflake", "redshift"}
)


def tokenize_dialect(sql: str, dialect: str | None) -> list[tuple[str, str]]:
    """Lex ``sql`` the way ``dialect`` (family-resolved) lexes it:
    backslash-escape-aware for the dialects that escape, plus ``#``
    line comments for the mysql family."""
    d = _DIALECT_FAMILY.get((dialect or "").lower(), (dialect or "").lower())
    if d == "mysql":
        return tokenize(sql, mysql=True)
    if d in _BACKSLASH_STRING_DIALECTS:
        return tokenize_spark(sql)
    return tokenize(sql)


def _unquote(text: str, q: str) -> str:
    return text[1:-1].replace(q + q, q)


def _to_backtick(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# Token-stream rewrites


def _iter_code(tokens: list[tuple[str, str]]) -> Iterable[int]:
    """Indices of semantically meaningful tokens (skip ws/comments)."""
    for i, (kind, _) in enumerate(tokens):
        if kind not in ("ws", "comment"):
            yield i


def _next_code(tokens: list[tuple[str, str]], i: int) -> int | None:
    for j in range(i + 1, len(tokens)):
        if tokens[j][0] not in ("ws", "comment"):
            return j
    return None


def _rewrite_words(
    tokens: list[tuple[str, str]], mapping: dict[str, str]
) -> list[tuple[str, str]]:
    return [
        ("word", mapping[t.upper()]) if k == "word" and t.upper() in mapping else (k, t)
        for k, t in tokens
    ]


def _for_each_scope(
    tokens: list[tuple[str, str]],
    fn: Callable[[list[tuple[str, str]]], list[tuple[str, str]]],
) -> list[tuple[str, str]]:
    """Apply a single-scope structural rewrite to every parenthesized
    scope (innermost first), then to the top level.

    This is what makes the TOP / QUALIFY rewrites compose into nested
    placements (TOP in a subquery, QUALIFY in a CTE body): each scope's
    ``fn`` invocation sees its own clause at depth 0 and treats deeper
    tokens as opaque — by the time an outer scope runs, its subqueries
    have already been rewritten. Unbalanced parens pass through
    untouched; Spark's parser reports those."""
    out: list[tuple[str, str]] = []
    i, n = 0, len(tokens)
    while i < n:
        if tokens[i] == ("op", "("):
            depth, j = 1, i + 1
            while j < n and depth:
                if tokens[j] == ("op", "("):
                    depth += 1
                elif tokens[j] == ("op", ")"):
                    depth -= 1
                j += 1
            if depth:
                return out + tokens[i:]
            out.append(("op", "("))
            out += _for_each_scope(tokens[i + 1 : j - 1], fn)
            out.append(("op", ")"))
            i = j
        else:
            out.append(tokens[i])
            i += 1
    return fn(out)


def _rewrite_top(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """tsql ``SELECT TOP n ...`` → ``SELECT ... LIMIT n`` within ONE
    query scope. Applied through ``_for_each_scope`` so TOP inside a
    subquery / CTE body rewrites in its own scope (the LIMIT lands at
    that scope's end, where it is semantically equivalent).

    ``TOP n WITH TIES`` and ``TOP n PERCENT`` (tsql/teradata) rewrite
    onto the QUALIFY machinery instead of LIMIT: ``RANK() OVER (ORDER
    BY <sort>) <= n`` is provably the same set as "first n rows plus
    ties of row n" (every row tied with row n shares its rank ≤ n; the
    first untied later row's tie-group starts past n, so its rank > n),
    and ``TOP n PERCENT`` takes ``CEILING(COUNT(*) OVER () * n / 100.0)``
    rows via ROW_NUMBER (RANK when combined WITH TIES), matching tsql's
    ceil-of-percent row count. Both need the scope's ORDER BY — without
    one tsql returns arbitrary rows, so that form still raises. TOP and
    LIMIT in the same scope also raises rather than silently changing
    the row set.

    Set-operation scopes split into arms first (TOP binds per SELECT
    block in tsql/teradata); an arm whose rewrite appended a LIMIT or
    a rank wrapper is parenthesized so its trailing clause cannot
    rebind to the whole set operation."""
    segs, seps = _split_set_op_arms(tokens)
    if len(segs) > 1:
        # a trailing depth-0 ORDER BY in the LAST arm belongs to the
        # WHOLE set operation (tsql allows ORDER BY only at the end of
        # a union) — peel it off before per-arm rewriting, else a TOP
        # in that arm consumes it: the union result silently loses its
        # ordering and the ORDER BY instead changes which rows TOP
        # picks. Plain TOP without ORDER BY stays the documented
        # arbitrary subset; PERCENT/WITH TIES still refuse without one.
        last = segs[-1]
        tail: list[tuple[str, str]] = []
        depth = 0
        for i, (kind, text) in enumerate(last):
            if kind == "op" and text == "(":
                depth += 1
            elif kind == "op" and text == ")":
                depth -= 1
            elif depth == 0 and kind == "word" and text.upper() == "ORDER":
                j = _next_code(last, i)
                if j is not None and last[j][0] == "word" and last[j][1].upper() == "BY":
                    tail = last[i:]
                    segs[-1] = last[:i]
                    break
        out: list[tuple[str, str]] = []
        for idx, seg in enumerate(segs):
            new = _rewrite_top(seg)
            if new != seg:
                new = _parenthesize_arm(new)
            out += new
            if idx < len(seps):
                out += seps[idx]
        return out + tail
    depth = 0
    top_at: int | None = None
    n_tokens: list[tuple[str, str]] = []
    end: int | None = None
    percent = False
    ties = False
    for i, (kind, text) in enumerate(tokens):
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif kind == "word" and text.upper() == "TOP":
            j = _next_code(tokens, i)
            if j is None or tokens[j][0] not in ("number", "op"):
                continue  # TOP used as an identifier with no count
            if depth > 0:
                continue  # inner scope: _for_each_scope already ran there
            if top_at is not None:
                raise UnsupportedError(
                    "multiple TOP clauses in one query scope"
                )
            if tokens[j][1] == "(":  # TOP (n)
                k = _next_code(tokens, j)
                close = _next_code(tokens, k) if k is not None else None
                if (
                    k is None
                    or close is None
                    or tokens[k][0] != "number"
                    or tokens[close][1] != ")"
                ):
                    raise UnsupportedError("unsupported TOP expression")
                n_tokens = [tokens[k]]
                end = close
            elif tokens[j][0] == "number":
                n_tokens = [tokens[j]]
                end = j
            else:
                continue
            after = _next_code(tokens, end)
            if (
                after is not None
                and tokens[after][0] == "word"
                and tokens[after][1].upper() == "PERCENT"
            ):
                percent = True
                end = after
                after = _next_code(tokens, end)
            if (
                after is not None
                and tokens[after][0] == "word"
                and tokens[after][1].upper() == "WITH"
            ):
                j2 = _next_code(tokens, after)
                if j2 is None or tokens[j2][0] != "word" or tokens[j2][1].upper() != "TIES":
                    raise UnsupportedError("TOP n WITH <...> other than TIES")
                ties = True
                end = j2
            top_at = i
        elif kind == "word" and text.upper() == "LIMIT" and depth == 0:
            # LIMIT is not reserved in tsql/teradata: a COLUMN named
            # limit must survive. It is a clause only when followed by
            # a count operand — a number, ALL, or a ``?`` parameter
            # placeholder (the forms the appended rewrite could clash
            # with; skipping ALL/? here would emit two LIMIT clauses).
            nxt = _next_code(tokens, i)
            is_clause = nxt is not None and (
                tokens[nxt][0] == "number"
                or (tokens[nxt][0] == "word" and tokens[nxt][1].upper() == "ALL")
                or tokens[nxt] == ("op", "?")
            )
            if top_at is not None and is_clause:
                raise UnsupportedError("both TOP and LIMIT present")
    if top_at is None:
        return tokens
    assert end is not None
    if percent or ties:
        return _top_variant_to_qualify(tokens, top_at, end, n_tokens, percent, ties)
    out = tokens[:top_at] + tokens[end + 1 :]
    # strip one trailing semicolon (re-appended after LIMIT); trailing
    # comments must go too — a `-- note` left in last position would
    # swallow the appended LIMIT into the comment text
    tail = ""
    while out and out[-1][0] in ("ws", "comment"):
        out.pop()
    if out and out[-1] == ("op", ";"):
        out.pop()
        tail = ";"
    out += [("ws", " "), ("word", "LIMIT"), ("ws", " ")] + n_tokens
    if tail:
        out.append(("op", tail))
    return out


def _split_top_level_commas(
    tokens: list[tuple[str, str]]
) -> list[list[tuple[str, str]]]:
    """Split a token run at depth-0 commas (select lists, ORDER BY
    item lists)."""
    items: list[list[tuple[str, str]]] = [[]]
    depth = 0
    for kind, text in tokens:
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        if depth == 0 and (kind, text) == ("op", ","):
            items.append([])
            continue
        items[-1].append((kind, text))
    return items


def _parenthesize_arm(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Wrap a set-op arm in parentheses, from its first depth-0 SELECT
    (a CTE prefix cannot sit inside the parens) to its end, keeping a
    trailing semicolon outside."""
    sel_at = None
    depth = 0
    for i, (kind, text) in enumerate(tokens):
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() == "SELECT":
            sel_at = i
            break
    if sel_at is None:
        return tokens
    body = list(tokens[sel_at:])
    tail: list[tuple[str, str]] = []
    while body and body[-1][0] in ("ws", "comment"):
        body.pop()
    if body and body[-1] == ("op", ";"):
        body.pop()
        tail = [("op", ";")]
    return tokens[:sel_at] + [("op", "(")] + body + [("op", ")"), ("ws", " ")] + tail


def _select_list_aliases(
    items: list[tuple[str, str]]
) -> dict[str, list[tuple[str, str]]]:
    """Map UPPER(alias) → defining-expression tokens for every
    ``expr AS alias`` item in a select list (top-level commas only;
    implicit aliases are not resolved — a bare trailing word is part
    of the expression more often than an alias in the forms this
    serves)."""
    out: dict[str, list[tuple[str, str]]] = {}
    for item in _split_top_level_commas(items):
        code = [
            (p, tok) for p, tok in enumerate(item)
            if tok[0] not in ("ws", "comment")
        ]
        if len(code) < 3:
            continue
        (p_as, as_tok), (_, alias_tok) = code[-2], code[-1]
        if (
            as_tok[0] == "word"
            and as_tok[1].upper() == "AS"
            and alias_tok[0] in ("word", "backtick", "dquoted", "bracket")
        ):
            alias = alias_tok[1]
            if alias_tok[0] != "word":
                alias = alias[1:-1]
            out[alias.upper()] = item[: p_as]
    return out


def _ident_key(tok: tuple[str, str]) -> str:
    """Case-insensitive comparison key of an identifier token,
    unwrapping backtick/double-quote/bracket quoting."""
    kind, text = tok
    if kind == "backtick":
        return _unquote(text, "`").upper()
    if kind == "dquoted":
        return _unquote(text, '"').upper()
    if kind == "bracket":
        return text[1:-1].upper()
    return text.upper()


_CONSTANT_WORDS = frozenset({"NULL", "TRUE", "FALSE"})


def _is_constant_sort_item(code: list[tuple[str, str]]) -> bool:
    """True when an ORDER BY item (sort suffix already stripped) cannot
    reference any column: every token is a literal, a number, or an
    operator/paren. tsql rejects constants in TOP's ORDER BY, and
    letting one into the generated ``OVER (ORDER BY ...)`` silently
    ranks every row equal — so compound forms (``1+1``, ``(1)``,
    ``N'abc'``) must refuse just like bare literals. A SINGLE bare
    integer is a positional ordinal (resolved by the caller), not a
    constant. Anything containing an identifier-ish token (word outside
    NULL/TRUE/FALSE, quoted identifier) is left alone — it may resolve.
    """
    if not code:
        return False
    if len(code) == 1 and code[0][0] == "number" and code[0][1].isdigit():
        return False  # positional ordinal
    i = 0
    while i < len(code):
        kind, text = code[i]
        if kind in ("number", "string"):
            i += 1
            continue
        if kind == "op":  # arithmetic/sign/paren/concat — no column ref
            i += 1
            continue
        if kind == "word":
            up = text.upper()
            if up in _CONSTANT_WORDS:
                i += 1
                continue
            # N'abc' (tsql Unicode literal) lexes as word N + string
            if up == "N" and i + 1 < len(code) and code[i + 1][0] == "string":
                i += 2
                continue
            return False
        return False  # quoted identifier / anything else
    return True


# Words that may appear inside an ORDER BY expression without naming a
# column: literals and the common expression keywords. Function names
# are recognized positionally (word followed by an open paren).
_EXPR_KEYWORDS = frozenset(
    {
        "NULL", "TRUE", "FALSE", "CASE", "WHEN", "THEN", "ELSE", "END",
        "AND", "OR", "NOT", "IS", "IN", "LIKE", "BETWEEN", "AS",
        "COLLATE",
    }
)


def _resolves_in_output(
    code: list[tuple[str, str]], out_names: set[str]
) -> bool:
    """True when an ORDER BY item can resolve against the wrapped
    subquery's OUTPUT columns: every bare identifier in it (word or
    quoted identifier that is not a function call, an expression
    keyword, or a CAST type name) is a select-output name. This admits
    expressions over output columns (``y + 1``, ``ABS(y)``) — legal in
    teradata and resolvable in the wrapper — while still refusing
    references to non-projected source columns, which would otherwise
    surface as a runtime AnalysisException instead of a transpile-time
    refusal. A dotted reference (``t.x``) can never name the wrapper's
    output, so it refuses."""
    if not code:
        return False
    for i, (kind, text) in enumerate(code):
        if kind in ("number", "string", "op"):
            continue
        is_ident = kind in ("word", "dquoted", "backtick", "bracket")
        if not is_ident:
            return False
        if kind == "word" and text.upper() in _EXPR_KEYWORDS:
            continue
        # N is a keyword only as the nvarchar literal prefix (N'...');
        # a bare N is a column reference and must resolve like any
        # other identifier — keyword-listing it unconditionally let
        # ``ORDER BY N`` (no output column n) through to a runtime
        # AnalysisException instead of the transpile-time refusal this
        # validation exists to give (round-6 ADVICE).
        if (
            kind == "word"
            and text.upper() == "N"
            and i + 1 < len(code)
            and code[i + 1][0] == "string"
        ):
            continue
        nxt = code[i + 1] if i + 1 < len(code) else None
        prv = code[i - 1] if i > 0 else None
        if nxt == ("op", "("):  # function name
            continue
        if prv is not None and prv[0] == "word" and prv[1].upper() == "AS":
            continue  # CAST(x AS INT): a type name, not a column
        if prv == ("op", ".") or nxt == ("op", "."):  # qualified ref
            return False
        if _ident_key((kind, text)) not in out_names:
            return False
    return True


def _strip_sort_suffix(item: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Code tokens of an ORDER BY item with trailing ASC/DESC/NULLS
    FIRST|LAST removed — the bare sort expression."""
    code = [tok for tok in item if tok[0] not in ("ws", "comment")]
    while code and code[-1][0] == "word" and code[-1][1].upper() in (
        "ASC", "DESC", "NULLS", "FIRST", "LAST",
    ):
        code.pop()
    return code


def _item_expression(
    item: list[tuple[str, str]],
) -> list[tuple[str, str]] | None:
    """Defining expression of a select-list item, or None when it
    cannot be cleanly separated at token level.

    Handles ``expr AS alias`` (alias stripped, mirroring
    ``_select_list_aliases``) and single-code-token items (a bare
    column). Multi-token items WITHOUT an AS alias are ambiguous
    (``COUNT(*) cnt`` carries an implicit alias, ``a + b`` does not —
    both end in a word), and ``*`` cannot be an ordinal target."""
    code = [
        (p, tok) for p, tok in enumerate(item)
        if tok[0] not in ("ws", "comment")
    ]
    if not code:
        return None
    if len(code) >= 3:
        (p_as, as_tok), (_, alias_tok) = code[-2], code[-1]
        if (
            as_tok[0] == "word"
            and as_tok[1].upper() == "AS"
            and alias_tok[0] in ("word", "backtick", "dquoted", "bracket")
        ):
            return item[: p_as]
    # bare or qualified name: (word|quoted) (. (word|quoted))* exactly —
    # an implicit alias breaks the alternation (``t.price p`` has two
    # consecutive name tokens), so the pattern is unambiguous
    name_kinds = ("word", "backtick", "dquoted", "bracket")
    ok = True
    for i, (_, tok) in enumerate(code):
        if i % 2 == 0:
            ok = ok and tok[0] in name_kinds
        else:
            ok = ok and tok == ("op", ".")
    if ok and len(code) % 2 == 1:
        return [tok for _, tok in code]
    return None


def _item_output_name(
    item: list[tuple[str, str]],
) -> tuple[str, str] | None:
    """Output-column name token of a select-list item, or None when it
    has no token-recoverable name: the AS alias when present, else the
    last segment of a bare/qualified column reference (same
    separability rules as ``_item_expression``)."""
    code = [tok for tok in item if tok[0] not in ("ws", "comment")]
    if not code:
        return None
    if len(code) >= 3 and code[-2][0] == "word" and code[-2][1].upper() == "AS":
        if code[-1][0] in ("word", "backtick", "dquoted", "bracket"):
            return code[-1]
    name_kinds = ("word", "backtick", "dquoted", "bracket")
    ok = len(code) % 2 == 1
    for i, tok in enumerate(code):
        if i % 2 == 0:
            ok = ok and tok[0] in name_kinds
        else:
            ok = ok and tok == ("op", ".")
    return code[-1] if ok else None


def _top_variant_to_qualify(
    tokens: list[tuple[str, str]],
    top_at: int,
    end: int,
    n_tokens: list[tuple[str, str]],
    percent: bool,
    ties: bool,
) -> list[tuple[str, str]]:
    """``TOP n [PERCENT] [WITH TIES]`` → a wrapped subquery that
    computes the rank as a helper column and filters one level up::

        SELECT * EXCEPT (__topk[, __tot]) FROM (
          SELECT <list>, RANK() OVER (ORDER BY <sort>) AS __topk
                       [, COUNT(*) OVER () AS __tot]
          FROM <rest-of-scope>
        ) WHERE __topk <= <bound> ORDER BY __topk

    The window runs inside the wrapper, where every FROM column is
    visible — so ORDER BY on a non-projected column (legal in tsql)
    works — and the outer ORDER BY on the helper reproduces the
    scope's sort. See ``_rewrite_top`` for the set-equivalence
    argument."""
    select_at: int | None = None
    from_at: int | None = None
    wrap_scope = False
    depth = 0
    for i, (kind, text) in enumerate(tokens[:top_at]):
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() == "SELECT":
            select_at = i
            j = _next_code(tokens, i)
            if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() == "DISTINCT":
                # tsql applies TOP AFTER DISTINCT, so the rank must run
                # OUTSIDE the distinct scope: wrap the whole
                # SELECT DISTINCT ... FROM ... in a subquery and rank
                # over its output columns (where select-list aliases
                # are real columns and ordinals map to output names).
                wrap_scope = True
    if select_at is None:
        raise UnsupportedError("could not locate SELECT for TOP rewrite")
    depth = 0
    order_at: int | None = None
    order_start: int | None = None
    order_end = len(tokens)
    for i in range(end + 1, len(tokens)):
        kind, text = tokens[i]
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif depth == 0 and kind == "word":
            up = text.upper()
            if up == "FROM" and from_at is None:
                from_at = i
            elif up == "ORDER":
                j = _next_code(tokens, i)
                if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() == "BY":
                    order_at = i
                    order_start = j + 1
            elif up in ("LIMIT", "OFFSET", "FETCH") and order_at is not None:
                # clause-shaped only: LIMIT/OFFSET followed by a
                # number, FETCH followed by FIRST/NEXT — bare words are
                # identifiers in tsql/teradata (LIMIT is not reserved)
                j = _next_code(tokens, i)
                is_clause = j is not None and (
                    (up in ("LIMIT", "OFFSET") and tokens[j][0] == "number")
                    or (
                        up == "FETCH"
                        and tokens[j][0] == "word"
                        and tokens[j][1].upper() in ("FIRST", "NEXT")
                    )
                )
                if is_clause:
                    raise UnsupportedError(
                        "TOP PERCENT / WITH TIES combined with LIMIT/OFFSET/FETCH"
                    )
        elif depth == 0 and (kind, text) == ("op", ";") and order_at is not None:
            order_end = i
            break
    if order_at is None or order_start is None:
        # Without ORDER BY the tsql result is an arbitrary subset —
        # refuse instead of inventing an order.
        raise UnsupportedError("TOP PERCENT / WITH TIES requires ORDER BY")
    if from_at is None:
        raise UnsupportedError("could not locate FROM for TOP rewrite")
    depth = 0
    for i in range(end + 1, order_at):
        kind, text = tokens[i]
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() == "QUALIFY":
            # teradata applies QUALIFY before TOP, so rank OUTSIDE the
            # QUALIFY scope: the same subquery wrap as DISTINCT keeps
            # the QUALIFY inside the wrapper (where the later
            # _rewrite_qualify pass processes that inner scope) and the
            # TOP rank filters its post-QUALIFY output.
            wrap_scope = True
    order_exprs = tokens[order_start:order_end]
    # positional sort keys are select-list ordinals in the scope's
    # ORDER BY but constants inside OVER (ORDER BY ...) — resolve a
    # BARE top-level integer item (integers inside expressions like
    # ROUND(x, 2) or price % 100 are fine) to the ordinal's select-list
    # expression before injecting into the window. Only cleanly
    # separable items resolve: ``expr AS alias`` (alias stripped) or a
    # single-token item; anything else (implicit aliases, ``*``) is
    # ambiguous at token level and refuses loudly.
    for item in _split_top_level_commas(order_exprs):
        code = _strip_sort_suffix(item)
        if _is_constant_sort_item(code):
            raise UnsupportedError(
                "constant ORDER BY item "
                f"{''.join(t for _, t in code)!r} in TOP rewrite"
            )
    positional = any(
        len(code) == 1 and code[0][0] == "number" and code[0][1].isdigit()
        for item in _split_top_level_commas(order_exprs)
        for code in [_strip_sort_suffix(item)]
    )
    if positional:
        select_items = _split_top_level_commas(tokens[end + 1 : from_at])
        rebuilt_pos: list[list[tuple[str, str]]] = []
        for item in _split_top_level_commas(order_exprs):
            code_at = [
                i for i, tok in enumerate(item)
                if tok[0] not in ("ws", "comment")
            ]
            k = len(code_at)
            while k and item[code_at[k - 1]][0] == "word" and item[
                code_at[k - 1]
            ][1].upper() in ("ASC", "DESC", "NULLS", "FIRST", "LAST"):
                k -= 1
            expr_at = code_at[:k]
            if (
                len(expr_at) == 1
                and item[expr_at[0]][0] == "number"
                and item[expr_at[0]][1].isdigit()
            ):
                ordinal = int(item[expr_at[0]][1])
                if not 1 <= ordinal <= len(select_items):
                    raise UnsupportedError(
                        f"ORDER BY ordinal {ordinal} is out of range "
                        f"for the {len(select_items)}-item select list"
                    )
                if wrap_scope:
                    # the rank runs over the wrapped DISTINCT scope's
                    # OUTPUT columns, so an ordinal maps to the item's
                    # output NAME, not its defining expression
                    name = _item_output_name(select_items[ordinal - 1])
                    target = [name] if name is not None else None
                else:
                    target = _item_expression(select_items[ordinal - 1])
                if target is None:
                    raise UnsupportedError(
                        f"ORDER BY ordinal {ordinal} names a select "
                        "item whose expression cannot be separated at "
                        "token level (implicit alias or *) — add an "
                        "explicit AS alias"
                    )
                i = expr_at[0]
                item = (
                    item[:i]
                    + [("op", "(")]
                    + target
                    + [("op", ")")]
                    + item[i + 1 :]
                )
            rebuilt_pos.append(item)
        order_exprs = [
            tok
            for i, item in enumerate(rebuilt_pos)
            for tok in ([("op", ",")] if i else []) + item
        ]
    # ORDER BY may reference select-list aliases; tsql resolves ONLY a
    # BARE top-level item as an alias (names inside expressions bind to
    # FROM columns), and the injected window runs IN the same
    # projection, where Spark rejects lateral alias references inside
    # window expressions — so substitute the defining expression for
    # exactly those bare items and leave expression-interior words to
    # resolve against FROM columns, as tsql does.
    # (in the DISTINCT form the window ranks the wrapped subquery's
    # output, where every select-list alias IS a real column — no
    # substitution needed or wanted)
    aliases = {} if wrap_scope else _select_list_aliases(tokens[end + 1 : from_at])
    if aliases:
        rebuilt: list[list[tuple[str, str]]] = []
        for item in _split_top_level_commas(order_exprs):
            code_at = [
                i for i, tok in enumerate(item)
                if tok[0] not in ("ws", "comment")
            ]
            k = len(code_at)
            while k and item[code_at[k - 1]][0] == "word" and item[
                code_at[k - 1]
            ][1].upper() in ("ASC", "DESC", "NULLS", "FIRST", "LAST"):
                k -= 1
            expr_at = code_at[:k]
            if (
                len(expr_at) == 1
                and item[expr_at[0]][0] == "word"
                and item[expr_at[0]][1].upper() in aliases
            ):
                i = expr_at[0]
                item = (
                    item[:i]
                    + [("op", "(")]
                    + aliases[item[i][1].upper()]
                    + [("op", ")")]
                    + item[i + 1 :]
                )
            rebuilt.append(item)
        order_exprs = [
            tok
            for i, item in enumerate(rebuilt)
            for tok in ([("op", ",")] if i else []) + item
        ]
    if wrap_scope:
        # the window ranks the wrapped subquery's OUTPUT — an ORDER BY
        # item referencing a non-projected source column (legal in
        # teradata, and in tsql only pre-DISTINCT) cannot resolve
        # there, and letting it through would surface as a runtime
        # AnalysisException instead of a transpile-time refusal.
        # Validate: every item must be an output column name (ordinals
        # were already rewritten to one above). A star select item
        # projects every source column, so validation is skipped.
        select_items = _split_top_level_commas(tokens[end + 1 : from_at])

        def _is_star_item(it: list[tuple[str, str]]) -> bool:
            # only a bare top-level `*` or a qualified `name.*` projects
            # source columns; a `*` inside a function call (COUNT(*)) or
            # a multiplication does NOT, and treating it as one skipped
            # this validation entirely — SELECT DISTINCT TOP .. COUNT(*)
            # AS n .. ORDER BY bogus then surfaced as a runtime
            # AnalysisException instead of a transpile-time refusal.
            code = [tok for tok in it if tok[0] not in ("ws", "comment")]
            if code == [("op", "*")]:
                return True
            return (
                len(code) >= 3
                and code[-1] == ("op", "*")
                and code[-2] == ("op", ".")
            )

        has_star = any(_is_star_item(it) for it in select_items)
        if not has_star:
            out_names = set()
            for it in select_items:
                name = _item_output_name(it)
                if name is not None:
                    out_names.add(_ident_key(name))
            for item in _split_top_level_commas(order_exprs):
                code = _strip_sort_suffix(item)
                # parenthesized single-name items come from the ordinal
                # rewrite: ( name )
                if (
                    len(code) == 3
                    and code[0] == ("op", "(")
                    and code[2] == ("op", ")")
                ):
                    code = [code[1]]
                if not _resolves_in_output(code, out_names):
                    raise UnsupportedError(
                        "ORDER BY under a DISTINCT/QUALIFY TOP rewrite "
                        "must reference only select-output column "
                        "names or ordinals (the rank runs over the "
                        "wrapped scope's output, where other "
                        "expressions may not resolve)"
                    )
    # a line comment among the sort tokens would land inside the
    # generated OVER (ORDER BY ...) and swallow `) AS __topk FROM ...`
    # into the comment text (the plain-TOP LIMIT path strips these the
    # same way) — comments are whitespace-equivalent, so blank them
    order_exprs = [
        ("ws", " ") if kind == "comment" else (kind, text)
        for kind, text in order_exprs
    ]
    rank_fn = "RANK" if ties else "ROW_NUMBER"
    helpers: list[tuple[str, str]] = [
        ("op", ","), ("ws", " "),
        ("word", rank_fn), ("op", "("), ("op", ")"), ("ws", " "),
        ("word", "OVER"), ("ws", " "), ("op", "("),
        ("word", "ORDER"), ("ws", " "), ("word", "BY"), ("ws", " "),
    ] + list(order_exprs) + [
        ("op", ")"), ("ws", " "), ("word", "AS"), ("ws", " "),
        ("word", "__topk"), ("ws", " "),
    ]
    except_cols: list[tuple[str, str]] = [("word", "__topk")]
    if percent:
        helpers += [
            ("op", ","), ("ws", " "),
            ("word", "COUNT"), ("op", "("), ("op", "*"), ("op", ")"),
            ("ws", " "), ("word", "OVER"), ("ws", " "), ("op", "("), ("op", ")"),
            ("ws", " "), ("word", "AS"), ("ws", " "), ("word", "__tot"),
            ("ws", " "),
        ]
        except_cols += [("op", ","), ("ws", " "), ("word", "__tot")]
        bound: list[tuple[str, str]] = [
            ("word", "CEILING"), ("op", "("),
            ("word", "__tot"), ("ws", " "), ("op", "*"), ("ws", " "),
        ] + n_tokens + [
            ("ws", " "), ("op", "/"), ("ws", " "), ("number", "100.0"),
            ("op", ")"),
        ]
    else:
        bound = n_tokens
    if wrap_scope:
        # rank OUTSIDE the distinct scope: DISTINCT collapses first
        # (tsql applies TOP after DISTINCT), then the helper window
        # ranks the collapsed rows by their output columns
        inner = (
            [("word", "SELECT"), ("ws", " "), ("op", "*")]
            + helpers
            + [("word", "FROM"), ("ws", " "), ("op", "(")]
            + tokens[select_at:top_at]   # SELECT DISTINCT
            + tokens[end + 1 : from_at]  # the select list
            + tokens[from_at:order_at]   # FROM ... WHERE ... GROUP BY ...
            + [("op", ")"), ("ws", " "), ("word", "AS"), ("ws", " "),
               ("word", "__xss_dt"), ("ws", " ")]
        )
    else:
        inner = (
            tokens[select_at:top_at]     # SELECT + any pre-TOP tokens
            + tokens[end + 1 : from_at]  # the select list
            + helpers
            + tokens[from_at:order_at]   # FROM ... WHERE ... GROUP BY ...
        )
    return (
        tokens[:select_at]
        + [
            ("word", "SELECT"), ("ws", " "), ("op", "*"), ("ws", " "),
            ("word", "EXCEPT"), ("ws", " "), ("op", "("),
        ]
        + except_cols
        + [("op", ")"), ("ws", " "), ("word", "FROM"), ("ws", " "), ("op", "(")]
        + inner
        + [
            ("op", ")"), ("ws", " "),
            ("word", "WHERE"), ("ws", " "), ("word", "__topk"),
            ("ws", " "), ("op", "<="), ("ws", " "),
        ]
        + bound
        + [
            ("ws", " "), ("word", "ORDER"), ("ws", " "), ("word", "BY"),
            ("ws", " "), ("word", "__topk"),
        ]
        + tokens[order_end:]             # trailing ";" if present
    )


def _is_set_op_keyword(tokens: list[tuple[str, str]], i: int) -> bool:
    """True when the UNION/INTERSECT/EXCEPT/MINUS word at ``i`` is a
    set operator — i.e. followed by [ALL|DISTINCT] SELECT or by a
    parenthesized SELECT/WITH — rather than BigQuery/Spark's
    select-list ``* EXCEPT (col, ...)``, whose parens hold
    identifiers."""
    j = _next_code(tokens, i)
    if j is None:
        return False
    if tokens[j][0] == "word" and tokens[j][1].upper() in ("ALL", "DISTINCT"):
        j = _next_code(tokens, j)
        if j is None:
            return False
    if tokens[j][0] == "word" and tokens[j][1].upper() == "SELECT":
        return True
    if tokens[j] == ("op", "("):
        k = _next_code(tokens, j)
        return (
            k is not None
            and tokens[k][0] == "word"
            and tokens[k][1].upper() in ("SELECT", "WITH")
        )
    return False


def _split_set_op_arms(
    tokens: list[tuple[str, str]]
) -> tuple[list[list[tuple[str, str]]], list[list[tuple[str, str]]]]:
    """Split one paren scope into its set-operation arms at depth-0
    UNION / INTERSECT / EXCEPT / MINUS keywords (set-op vs select-list
    ``* EXCEPT (col)`` disambiguated by ``_is_set_op_keyword``).
    Returns (segments, separators); a scope with no set op returns
    ([tokens], [])."""
    segs: list[list[tuple[str, str]]] = []
    seps: list[list[tuple[str, str]]] = []
    depth = 0
    last = 0
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif (
            depth == 0
            and kind == "word"
            and text.upper() in ("UNION", "INTERSECT", "EXCEPT", "MINUS")
            and _is_set_op_keyword(tokens, i)
        ):
            segs.append(tokens[last:i])
            sep_end = i
            j = _next_code(tokens, i)
            if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() in (
                "ALL",
                "DISTINCT",
            ):
                sep_end = j
            seps.append(tokens[i : sep_end + 1])
            last = i = sep_end + 1
            continue
        i += 1
    segs.append(tokens[last:])
    return segs, seps


def _rewrite_qualify(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """QUALIFY rewrite for one paren scope, set-operation aware: the
    scope is split into its set-op arms and the single-arm rewrite
    runs on each arm independently — QUALIFY binds per SELECT block in
    every source dialect, and a trailing ORDER BY / LIMIT stays at the
    very end where it binds the whole set operation, unchanged."""
    segs, seps = _split_set_op_arms(tokens)
    if len(segs) == 1:
        return _rewrite_qualify_one(tokens)
    out: list[tuple[str, str]] = []
    for idx, seg in enumerate(segs):
        out += _rewrite_qualify_one(seg)
        if idx < len(seps):
            out += seps[idx]
    return out


def _rewrite_qualify_one(
    tokens: list[tuple[str, str]],
    extra_except: tuple[str, ...] = (),
) -> list[tuple[str, str]]:
    """``SELECT cols FROM ... QUALIFY pred [tail]`` →
    ``SELECT * EXCEPT (__qualify) FROM (SELECT cols, (pred) AS
    __qualify FROM ...) WHERE __qualify [tail]`` (duckdb/snowflake/
    bigquery/clickhouse post-window filter; Spark has no QUALIFY
    clause), applied per query scope through ``_for_each_scope`` so
    QUALIFY inside a subquery or CTE body rewrites in place, and per
    set-op arm through ``_rewrite_qualify``.

    Window functions cannot appear in WHERE, so the predicate is hoisted
    into the projection and filtered one level up; ORDER BY / LIMIT
    after QUALIFY move outside the wrapper, where they logically apply.
    ``SELECT DISTINCT`` hoists the DISTINCT to the OUTER select (the
    source dialects evaluate QUALIFY before DISTINCT, and the helper
    column is excluded from the outer projection so dedup sees exactly
    the original columns); a bare ``*`` select list is fine for the same
    reason. ``extra_except`` names additional helper columns the caller
    planted in the select list (the DISTINCT ON key carriers) that must
    be excluded from the outer projection alongside ``__qualify``.
    """
    depth = 0
    q_at: int | None = None
    for i, (kind, text) in enumerate(tokens):
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif kind == "word" and text.upper() == "QUALIFY":
            if depth > 0:
                continue  # inner scope: _for_each_scope already ran there
            if q_at is not None:
                raise UnsupportedError(
                    "multiple QUALIFY clauses in one query scope"
                )
            q_at = i
    if q_at is None:
        return tokens

    select_at: int | None = None
    from_at: int | None = None
    distinct_at: int | None = None
    depth = 0
    for i, (kind, text) in enumerate(tokens[:q_at]):
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif kind == "word" and depth == 0:
            up = text.upper()
            if up == "SELECT" and select_at is None:
                select_at = i
                j = _next_code(tokens, i)
                if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() == "DISTINCT":
                    distinct_at = j
            elif up == "FROM" and select_at is not None and from_at is None:
                from_at = i
    if select_at is None or from_at is None:
        raise UnsupportedError("could not locate SELECT ... FROM for QUALIFY rewrite")

    # predicate runs until a depth-0 tail keyword / set op / semicolon
    depth = 0
    pred_end = len(tokens)
    tail_start = len(tokens)
    for i in range(q_at + 1, len(tokens)):
        kind, text = tokens[i]
        if kind == "op" and text == "(":
            depth += 1
        elif kind == "op" and text == ")":
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() in ("UNION", "INTERSECT", "EXCEPT"):
            raise UnsupportedError(
                "QUALIFY feeding a set operation is not supported"
            )
        elif depth == 0 and (
            (kind == "word" and text.upper() in ("ORDER", "LIMIT", "OFFSET", "FETCH", "WINDOW"))
            or (kind == "op" and text == ";")
        ):
            pred_end = tail_start = i
            break
    pred = tokens[q_at + 1 : pred_end]

    # A trailing WINDOW clause defines the named windows the hoisted
    # predicate (and the original select list) reference via OVER w —
    # it must move INSIDE the wrapper, not into the outer tail, or the
    # inner OVER w has no definition in scope (bigquery places WINDOW
    # after QUALIFY). ORDER/LIMIT after it stay outside, where they
    # logically apply.
    window_clause: list[tuple[str, str]] = []
    if (
        tail_start < len(tokens)
        and tokens[tail_start][0] == "word"
        and tokens[tail_start][1].upper() == "WINDOW"
    ):
        depth = 0
        w_end = len(tokens)
        for i in range(tail_start + 1, len(tokens)):
            kind, text = tokens[i]
            if kind == "op" and text == "(":
                depth += 1
            elif kind == "op" and text == ")":
                depth -= 1
            elif depth == 0 and (
                (kind == "word" and text.upper() in ("ORDER", "LIMIT", "OFFSET", "FETCH"))
                or (kind == "op" and text == ";")
            ):
                w_end = i
                break
        window_clause = [("ws", " ")] + tokens[tail_start:w_end]
        tail_start = w_end

    out: list[tuple[str, str]] = []
    out += tokens[:select_at]
    out += [("word", "SELECT"), ("ws", " ")]
    if distinct_at is not None:
        # QUALIFY is evaluated BEFORE DISTINCT in the source dialects:
        # filter inside the wrapper, dedup outside it (over the original
        # columns only — __qualify is excluded from the projection).
        out += [("word", "DISTINCT"), ("ws", " ")]
    out += [
        ("op", "*"),
        ("ws", " "),
        ("word", "EXCEPT"),
        ("ws", " "),
        ("op", "("),
        ("word", "__qualify"),
    ]
    for name in extra_except:
        out += [("op", ","), ("ws", " "), ("word", name)]
    out += [
        ("op", ")"),
        ("ws", " "),
        ("word", "FROM"),
        ("ws", " "),
        ("op", "("),
    ]
    out += [
        tok
        for idx, tok in enumerate(tokens[select_at:from_at], start=select_at)
        if idx != distinct_at
    ]
    out += [("op", ","), ("ws", " "), ("op", "(")] + pred + [("op", ")"), ("ws", " "), ("word", "AS"), ("ws", " "), ("word", "__qualify"), ("ws", " ")]
    out += tokens[from_at:q_at]
    out += window_clause
    out += [("op", ")"), ("ws", " "), ("word", "WHERE"), ("ws", " "), ("word", "__qualify"), ("ws", " ")]
    out += tokens[tail_start:]
    return out


def _rewrite_func_names(
    tokens: list[tuple[str, str]], mapping: dict[str, str]
) -> list[tuple[str, str]]:
    """Rename function calls only: a word rewrites iff its next code
    token is ``(`` — identifiers that happen to share the name survive,
    as do quantified-subquery keywords (``= ANY (SELECT ...)``), guarded
    by skipping calls whose first inner token is SELECT."""
    out = list(tokens)
    for i in _iter_code(out):
        kind, text = out[i]
        if kind == "word" and text.upper() in mapping:
            j = _next_code(out, i)
            if j is not None and out[j] == ("op", "("):
                k = _next_code(out, j)
                if k is not None and out[k][0] == "word" and out[k][1].upper() == "SELECT":
                    continue
                out[i] = ("word", mapping[text.upper()])
    return out


def _call_args(
    tokens: list[tuple[str, str]], open_at: int
) -> tuple[list[list[tuple[str, str]]], int] | None:
    """Split ``FUNC( ... )`` starting at the ``(`` into top-level-comma
    argument token lists. Returns (args, index_of_closing_paren) or None
    if the parens never balance."""
    depth = 0
    args: list[list[tuple[str, str]]] = [[]]
    for p in range(open_at, len(tokens)):
        kind, text = tokens[p]
        if (kind, text) == ("op", "("):
            depth += 1
            if depth == 1:
                continue
        elif (kind, text) == ("op", ")"):
            depth -= 1
            if depth == 0:
                return [a for a in args], p
        elif (kind, text) == ("op", ",") and depth == 1:
            args.append([])
            continue
        args[-1].append((kind, text))
    return None


_Tokens = list[tuple[str, str]]


def _rewrite_calls(
    tokens: _Tokens,
    names: Container[str],
    build: Callable[[str, list[_Tokens]], _Tokens | None],
) -> _Tokens:
    """The shared call loop: each ``NAME(args)`` whose upper-cased NAME
    is in ``names`` is replaced, name through closing paren, by
    ``build(name_as_written, args)``; ``None`` leaves the call alone.

    Scanning resumes after the replacement's FIRST token, so calls
    nested in the arguments are rewritten as the scan reaches them. A
    replacement must therefore not hold, after its first token, a call
    that ``build`` would rewrite again. Unbalanced parens leave the
    call for Spark's parser."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind == "word" and text.upper() in names:
            j = _next_code(out, i)
            if j is not None and out[j] == ("op", "("):
                parsed = _call_args(out, j)
                if parsed is not None:
                    repl = build(text, parsed[0])
                    if repl is not None:
                        out[i : parsed[1] + 1] = repl
        i += 1
    return out


def _join_args(args: list[_Tokens], sep: str = ",") -> _Tokens:
    """Argument token lists joined with ``sep`` (the inverse of
    ``_call_args``' split when ``sep`` is the bare comma)."""
    out: _Tokens = []
    for idx, a in enumerate(args):
        out += tokenize(sep) + a if idx else a
    return out


# Snowflake / T-SQL date-part spellings → Spark unit keywords.
_DATE_PARTS = {
    "YEAR": "YEAR", "YY": "YEAR", "YYYY": "YEAR", "YR": "YEAR", "YEARS": "YEAR",
    "QUARTER": "QUARTER", "QQ": "QUARTER", "Q": "QUARTER", "QTR": "QUARTER",
    "MONTH": "MONTH", "MM": "MONTH", "MON": "MONTH", "MONTHS": "MONTH",
    "WEEK": "WEEK", "WK": "WEEK", "WW": "WEEK", "WEEKS": "WEEK",
    "DAY": "DAY", "DD": "DAY", "D": "DAY", "DAYS": "DAY",
    "HOUR": "HOUR", "HH": "HOUR", "HRS": "HOUR", "HOURS": "HOUR",
    "MINUTE": "MINUTE", "MI": "MINUTE", "N": "MINUTE", "MINS": "MINUTE",
    "MINUTES": "MINUTE",
    "SECOND": "SECOND", "SS": "SECOND", "S": "SECOND", "SECS": "SECOND",
    "SECONDS": "SECOND",
}

_UNIT_MICROS = {"HOUR": 3_600_000_000, "MINUTE": 60_000_000, "SECOND": 1_000_000}


def _date_part(arg: list[tuple[str, str]]) -> str:
    """Normalize a date-part argument (bare word or 'quoted') to a Spark
    unit keyword; raises on parts the transpiler can't translate (e.g.
    DAYOFYEAR, EPOCH, NANOSECOND — unit semantics differ)."""
    code = [(k, t) for k, t in arg if k not in ("ws", "comment")]
    if len(code) != 1:
        raise UnsupportedError("unsupported date part expression")
    kind, text = code[0]
    name = _unquote(text, "'") if kind == "string" else text
    unit = _DATE_PARTS.get(name.upper())
    if unit is None:
        raise UnsupportedError(
            f"date part {name!r} is not supported"
        )
    return unit


def _rewrite_dateadd_datediff(
    tokens: list[tuple[str, str]], week_start: str = "monday"
) -> list[tuple[str, str]]:
    """Snowflake / T-SQL ``DATEADD(part, n, expr)`` and
    ``DATEDIFF(part, a, b)`` → Spark equivalents with the source
    engines' BOUNDARY-CROSSING semantics.

    DATEADD maps to ``TIMESTAMPADD(unit, n, expr)`` (result is a
    TIMESTAMP even for DATE input — cast the result if a DATE is
    needed). DATEDIFF in both source dialects counts unit-boundary
    crossings, NOT elapsed complete units, so it does NOT map to
    Spark's TIMESTAMPDIFF: ``DATEDIFF(year, '2019-12-31',
    '2020-01-01')`` is 1. Each unit therefore rewrites to exact
    boundary arithmetic (calendar-index differences for YEAR/QUARTER/
    MONTH, truncated-date day counts for WEEK/DAY, truncated-epoch
    division for HOUR/MINUTE/SECOND).

    ``week_start``: T-SQL's DATEDIFF(week) counts SUNDAY boundaries
    regardless of DATEFIRST, while Snowflake's default weeks and
    redshift's (postgres-derived — its DATE_TRUNC('week') is
    Monday-anchored, and DATEDIFF counts the same boundaries) start
    Monday — Spark's DATE_TRUNC('WEEK') is Monday, so the Sunday
    dialect truncates via the shift-by-one-day identity
    (Sunday-of-week(x) = Monday-of-week(x + 1 day) - 1 day).
    """
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) == 2 and up == "DATEDIFF":
            # two-arg DATEDIFF(end, start) is the mysql/spark spelling;
            # leave it for the native parser.
            return None
        if len(args) != 3:
            raise UnsupportedError(
                f"{up} expects (part, x, y) in this dialect"
            )
        unit = _date_part(args[0])
        a, b = args[1], args[2]
        if up == "DATEADD":
            repl = (
                tokenize(f"TIMESTAMPADD({unit}, ")
                + a
                + tokenize(", ")
                + b
                + tokenize(")")
            )
        elif unit in ("YEAR", "QUARTER", "MONTH"):
            per_year = {"YEAR": 1, "QUARTER": 4, "MONTH": 12}[unit]
            def _idx(e: list[tuple[str, str]]) -> list[tuple[str, str]]:
                if per_year == 1:
                    return tokenize("YEAR(") + e + tokenize(")")
                return (
                    tokenize(f"(YEAR(")
                    + e
                    + tokenize(f") * {per_year} + {unit}(")
                    + e
                    + tokenize("))")
                )
            repl = (
                tokenize("(") + _idx(b) + tokenize(" - ") + _idx(a) + tokenize(")")
            )
        elif unit in ("DAY", "WEEK"):
            if unit == "WEEK" and week_start == "sunday":
                def trunc(e: list[tuple[str, str]]) -> list[tuple[str, str]]:
                    return (
                        tokenize(
                            "DATE_ADD(CAST(DATE_TRUNC('WEEK', DATE_ADD(CAST("
                        )
                        + e
                        + tokenize(" AS DATE), 1)) AS DATE), -1)")
                    )
            elif unit == "WEEK":
                def trunc(e: list[tuple[str, str]]) -> list[tuple[str, str]]:
                    return (
                        tokenize("CAST(DATE_TRUNC('WEEK', ")
                        + e
                        + tokenize(") AS DATE)")
                    )
            else:
                def trunc(e: list[tuple[str, str]]) -> list[tuple[str, str]]:
                    return tokenize("CAST(") + e + tokenize(" AS DATE)")
            core = (
                tokenize("DATEDIFF(")
                + trunc(b)
                + tokenize(", ")
                + trunc(a)
                + tokenize(")")
            )
            repl = core if unit == "DAY" else tokenize("(") + core + tokenize(" DIV 7)")
        else:
            u = _UNIT_MICROS[unit]
            def _floor(e: list[tuple[str, str]]) -> list[tuple[str, str]]:
                return (
                    tokenize(f"UNIX_MICROS(DATE_TRUNC('{unit}', CAST(")
                    + e
                    + tokenize(" AS TIMESTAMP)))")
                )
            repl = (
                tokenize("((")
                + _floor(b)
                + tokenize(" - ")
                + _floor(a)
                + tokenize(f") DIV {u})")
            )
        return repl

    return _rewrite_calls(tokens, ("DATEADD", "DATEDIFF"), build)


def _rewrite_to_number(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Snowflake ``TO_NUMBER(x[, p[, s]])`` → ``CAST(x AS DECIMAL(p,s))``
    (defaults p=38, s=0, matching snowflake); ``TO_VARCHAR(x)``/
    ``TO_CHAR(x)`` (no format) → ``CAST(x AS STRING)``. Format-string
    forms raise: number/date format models are not translated."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if up in ("TO_VARCHAR", "TO_CHAR"):
            if len(args) != 1:
                raise UnsupportedError(
                    f"{up} with a format string is not supported"
                )
            repl = tokenize("CAST(") + args[0] + tokenize(" AS STRING)")
        else:
            nums = [
                [(k, t) for k, t in a if k not in ("ws", "comment")]
                for a in args[1:]
            ]
            if len(args) > 3 or any(
                len(c) != 1 or c[0][0] != "number" for c in nums
            ):
                raise UnsupportedError(
                    f"{up} with a format string is not supported"
                )
            p = nums[0][0][1] if len(nums) >= 1 else "38"
            s = nums[1][0][1] if len(nums) >= 2 else "0"
            repl = tokenize("CAST(") + args[0] + tokenize(f" AS DECIMAL({p},{s}))")
        return repl

    return _rewrite_calls(
        tokens,
        ("TO_NUMBER", "TO_DECIMAL", "TO_NUMERIC", "TO_VARCHAR", "TO_CHAR"),
        build,
    )


def _rewrite_cast_funcs(
    tokens: list[tuple[str, str]], mapping: dict[str, str]
) -> list[tuple[str, str]]:
    """Single-arg conversion functions → ``CAST(x AS TYPE)`` (clickhouse
    ``toInt64``/``toDate``-family, sqlite ``datetime``). Multi-arg forms
    (clickhouse cast-with-default, sqlite datetime modifiers) raise —
    their extra arguments change semantics."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 1:
            raise UnsupportedError(
                f"{name} with {len(args)} arguments is not supported"
            )
        return tokenize("CAST(") + args[0] + tokenize(f" AS {mapping[up]})")

    return _rewrite_calls(tokens, mapping, build)


def _rewrite_unit_first_dates(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """presto/trino ``DATE_ADD('unit', n, x)`` → ``TIMESTAMPADD(UNIT, n,
    x)`` and ``DATE_DIFF('unit', a, b)`` → ``TIMESTAMPDIFF(UNIT, a, b)``.

    Presto's date_diff counts elapsed COMPLETE units (Joda
    ``getDifference`` chronology arithmetic), which is exactly Spark's
    TIMESTAMPDIFF — unlike snowflake/tsql DATEDIFF boundary counting,
    which `_rewrite_dateadd_datediff` handles separately. Spark's own
    two-arg DATE_ADD(date, n) is left untouched (only the three-arg
    string-unit spelling is presto's)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        first = [(k, t) for k, t in args[0] if k not in ("ws", "comment")] if args else []
        if len(args) != 3 or len(first) != 1 or first[0][0] != "string":
            return None  # not the unit-first spelling; leave for Spark's parser
        unit = _date_part(args[0])
        fn = "TIMESTAMPADD" if up == "DATE_ADD" else "TIMESTAMPDIFF"
        return (
            tokenize(f"{fn}({unit}, ")
            + args[1]
            + tokenize(", ")
            + args[2]
            + tokenize(")")
        )

    return _rewrite_calls(tokens, ("DATE_ADD", "DATE_DIFF"), build)


def _rewrite_agg_if(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """clickhouse ``sumIf(x, cond)`` / ``avgIf`` / ``minIf`` / ``maxIf``
    → ``AGG(IF(cond, x, NULL))`` (identical NULL-skipping aggregate
    semantics); ``countIf(cond)`` is renamed separately to COUNT_IF."""
    aggs = {"SUMIF": "SUM", "AVGIF": "AVG", "MINIF": "MIN", "MAXIF": "MAX"}
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 2:
            raise UnsupportedError(f"{name} expects (value, condition)")
        return (
            tokenize(f"{aggs[up]}(IF(")
            + args[1]
            + tokenize(", ")
            + args[0]
            + tokenize(", NULL))")
        )

    return _rewrite_calls(tokens, aggs, build)


def _rewrite_uniq_exact(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """clickhouse ``uniqExact(x[, y...])`` → ``COUNT(DISTINCT x[, y...])``."""
    return _rewrite_calls(
        tokens,
        ("UNIQEXACT",),
        lambda _, args: tokenize("COUNT(DISTINCT ") + _join_args(args) + tokenize(")"),
    )


def _rewrite_from_dual(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """oracle ``FROM dual`` (sole table, end of query) → removed; Spark
    supports SELECT without FROM. Other positions are left alone and
    fail at name resolution, which is the honest error."""
    out = list(tokens)
    for i in _iter_code(out):
        if out[i][0] == "word" and out[i][1].upper() == "FROM":
            j = _next_code(out, i)
            if j is None or out[j][0] != "word" or out[j][1].upper() != "DUAL":
                continue
            k = _next_code(out, j)
            if k is None or out[k] == ("op", ";"):
                return out[:i] + out[j + 1 :]
    return out


def _rewrite_oracle_rownum(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """oracle ``WHERE ROWNUM <= n`` (or ``< n``) → trailing ``LIMIT``.

    Only the faithful subset rewrites: top-level, the sole predicate, no
    DISTINCT/GROUP BY/HAVING/ORDER BY in the query (Oracle applies the
    ROWNUM filter BEFORE dedup/sort, so ``LIMIT`` would change those row
    sets). Everything else — ROWNUM in a projection, AND-combined,
    inside a subquery — raises instead of silently changing results."""
    out = list(tokens)
    depth = 0
    rownum_at: int | None = None
    end: int | None = None
    count: int | None = None
    # precomputed once: the old per-keyword generator rescan made the
    # pass O(n*k) on clause-heavy queries
    _has_rownum = any(
        k == "word" and t.upper() == "ROWNUM" for k, t in out
    )
    for i, (kind, text) in enumerate(out):
        if (kind, text) == ("op", "("):
            depth += 1
        elif (kind, text) == ("op", ")"):
            depth -= 1
        elif kind == "word":
            up = text.upper()
            if up == "ROWNUM":
                if depth > 0:
                    raise UnsupportedError(
                        "ROWNUM inside a subquery is not supported"
                    )
                if rownum_at is not None:
                    raise UnsupportedError("multiple ROWNUM uses are not supported")
                prev = None
                for p in range(i - 1, -1, -1):
                    if out[p][0] not in ("ws", "comment"):
                        prev = p
                        break
                j = _next_code(out, i)
                k = _next_code(out, j) if j is not None else None
                if (
                    prev is None
                    or out[prev][0] != "word"
                    or out[prev][1].upper() != "WHERE"
                    or j is None
                    or out[j][0] != "op"
                    or out[j][1] not in ("<=", "<")
                    or k is None
                    or out[k][0] != "number"
                    or "." in out[k][1]
                ):
                    raise UnsupportedError(
                        "only `WHERE ROWNUM <= n` is supported"
                    )
                after = _next_code(out, k)
                if after is not None and out[after] != ("op", ";"):
                    raise UnsupportedError(
                        "ROWNUM combined with other predicates is not "
                        "supported"
                    )
                n = int(out[k][1])
                count = n if out[j][1] == "<=" else n - 1
                rownum_at, end = prev, k
            elif up in ("DISTINCT", "GROUP", "HAVING", "ORDER") and depth == 0:
                if rownum_at is not None or _has_rownum:
                    raise UnsupportedError(
                        f"ROWNUM with {up} changes semantics; not supported"
                    )
    if rownum_at is None:
        return out
    assert end is not None and count is not None
    out = out[:rownum_at] + out[end + 1 :]
    tail = ""
    # pop trailing comments too, not just whitespace: LIMIT appended
    # after `-- note` lands INSIDE the comment and the row cap is
    # silently lost (all rows returned) — same guard _rewrite_top uses
    while out and out[-1][0] in ("ws", "comment"):
        out.pop()
    if out and out[-1] == ("op", ";"):
        out.pop()
        tail = ";"
    out += [("ws", " "), ("word", "LIMIT"), ("ws", " "), ("number", str(max(count, 0)))]
    if tail:
        out.append(("op", tail))
    return out


# Oracle datetime format models → Spark datetime patterns. Ordered
# longest-first for greedy matching; separators pass through verbatim.
_ORA_FMT = [
    ("HH24", "HH"), ("HH12", "hh"),
    ("YYYY", "yyyy"), ("RRRR", "yyyy"),
    ("MONTH", "MMMM"), ("MON", "MMM"),
    ("DAY", "EEEE"), ("DY", "EEE"),
    ("YY", "yy"), ("RR", "yy"),
    ("MM", "MM"), ("DD", "dd"), ("HH", "hh"),
    ("MI", "mm"), ("SS", "ss"),
    ("AM", "a"), ("PM", "a"),
]
_ORA_FMT_SEP = " -/,.:;"


# Name-producing format elements whose rendered CASE follows the case
# of the element itself in Oracle ('MON' -> 'JAN', 'Mon' -> 'Jan',
# 'mon' -> 'jan'), while Spark always renders title-case names and
# uppercase AM/PM. "title" = Spark's native rendering.
_ORA_CASED = {"MONTH", "MON", "DAY", "DY"}


def _ora_datefmt(fmt: str, formatting: bool = True) -> tuple[str, str | None]:
    """Translate an Oracle date format model to a Spark pattern; raises
    on elements without a faithful Spark equivalent (FF fractions,
    quoted literals, number-format models like '999.99').

    Returns ``(spark_pattern, case_wrap)`` where case_wrap is None,
    'UPPER', or 'LOWER' — the function the FORMATTING caller must wrap
    around DATE_FORMAT so 'MON' renders 'JAN' like Oracle, not Spark's
    'Jan'. Full-name MONTH/DAY blank-pad to 9 chars in Oracle, which
    Spark patterns cannot express, so they refuse unless preceded by FM
    (fill mode = no padding). Conflicting case demands in one model
    (e.g. 'MON' + 'Dy') also refuse — a single wrap cannot satisfy
    both. Both refusals apply only when ``formatting``: in the PARSING
    direction (TO_DATE/TO_TIMESTAMP) Spark parses names
    case-insensitively and Oracle accepts unpadded names, so case
    conflicts and padding are irrelevant and case_wrap returns None."""
    outp: list[str] = []
    demands: set[str] = set()
    fill_mode = False
    i = 0
    up = fmt.upper()
    while i < len(fmt):
        if fmt[i] in _ORA_FMT_SEP:
            outp.append(fmt[i])
            i += 1
            continue
        if up.startswith("FM", i):
            fill_mode = not fill_mode  # Oracle FM is a toggle
            i += 2
            continue
        for pat, spark in _ORA_FMT:
            if up.startswith(pat, i):
                raw = fmt[i : i + len(pat)]
                if pat in ("MONTH", "DAY") and not fill_mode and formatting:
                    raise UnsupportedError(
                        f"oracle {pat} blank-pads to 9 chars, which a "
                        "Spark pattern cannot express; use FM"
                        f"{pat} (no padding)"
                    )
                if pat in _ORA_CASED:
                    if raw.isupper():
                        demands.add("upper")
                    elif raw.islower():
                        demands.add("lower")
                    else:
                        demands.add("title")
                elif pat in ("AM", "PM"):
                    # Spark's 'a' renders uppercase already
                    demands.add("lower" if raw.islower() else "am_upper")
                outp.append(spark)
                i += len(pat)
                break
        else:
            raise UnsupportedError(
                f"oracle format element at {fmt[i:]!r} is not supported"
            )
    if not formatting:
        # parsing direction: Spark is case-insensitive, no wrap needed
        return "".join(outp), None
    # pick the single wrap every case-sensitive element tolerates:
    # UPPER is harmless to AM/PM (already upper); title names tolerate
    # only None; lowercase demands only LOWER.
    for wrap, ok in (
        (None, {"title", "am_upper"}),
        ("UPPER", {"upper", "am_upper"}),
        ("LOWER", {"lower"}),
    ):
        if demands <= ok:
            return "".join(outp), wrap
    raise UnsupportedError(
        f"oracle format {fmt!r} mixes case styles a single Spark "
        "expression cannot reproduce"
    )


_NLS_DEFAULT_ENGLISH = re.compile(
    r"^\s*NLS_DATE_LANGUAGE\s*=\s*['\"]?(AMERICAN|ENGLISH)['\"]?\s*$",
    re.IGNORECASE,
)


def _nls_default_english(arg: list[tuple[str, str]]) -> bool:
    """True when an nlsparam argument is a string literal pinning
    NLS_DATE_LANGUAGE to AMERICAN or ENGLISH — exactly the locale
    (en-US) Spark's datetime patterns format with, so the parameter is
    a no-op and the call folds to its two-arg form. Any other
    nlsparam (other languages, NLS_NUMERIC_CHARACTERS, ...) would
    change month/day names or separators and still refuses."""
    code = [(k, t) for k, t in arg if k not in ("ws", "comment")]
    return (
        len(code) == 1
        and code[0][0] == "string"
        and bool(_NLS_DEFAULT_ENGLISH.match(_unquote(code[0][1], "'")))
    )


def _rewrite_oracle_fmt(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """oracle ``TO_DATE(x, fmt)`` / ``TO_TIMESTAMP(x, fmt)`` → the same
    Spark function with the format model translated; ``TO_CHAR(x, fmt)``
    → ``DATE_FORMAT(x, fmt')`` when fmt is a date model (number models
    raise); one-arg ``TO_CHAR(x)`` → ``CAST(x AS STRING)``. One-arg
    TO_DATE depends on NLS session defaults and raises. A third
    nlsparam argument folds away when it pins NLS_DATE_LANGUAGE to
    AMERICAN/ENGLISH (Spark's own formatting locale); other NLS
    parameters refuse."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) == 1:
            if up == "TO_CHAR":
                repl = tokenize("CAST(") + args[0] + tokenize(" AS STRING)")
            else:
                raise UnsupportedError(
                    f"one-arg {up} depends on NLS defaults; pass a format "
                    "model"
                )
        elif len(args) == 2 or (
            len(args) == 3 and _nls_default_english(args[2])
        ):
            fcode = [(k, t) for k, t in args[1] if k not in ("ws", "comment")]
            if len(fcode) != 1 or fcode[0][0] != "string":
                raise UnsupportedError(
                    f"{up} format must be a string literal"
                )
            spark_fmt, case_wrap = _ora_datefmt(
                _unquote(fcode[0][1], "'"), formatting=up == "TO_CHAR"
            )
            fn = "DATE_FORMAT" if up == "TO_CHAR" else up
            if fn == "DATE_FORMAT":
                repl = (
                    tokenize("DATE_FORMAT(")
                    + args[0]
                    + tokenize(f", '{spark_fmt}')")
                )
                # Oracle renders name elements in the CASE of the format
                # element ('MON' -> 'JAN'); Spark always title-cases, so
                # the formatting direction wraps the whole result (case
                # transforms are no-ops on the digits/separators)
                if case_wrap:
                    repl = tokenize(f"{case_wrap}(") + repl + tokenize(")")
            else:
                # parsing direction: Spark parses names case-insensitively
                repl = (
                    tokenize(f"{fn}(")
                    + args[0]
                    + tokenize(f", '{spark_fmt}')")
                )
        else:
            raise UnsupportedError(f"{up} with NLS parameters is not supported")
        return repl

    return _rewrite_calls(tokens, ("TO_DATE", "TO_TIMESTAMP", "TO_CHAR"), build)


# sqlite strftime %-codes → Spark datetime patterns.
_SQLITE_FMT = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss",
    "%j": "DDD", "%%": "%",
}


def _rewrite_strftime(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """sqlite ``strftime(fmt, x)`` → ``DATE_FORMAT(x, fmt')``. Only the
    two-arg form (no modifiers) with %-codes that have exact Spark
    equivalents; %s/%f/%w and datetime modifiers raise."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        fcode = [(k, t) for k, t in args[0] if k not in ("ws", "comment")] if args else []
        if len(args) != 2 or len(fcode) != 1 or fcode[0][0] != "string":
            raise UnsupportedError(
                "strftime with modifiers is not supported"
            )
        fmt = _unquote(fcode[0][1], "'")
        outp: list[str] = []
        p = 0
        while p < len(fmt):
            if fmt[p] == "%":
                code = fmt[p : p + 2]
                if code not in _SQLITE_FMT:
                    raise UnsupportedError(
                        f"strftime code {code!r} is not supported"
                    )
                outp.append(_SQLITE_FMT[code])
                p += 2
            elif fmt[p] in _ORA_FMT_SEP:
                outp.append(fmt[p])
                p += 1
            else:
                raise UnsupportedError(
                    f"strftime literal {fmt[p]!r} is not supported"
                )
        return (
            tokenize("DATE_FORMAT(")
            + args[1]
            + tokenize(f", '{''.join(outp)}')")
        )

    return _rewrite_calls(tokens, ("STRFTIME",), build)


def _rewrite_tsql_len(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """tsql ``LEN(x)`` → ``LENGTH(RTRIM(x))``.

    T-SQL's LEN excludes trailing spaces (LEN('abc ') = 3); a bare
    LENGTH rename silently over-counts padded CHAR data. Only call
    sites rewrite — a column named ``len`` survives."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 1:
            return None
        return tokenize("LENGTH(RTRIM(") + args[0] + tokenize("))")

    return _rewrite_calls(tokens, ("LEN",), build)


def _rewrite_mysql_limit(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """mysql ``LIMIT offset, count`` → ``LIMIT count OFFSET offset``.

    Every occurrence rewrites, not just the first — a subquery AND its
    outer query can each carry one, and leaving the second untranslated
    hands Spark an unparseable ``LIMIT n, m``."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i][0] != "word" or out[i][1].upper() != "LIMIT":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j][0] != "number":
            i += 1
            continue
        k = _next_code(out, j)
        if k is None or out[k] != ("op", ","):
            i += 1
            continue
        m = _next_code(out, k)
        if m is None or out[m][0] != "number":
            i += 1
            continue
        offset, count = out[j][1], out[m][1]
        repl = [
            ("word", "LIMIT"),
            ("ws", " "),
            ("number", count),
            ("ws", " "),
            ("word", "OFFSET"),
            ("ws", " "),
            ("number", offset),
        ]
        out = out[:i] + repl + out[m + 1 :]
        i += len(repl)
    return out


def _rewrite_fetch_first(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """SQL-standard row limiting ``[OFFSET m ROW[S]] FETCH {FIRST|NEXT}
    [n] ROW[S] ONLY`` → ``LIMIT n [OFFSET m]`` within ONE query scope
    (apply through ``_for_each_scope``). Spark parses neither clause.
    An omitted count is 1, and the OFFSET may omit ROW[S] (postgres;
    a postgres OFFSET after the FETCH already reads as Spark's
    ``LIMIT n OFFSET m``). ``WITH TIES`` and ``PERCENT`` refuse: LIMIT
    can express neither. Non-literal counts pass through for Spark's
    parser to reject loudly. An ``OFFSET m ROW[S]`` with no FETCH
    becomes Spark's bare ``OFFSET m``."""
    depth = 0
    code: list[int] = []  # depth-0 code tokens of this scope
    for i, (k, t) in enumerate(tokens):
        if (k, t) == ("op", ")"):
            depth -= 1
        if depth == 0 and k not in ("ws", "comment"):
            code.append(i)
        if (k, t) == ("op", "("):
            depth += 1
    words = [t.upper() if k == "word" else k for k, t in (tokens[i] for i in code)]
    words += ["", "", ""]  # lookahead padding

    for p in range(len(code)):
        if words[p] != "FETCH" or words[p + 1] not in ("FIRST", "NEXT"):
            continue
        q, count = p + 2, "1"
        if words[q] == "number":
            q, count = q + 1, tokens[code[q]][1]
        if words[q] == "PERCENT" or words[q + 1 : q + 3] == ["WITH", "TIES"]:
            raise UnsupportedError(
                "FETCH FIRST ... PERCENT / WITH TIES has no LIMIT equivalent"
            )
        if words[q] not in ("ROW", "ROWS") or words[q + 1] != "ONLY":
            continue
        repl = [("word", "LIMIT"), ("ws", " "), ("number", count)]
        start = p
        o = p - 1 if words[p - 1] in ("ROW", "ROWS") else p  # words[-1] pads
        if o >= 2 and words[o - 2 : o] == ["OFFSET", "number"]:
            start, offset = o - 2, tokens[code[o - 1]][1]
            repl += [("ws", " "), ("word", "OFFSET"), ("ws", " "), ("number", offset)]
        out = tokens[: code[start]] + repl + tokens[code[q + 1] + 1 :]
        return _rewrite_fetch_first(out)
    for p in range(2, len(code)):
        if words[p] in ("ROW", "ROWS") and words[p - 2 : p] == ["OFFSET", "number"]:
            return tokens[: code[p - 1] + 1] + tokens[code[p] + 1 :]
    return tokens


def _rewrite_extract_epoch(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``EXTRACT(EPOCH FROM expr)`` → fractional seconds since epoch.

    Spark's EXTRACT has no EPOCH field; postgres returns numeric seconds
    with fraction, duckdb seconds. Emitted form casts through TIMESTAMP
    so DATE inputs work too:
    ``(CAST(UNIX_MICROS(CAST(expr AS TIMESTAMP)) AS DOUBLE) / 1000000.0)``
    """
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        inner = _join_args(args)
        k = _next_code(inner, -1)
        if k is None or inner[k][0] != "word" or inner[k][1].upper() != "EPOCH":
            return None
        m = _next_code(inner, k)
        if m is None or inner[m][0] != "word" or inner[m][1].upper() != "FROM":
            return None
        return (
            tokenize("(CAST(UNIX_MICROS(CAST(")
            + inner[m + 1 :]
            + tokenize(" AS TIMESTAMP)) AS DOUBLE) / 1000000.0)")
        )

    return _rewrite_calls(tokens, ("EXTRACT",), build)


# ---------------------------------------------------------------------------
# FROM-clause table generators (snowflake LATERAL FLATTEN, bigquery /
# trino UNNEST) → Spark LATERAL VIEW, and related per-dialect constructs
# (postgres DISTINCT ON, mysql GROUP_CONCAT, postgres STRING_AGG with
# embedded ORDER BY, oracle DECODE, tsql DATEPART, snowflake PIVOT
# column naming). Each is a faithful translation or a LOUD
# UnsupportedError — never a silent semantic change.


def _prev_code(tokens: list[tuple[str, str]], i: int) -> int | None:
    for j in range(i - 1, -1, -1):
        if tokens[j][0] not in ("ws", "comment"):
            return j
    return None


def _connector_start(
    tokens: list[tuple[str, str]], i: int
) -> tuple[str | None, int]:
    """How a FROM-clause table function attaches to the preceding table:
    returns (kind, start) with kind 'comma' | 'cross' (CROSS JOIN) |
    'join' (any other JOIN) | 'from' | 'in' | None and start = index of
    the first connector token (to be replaced)."""
    j = _prev_code(tokens, i)
    if j is None:
        return None, i
    kind, text = tokens[j]
    if (kind, text) == ("op", ","):
        return "comma", j
    if kind == "word":
        up = text.upper()
        if up == "JOIN":
            k = _prev_code(tokens, j)
            if (
                k is not None
                and tokens[k][0] == "word"
                and tokens[k][1].upper() == "CROSS"
            ):
                return "cross", k
            return "join", j
        if up == "FROM":
            return "from", j
        if up == "IN":
            return "in", j
    return None, i


def _named_flatten_args(
    args: list[list[tuple[str, str]]],
) -> tuple[list[tuple[str, str]], bool]:
    """Parse FLATTEN's arguments: positional ``FLATTEN(expr)`` or named
    ``input => expr [, outer => true|false]``. Returns (input_tokens,
    outer). PATH/RECURSIVE/MODE (semi-structured traversal — no Spark
    LATERAL VIEW equivalent) raise."""
    input_toks: list[tuple[str, str]] | None = None
    outer = False
    for arg in args:
        code = [(p, tok) for p, tok in enumerate(arg) if tok[0] not in ("ws", "comment")]
        if not code:
            raise UnsupportedError("empty FLATTEN argument")
        is_named = (
            len(code) >= 3
            and code[0][1][0] == "word"
            and code[1][1] == ("op", "=")
            and code[2][1] == ("op", ">")
        )
        if not is_named:
            if input_toks is not None or len(args) != 1:
                raise UnsupportedError(
                    "FLATTEN with multiple positional arguments is not "
                    "supported"
                )
            input_toks = arg
            continue
        name = code[0][1][1].upper()
        val_start = code[2][0] + 1
        if name == "INPUT":
            input_toks = arg[val_start:]
        elif name == "OUTER":
            val = [tok for tok in arg[val_start:] if tok[0] not in ("ws", "comment")]
            if len(val) != 1 or val[0][1].upper() not in ("TRUE", "FALSE"):
                raise UnsupportedError("FLATTEN outer => expects TRUE or FALSE")
            outer = val[0][1].upper() == "TRUE"
        else:
            raise UnsupportedError(
                f"FLATTEN argument {name!r} (semi-structured traversal) is "
                "not supported"
            )
    if input_toks is None or not any(
        tok[0] not in ("ws", "comment") for tok in input_toks
    ):
        raise UnsupportedError("FLATTEN requires an input => expression")
    return input_toks, outer


def _rewrite_object_construct(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """snowflake ``OBJECT_CONSTRUCT('k1', v1, ...)`` →
    ``PARSE_JSON(TO_JSON(NAMED_STRUCT('k1', v1, ...)))``.

    The result is a Spark VARIANT, so downstream colon paths
    (``obj:k1.k2::TYPE`` — native Spark 4 syntax, identical to
    snowflake's) and TO_JSON round-trips behave like snowflake
    OBJECTs, including nesting (an inner OBJECT_CONSTRUCT value
    serializes as a nested JSON object). NULL contract matches for
    free: snowflake omits NULL-valued pairs from the object, and
    Spark's to_json drops null struct fields by default
    (spark.sql.jsonGenerator.ignoreNullFields=true).

    Refusals (each would silently diverge or cannot be expressed):
    ``OBJECT_CONSTRUCT(*)`` (row-wise construction),
    ``OBJECT_CONSTRUCT_KEEP_NULL`` (opposite NULL contract to the
    to_json default), odd arity, and non-string-literal keys
    (snowflake drops pairs whose DYNAMIC key evaluates to NULL —
    named_struct keys are compile-time constants)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens:
        if name.upper() == "OBJECT_CONSTRUCT_KEEP_NULL":
            raise UnsupportedError(
                "OBJECT_CONSTRUCT_KEEP_NULL keeps NULL-valued "
                "pairs; Spark's to_json drops them — not "
                "supported"
            )
        if len(args) == 1 and not any(
            tok[0] not in ("ws", "comment") for tok in args[0]
        ):
            args = []  # OBJECT_CONSTRUCT() → empty object
        code_args = [
            [tok for tok in a if tok[0] not in ("ws", "comment")]
            for a in args
        ]
        if len(code_args) == 1 and code_args[0] == [("op", "*")]:
            raise UnsupportedError(
                "OBJECT_CONSTRUCT(*) (row-wise object construction) is "
                "not supported; list the key/value "
                "pairs explicitly"
            )
        if len(code_args) % 2 != 0:
            raise UnsupportedError(
                "OBJECT_CONSTRUCT takes key/value pairs (even arity)"
            )
        seen_keys: set[str] = set()
        for k in code_args[::2]:
            if len(k) != 1 or k[0][0] != "string":
                raise UnsupportedError(
                    "OBJECT_CONSTRUCT keys must be string literals "
                    "(snowflake drops pairs whose "
                    "dynamic key is NULL; named_struct cannot)"
                )
            # snowflake keeps a single last-wins entry per key;
            # NAMED_STRUCT→TO_JSON would emit duplicate JSON keys whose
            # variant-path extraction is engine-dependent — refuse like
            # the other silent-divergence forms. Comparison is on the
            # literal token text (case-sensitive, like snowflake keys).
            if k[0][1] in seen_keys:
                raise UnsupportedError(
                    f"duplicate OBJECT_CONSTRUCT key {k[0][1]}: snowflake "
                    "keeps the last pair, but NAMED_STRUCT->TO_JSON emits "
                    "duplicate JSON keys — not supported"
                )
            seen_keys.add(k[0][1])
        if not code_args:
            return tokenize("PARSE_JSON('{}')")
        return (
            tokenize("PARSE_JSON(TO_JSON(NAMED_STRUCT(")
            + _join_args(args, ", ")
            + tokenize(")))")
        )

    return _rewrite_calls(
        tokens, ("OBJECT_CONSTRUCT", "OBJECT_CONSTRUCT_KEEP_NULL"), build
    )


def _rewrite_snowflake_flatten(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Snowflake ``FROM t, LATERAL FLATTEN(input => expr) f`` →
    ``FROM t LATERAL VIEW [OUTER] POSEXPLODE(expr) f AS index, value``.

    POSEXPLODE so both flatten output columns a migrating query uses
    (``f.value`` and the 0-based ``f.index`` — snowflake arrays are
    0-indexed, matching posexplode's pos) resolve; ``outer => true``
    maps to LATERAL VIEW OUTER (row preserved with NULL index/value on
    empty/NULL input — snowflake's OUTER semantic). The other flatten
    outputs (seq/key/path/this: semi-structured traversal state) and
    PATH/RECURSIVE/MODE arguments have no LATERAL VIEW equivalent and
    raise. The reference reaches snowflake only through sqlglot
    (reference core.py:102)."""
    out = list(tokens)
    while True:
        hit = None
        for i in _iter_code(out):
            kind, text = out[i]
            if kind != "word" or text.upper() != "LATERAL":
                continue
            j = _next_code(out, i)
            if j is None or out[j][0] != "word" or out[j][1].upper() != "FLATTEN":
                continue
            p = _next_code(out, j)
            if p is None or out[p] != ("op", "("):
                continue
            hit = (i, p)
            break
        if hit is None:
            return out
        lat_at, open_at = hit
        parsed = _call_args(out, open_at)
        if parsed is None:
            return out  # unbalanced parens: Spark's parser reports it
        args, close = parsed
        input_toks, outer = _named_flatten_args(args)
        conn, conn_at = _connector_start(out, lat_at)
        if conn not in ("comma", "cross"):
            raise UnsupportedError(
                "LATERAL FLATTEN is supported after ',' or CROSS JOIN only"
            )
        # required table alias after the close paren: [AS] name
        a = alias_at(out, close)
        if a is None:
            raise UnsupportedError(
                "LATERAL FLATTEN requires a table alias (needed to name "
                "the LATERAL VIEW)"
            )
        alias = out[a]
        rep: list[tuple[str, str]] = [("ws", " "), ("word", "LATERAL"), ("ws", " "), ("word", "VIEW"), ("ws", " ")]
        if outer:
            rep += [("word", "OUTER"), ("ws", " ")]
        rep += [("word", "POSEXPLODE"), ("op", "(")]
        rep += input_toks
        rep += [("op", ")"), ("ws", " "), alias, ("ws", " "), ("word", "AS"), ("ws", " "), ("word", "index"), ("op", ","), ("ws", " "), ("word", "value")]
        out = out[:conn_at] + rep + out[a + 1 :]


def _rewrite_unnest(
    tokens: list[tuple[str, str]], trino: bool
) -> list[tuple[str, str]]:
    """Bigquery / trino UNNEST table function → Spark LATERAL VIEW.

    * bigquery ``FROM t, UNNEST(e) [AS] x [WITH OFFSET [AS] o]`` →
      ``FROM t LATERAL VIEW [POS]EXPLODE(e) _unnestN AS [o,] x``
      (bigquery OFFSET and posexplode pos are both 0-based);
    * trino ``FROM t CROSS JOIN UNNEST(e) [AS] u (x)`` →
      ``FROM t LATERAL VIEW EXPLODE(e) u AS x``;
    * ``FROM UNNEST(e) [AS] x`` (no base table) →
      ``FROM (SELECT EXPLODE(e) AS x)``.

    Loud refusals (no faithful LATERAL VIEW form): multi-array UNNEST
    (parallel zip semantics), trino WITH ORDINALITY (1-based — pos is
    0-based and LATERAL VIEW cannot apply +1), ``x IN UNNEST(e)``
    (scalar-context subexpression, not a FROM-clause source), and
    LEFT/other JOIN attachments. The reference reaches these dialects
    only through sqlglot (reference core.py:102)."""
    out = list(tokens)
    n_gen = 0
    while True:
        hit = None
        for i in _iter_code(out):
            kind, text = out[i]
            if kind != "word" or text.upper() != "UNNEST":
                continue
            j = _next_code(out, i)
            if j is not None and out[j] == ("op", "("):
                hit = (i, j)
                break
        if hit is None:
            return out
        un_at, open_at = hit
        parsed = _call_args(out, open_at)
        if parsed is None:
            return out
        args, close = parsed
        if len(args) != 1:
            raise UnsupportedError(
                "UNNEST of multiple arrays (parallel zip) is not supported"
            )
        arr = args[0]
        conn, conn_at = _connector_start(out, un_at)
        if conn == "in":
            raise UnsupportedError(
                "scalar IN UNNEST(...) is not supported"
            )
        if conn not in ("comma", "cross", "from"):
            raise UnsupportedError(
                "UNNEST is supported after ',', CROSS JOIN, or FROM only"
            )
        # WITH ORDINALITY (trino) intervenes before the alias
        a = _next_code(out, close)
        if (
            a is not None
            and out[a][0] == "word"
            and out[a][1].upper() == "WITH"
        ):
            w = _next_code(out, a)
            if w is not None and out[w][0] == "word" and out[w][1].upper() == "ORDINALITY":
                raise UnsupportedError(
                    "UNNEST WITH ORDINALITY (1-based) has no faithful "
                    "LATERAL VIEW form"
                )
        a = alias_at(out, close)
        if a is None:
            raise UnsupportedError(
                "UNNEST requires a column (bigquery) or table(column) "
                "(trino) alias"
            )
        alias = out[a]
        end = a  # last consumed token index
        col_alias: tuple[str, str] | None = None
        table_alias: tuple[str, str] | None = None
        # trino form: alias followed by (col)
        nxt = _next_code(out, a)
        if trino and nxt is not None and out[nxt] == ("op", "("):
            cols_parsed = _call_args(out, nxt)
            if cols_parsed is None:
                return out
            cols, cols_close = cols_parsed
            col_items = [
                [tok for tok in c if tok[0] not in ("ws", "comment")] for c in cols
            ]
            if len(col_items) != 1 or len(col_items[0]) != 1:
                raise UnsupportedError(
                    "UNNEST alias with multiple columns (map or zip "
                    "semantics) is not supported"
                )
            table_alias, col_alias = alias, col_items[0][0]
            end = cols_close
        else:
            col_alias = alias
        # bigquery WITH OFFSET [AS o]
        offset_alias: tuple[str, str] | None = None
        nxt = _next_code(out, end)
        if (
            not trino
            and nxt is not None
            and out[nxt][0] == "word"
            and out[nxt][1].upper() == "WITH"
        ):
            w = _next_code(out, nxt)
            if w is not None and out[w][0] == "word" and out[w][1].upper() == "OFFSET":
                offset_alias = ("word", "offset")
                end = w
                o = _next_code(out, w)
                if o is not None and out[o][0] == "word" and out[o][1].upper() == "AS":
                    o = _next_code(out, o)
                    if o is None or out[o][0] not in ("word", "backtick"):
                        raise UnsupportedError("WITH OFFSET AS expects a name")
                    offset_alias = out[o]
                    end = o
        if conn == "from":
            if offset_alias is not None:
                raise UnsupportedError(
                    "FROM UNNEST(...) WITH OFFSET without a base table is "
                    "not supported"
                )
            rep = [("word", "FROM"), ("ws", " "), ("op", "("), ("word", "SELECT"), ("ws", " "), ("word", "EXPLODE"), ("op", "(")]
            rep += arr
            rep += [("op", ")"), ("ws", " "), ("word", "AS"), ("ws", " "), col_alias, ("op", ")")]
            if table_alias is not None:
                rep += [("ws", " "), table_alias]
            out = out[:conn_at] + rep + out[end + 1 :]
            continue
        view_alias = table_alias or ("word", f"_unnest{n_gen}")
        n_gen += 1
        rep = [("ws", " "), ("word", "LATERAL"), ("ws", " "), ("word", "VIEW"), ("ws", " ")]
        rep += [("word", "POSEXPLODE" if offset_alias is not None else "EXPLODE"), ("op", "(")]
        rep += arr
        rep += [("op", ")"), ("ws", " "), view_alias, ("ws", " "), ("word", "AS"), ("ws", " ")]
        if offset_alias is not None:
            rep += [offset_alias, ("op", ","), ("ws", " ")]
        rep += [col_alias]
        out = out[:conn_at] + rep + out[end + 1 :]


def _rewrite_distinct_on(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Postgres/duckdb ``SELECT DISTINCT ON (keys) ...`` for one paren
    scope, set-operation aware (DISTINCT ON binds per SELECT block)."""
    segs, seps = _split_set_op_arms(tokens)
    if len(segs) == 1:
        return _rewrite_distinct_on_one(tokens)
    out: list[tuple[str, str]] = []
    for idx, seg in enumerate(segs):
        out += _rewrite_distinct_on_one(seg)
        if idx < len(seps):
            out += seps[idx]
    return out


def _norm_expr(toks: list[tuple[str, str]]) -> tuple[tuple[str, str], ...]:
    """Comparison key for expression token runs: code tokens with words
    uppercased (identifier comparison is case-insensitive in both
    source dialects; literals/operators compare verbatim)."""
    return tuple(
        (k, t.upper() if k == "word" else t)
        for k, t in toks
        if k not in ("ws", "comment")
    )


def _rewrite_distinct_on_one(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """``SELECT DISTINCT ON (k1, ...) cols FROM ... ORDER BY k1, ...,
    tiebreak...`` → first-row-per-group via ``ROW_NUMBER() OVER
    (PARTITION BY k1, ... ORDER BY tiebreak...) = 1``, reusing the
    QUALIFY wrapper (the predicate is hoisted into the projection and
    filtered one level up); the outer ORDER BY is kept verbatim.

    Faithful to postgres: the ORDER BY must start with the DISTINCT ON
    expressions (postgres errors otherwise — same refusal here), and a
    query whose ORDER BY adds no tiebreak beyond the keys picks an
    ARBITRARY row per group in postgres; that nondeterminism is
    refused rather than silently frozen to some Spark-specific order.
    """
    depth = 0
    sel = di = on = op = None
    for i, (kind, text) in enumerate(tokens):
        if (kind, text) == ("op", "("):
            depth += 1
        elif (kind, text) == ("op", ")"):
            depth -= 1
        elif kind == "word" and depth == 0 and text.upper() == "SELECT":
            j = _next_code(tokens, i)
            if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() == "DISTINCT":
                k = _next_code(tokens, j)
                if k is not None and tokens[k][0] == "word" and tokens[k][1].upper() == "ON":
                    p = _next_code(tokens, k)
                    if p is not None and tokens[p] == ("op", "("):
                        sel, di, on, op = i, j, k, p
            break
    if di is None:
        return tokens
    parsed = _call_args(tokens, op)
    if parsed is None:
        return tokens
    keys, close = parsed
    key_code = [[tok for tok in k if tok[0] not in ("ws", "comment")] for k in keys]
    if not key_code or any(not k for k in key_code):
        raise UnsupportedError("empty DISTINCT ON expression")
    # depth-0 ORDER BY after the select list
    depth = 0
    order_at = None
    for i in range(close + 1, len(tokens)):
        kind, text = tokens[i]
        if (kind, text) == ("op", "("):
            depth += 1
        elif (kind, text) == ("op", ")"):
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() == "ORDER":
            j = _next_code(tokens, i)
            if j is not None and tokens[j][0] == "word" and tokens[j][1].upper() == "BY":
                order_at = i
                items_start = j + 1
                break
    if order_at is None:
        raise UnsupportedError(
            "DISTINCT ON without ORDER BY picks an arbitrary row per "
            "group (nondeterministic); add an ORDER BY starting with the "
            "DISTINCT ON expressions"
        )
    # ORDER BY items run to a depth-0 tail keyword / ; / end
    depth = 0
    items_end = len(tokens)
    for i in range(items_start, len(tokens)):
        kind, text = tokens[i]
        if (kind, text) == ("op", "("):
            depth += 1
        elif (kind, text) == ("op", ")"):
            depth -= 1
        elif depth == 0 and (
            (kind == "word" and text.upper() in ("LIMIT", "OFFSET", "FETCH"))
            or (kind, text) == ("op", ";")
        ):
            items_end = i
            break
    items = _split_top_level_commas(tokens[items_start:items_end])
    if len(items) < len(key_code):
        raise UnsupportedError(
            "SELECT DISTINCT ON expressions must match initial ORDER BY "
            "expressions"
        )
    for k, item in zip(key_code, items):
        if _norm_expr(k) != _norm_expr(_strip_sort_suffix(item)):
            raise UnsupportedError(
                "SELECT DISTINCT ON expressions must match initial ORDER "
                "BY expressions"
            )
    tiebreak = items[len(key_code):]
    if not tiebreak:
        raise UnsupportedError(
            "DISTINCT ON whose ORDER BY adds no tiebreak beyond the keys "
            "picks an arbitrary row per group (nondeterministic); extend "
            "the ORDER BY"
        )
    qualify: list[tuple[str, str]] = [("ws", " "), ("word", "QUALIFY"), ("ws", " "), ("word", "ROW_NUMBER"), ("op", "("), ("op", ")"), ("ws", " "), ("word", "OVER"), ("ws", " "), ("op", "("), ("word", "PARTITION"), ("ws", " "), ("word", "BY"), ("ws", " ")]
    for idx, k in enumerate(key_code):
        if idx:
            qualify += [("op", ","), ("ws", " ")]
        qualify += k
    qualify += [("ws", " "), ("word", "ORDER"), ("ws", " "), ("word", "BY"), ("ws", " ")]
    for idx, item in enumerate(tiebreak):
        if idx:
            qualify += [("op", ","), ("ws", " ")]
        qualify += item
    qualify += [("op", ")"), ("ws", " "), ("op", "="), ("ws", " "), ("number", "1"), ("ws", " ")]
    # Outer ORDER BY keeps ONLY the key items: after first-row-per-group
    # dedup the key tuples are unique, so the tiebreak suffix cannot
    # reorder anything. pg evaluates DISTINCT ON and its ORDER BY in
    # the FROM scope, so a key (like a tiebreak) need not be in the
    # select list — but the outer ORDER BY sits ABOVE the projection,
    # where a non-projected (or aliased-away) key is unresolvable. The
    # keys are therefore carried through the wrap as __don{i} helper
    # columns, the outer ORDER BY points at the helpers (keeping each
    # item's ASC/DESC/NULLS suffix), and the helpers are EXCEPTed out
    # of the outer projection alongside __qualify.
    sel_seg = list(tokens[close + 1 : order_at])
    depth = 0
    from_rel = None
    for i, (kind, text) in enumerate(sel_seg):
        if (kind, text) == ("op", "("):
            depth += 1
        elif (kind, text) == ("op", ")"):
            depth -= 1
        elif depth == 0 and kind == "word" and text.upper() == "FROM":
            from_rel = i
            break
    if from_rel is None:
        raise UnsupportedError("could not locate FROM for DISTINCT ON rewrite")
    helper_names: list[str] = []
    helper_toks: list[tuple[str, str]] = []
    for idx, k in enumerate(key_code):
        name = f"__don{idx}"
        helper_names.append(name)
        helper_toks += [("op", ","), ("ws", " "), ("op", "(")]
        helper_toks += k
        helper_toks += [("op", ")"), ("ws", " "), ("word", "AS"), ("ws", " "), ("word", name), ("ws", " ")]
    sel_seg = sel_seg[:from_rel] + helper_toks + sel_seg[from_rel:]
    outer_order: list[tuple[str, str]] = [
        ("word", "ORDER"), ("ws", " "), ("word", "BY"), ("ws", " "),
    ]
    for idx, item in enumerate(items[: len(key_code)]):
        if idx:
            outer_order += [("op", ","), ("ws", " ")]
        code = [tok for tok in item if tok[0] not in ("ws", "comment")]
        suffix = code[len(_strip_sort_suffix(item)):]
        outer_order += [("word", helper_names[idx])]
        for tok in suffix:
            outer_order += [("ws", " "), tok]
    outer_order += [("ws", " ")]
    rebuilt = (
        tokens[:di]
        + sel_seg
        + qualify
        + outer_order
        + tokens[items_end:]
    )
    return _rewrite_qualify_one(rebuilt, extra_except=tuple(helper_names))


def _agg_orderby_to_listagg(
    expr: list[tuple[str, str]],
    sep: list[tuple[str, str]],
    order_items: list[tuple[str, str]] | None,
) -> list[tuple[str, str]]:
    """Assemble ``LISTAGG(expr, sep) [WITHIN GROUP (ORDER BY ...)]``."""
    out: list[tuple[str, str]] = [("word", "LISTAGG"), ("op", "(")]
    out += expr
    out += [("op", ","), ("ws", " ")]
    out += sep
    out += [("op", ")")]
    if order_items:
        out += [("ws", " "), ("word", "WITHIN"), ("ws", " "), ("word", "GROUP"), ("ws", " "), ("op", "("), ("word", "ORDER"), ("ws", " "), ("word", "BY"), ("ws", " ")]
        out += order_items
        out += [("op", ")")]
    return out


def _rewrite_group_concat(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """MySQL ``GROUP_CONCAT([DISTINCT] expr [ORDER BY ...] [SEPARATOR
    's'])`` → ``LISTAGG([DISTINCT] expr, 's') [WITHIN GROUP (ORDER BY
    ...)]``.

    Faithful on NULL semantics for free: both skip NULL inputs and
    return NULL for an empty group. The default separator is ',' (mysql
    default; Spark's default is ''), always emitted explicitly.
    ``GROUP_CONCAT(a, b)`` (multi-expression concatenation) raises —
    translating it as one expression would silently drop columns."""
    def build(name: str, args: list[_Tokens]) -> _Tokens:
        if len(args) != 1:
            raise UnsupportedError(
                "GROUP_CONCAT of multiple expressions is not supported"
            )
        arg = args[0]
        # split the single argument at depth-0 ORDER / SEPARATOR words
        depth = 0
        order_at = sep_at = None
        for p, (kind, text) in enumerate(arg):
            if (kind, text) == ("op", "("):
                depth += 1
            elif (kind, text) == ("op", ")"):
                depth -= 1
            elif depth == 0 and kind == "word":
                up = text.upper()
                if up == "ORDER" and order_at is None:
                    order_at = p
                elif up == "SEPARATOR" and sep_at is None:
                    sep_at = p
        expr_end = min(x for x in (order_at, sep_at, len(arg)) if x is not None)
        expr = arg[:expr_end]
        order_items: list[tuple[str, str]] | None = None
        if order_at is not None:
            o_end = sep_at if sep_at is not None else len(arg)
            by = _next_code(arg[:o_end], order_at)
            if by is None or arg[by][0] != "word" or arg[by][1].upper() != "BY":
                raise UnsupportedError("malformed GROUP_CONCAT ORDER BY")
            order_items = arg[by + 1 : o_end]
        sep: list[tuple[str, str]] = [("string", "','")]
        if sep_at is not None:
            sep = [tok for tok in arg[sep_at + 1 :] if tok[0] not in ("ws", "comment")]
            if len(sep) != 1 or sep[0][0] != "string":
                raise UnsupportedError(
                    "GROUP_CONCAT SEPARATOR expects a string literal"
                )
        return _agg_orderby_to_listagg(expr, sep, order_items)

    return _rewrite_calls(tokens, ("GROUP_CONCAT",), build)


def _rewrite_string_agg_orderby(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Postgres/duckdb ``STRING_AGG(expr, sep ORDER BY ...)`` (the
    aggregate-internal ORDER BY) → ``LISTAGG(expr, sep) WITHIN GROUP
    (ORDER BY ...)``. STRING_AGG without an internal ORDER BY parses
    natively in Spark 4 (string_agg is a listagg alias) and is left
    untouched."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 2:
            return None
        depth = 0
        for order_at, (k, t) in enumerate(args[1]):
            if (k, t) == ("op", "("):
                depth += 1
            elif (k, t) == ("op", ")"):
                depth -= 1
            elif depth == 0 and k == "word" and t.upper() == "ORDER":
                break
        else:
            return None
        sep = args[1][:order_at]
        by = _next_code(args[1], order_at)
        if by is None or args[1][by][0] != "word" or args[1][by][1].upper() != "BY":
            raise UnsupportedError("malformed STRING_AGG ORDER BY")
        return _agg_orderby_to_listagg(args[0], sep, args[1][by + 1 :])

    return _rewrite_calls(tokens, ("STRING_AGG",), build)


def _rewrite_decode(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Oracle ``DECODE(expr, s1, r1, ..., [default])`` → ``CASE WHEN
    (expr) <=> (s1) THEN r1 ... [ELSE default] END``.

    ``<=>`` (null-safe equality) reproduces oracle's one deviation from
    plain equality: DECODE treats NULL as EQUAL to a NULL search value.
    The expression tokens are duplicated per WHEN arm (token-level
    rewrite; acceptable for deterministic expressions — oracle itself
    documents DECODE as evaluating the expression once per comparison).
    Nested DECODEs rewrite as the shared call loop reaches them."""
    def build(name: str, args: list[_Tokens]) -> _Tokens:
        if len(args) < 3:
            raise UnsupportedError("DECODE requires expr, search, result")
        expr, rest = args[0], args[1:]
        default = rest.pop() if len(rest) % 2 == 1 else None
        rep: list[tuple[str, str]] = [("word", "CASE")]
        for p in range(0, len(rest), 2):
            search, result = rest[p], rest[p + 1]
            rep += [("ws", " "), ("word", "WHEN"), ("ws", " "), ("op", "(")]
            rep += expr
            rep += [("op", ")"), ("ws", " "), ("op", "<=>"), ("ws", " "), ("op", "(")]
            rep += search
            rep += [("op", ")"), ("ws", " "), ("word", "THEN"), ("ws", " ")]
            rep += result
        if default is not None:
            rep += [("ws", " "), ("word", "ELSE"), ("ws", " ")]
            rep += default
        return rep + [("ws", " "), ("word", "END")]

    return _rewrite_calls(tokens, ("DECODE",), build)


def _rewrite_datepart(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """T-SQL ``DATEPART(part, expr)`` → ``EXTRACT(UNIT FROM (expr))``
    via the shared ``_date_part`` spelling table (yy/qq/mm/dd/hh/mi/ss
    abbreviations); parts outside it (dayofyear/weekday: DATEFIRST-
    dependent) raise rather than mistranslate."""
    def build(name: str, args: list[_Tokens]) -> _Tokens:
        if len(args) != 2:
            raise UnsupportedError("DATEPART expects (part, expr)")
        unit = _date_part(args[0])
        return tokenize(f"EXTRACT({unit} FROM (") + args[1] + tokenize("))")

    return _rewrite_calls(tokens, ("DATEPART",), build)


# Words that may legally follow ``PIVOT (...)`` without being a
# snowflake table alias for the pivoted relation.
_PIVOT_TAIL_WORDS = NON_ALIAS_WORDS | {"SELECT"}


def _rewrite_snowflake_pivot_names(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Snowflake PIVOT column naming: ``PIVOT(agg FOR c IN ('a','b'))``
    names output columns with the QUOTED literal text (``'a'`` — users
    reference them as ``"'a'"``), while Spark names them with the bare
    value (``a``). Alias each un-aliased string-literal IN item to the
    snowflake name (``'a' AS `'a'```) so a migrating query's
    ``"'a'"`` references resolve; items with an explicit alias
    (``'a' AS col_a`` — supported by both engines) pass through.

    A table alias after the pivot's closing paren (``PIVOT (...) p``)
    has no Spark equivalent (PARSE_SYNTAX_ERROR) and raises here with a
    clearer message."""
    out = list(tokens)
    for i in _iter_code(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "PIVOT":
            continue
        j = _next_code(out, i)
        if j is None or out[j] != ("op", "("):
            continue
        parsed = _call_args(out, j)
        if parsed is None:
            continue
        _, close = parsed
        # refuse a trailing table alias (Spark cannot parse one)
        a = _next_code(out, close)
        if a is not None and (
            (out[a][0] == "word" and out[a][1].upper() == "AS")
            or (
                out[a][0] in ("word", "backtick")
                and not (out[a][0] == "word" and out[a][1].upper() in _PIVOT_TAIL_WORDS)
            )
        ):
            raise UnsupportedError(
                "a table alias on PIVOT (...) is not supported by Spark; "
                "remove the alias and reference the pivoted columns "
                "directly"
            )
        # find the IN ( ... ) list inside the pivot parens
        in_open = None
        depth = 0
        for p in range(j + 1, close):
            k2, t2 = out[p]
            if (k2, t2) == ("op", "("):
                depth += 1
            elif (k2, t2) == ("op", ")"):
                depth -= 1
            elif depth == 0 and k2 == "word" and t2.upper() == "IN":
                q = _next_code(out, p)
                if q is not None and out[q] == ("op", "("):
                    in_open = q
                break
        if in_open is None:
            continue
        in_parsed = _call_args(out, in_open)
        if in_parsed is None:
            continue
        items, in_close = in_parsed
        rebuilt: list[tuple[str, str]] = []
        changed = False
        for idx, item in enumerate(items):
            if idx:
                rebuilt += [("op", ","), ("ws", " ")]
            rebuilt += item
            code = [tok for tok in item if tok[0] not in ("ws", "comment")]
            if len(code) == 1 and code[0][0] == "string":
                # snowflake names the column with the literal INCLUDING
                # its quotes
                rebuilt += [("ws", " "), ("word", "AS"), ("ws", " "), ("backtick", _to_backtick(code[0][1]))]
                changed = True
        if changed:
            out = out[: in_open + 1] + rebuilt + out[in_close:]
            # indices past in_open are stale; restart the scan
            return _rewrite_snowflake_pivot_names(out)
    return out


_OPERAND_END_KINDS = ("word", "string", "number", "backtick", "dquoted", "bracket")

# keywords that can PRECEDE a prefix operator (SELECT ~5, WHERE ~x & y,
# AND ~..., THEN ~...): a "word" token in this set does NOT end an
# operand, so a ~ after it is bitwise NOT, not a regex match.
_NON_OPERAND_KEYWORDS = frozenset(
    """SELECT FROM WHERE AND OR NOT ON WHEN THEN ELSE CASE END BY GROUP
    ORDER HAVING LIMIT OFFSET JOIN INNER LEFT RIGHT FULL CROSS OUTER IN
    AS DISTINCT ALL UNION INTERSECT EXCEPT SET VALUES LIKE ILIKE IS
    BETWEEN ESCAPE RETURNING""".split()
)


def _rewrite_bq_generate_array(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """bigquery ``GENERATE_ARRAY(a, b[, step])`` → Spark SEQUENCE.
    The 2-arg form guards the a > b case: bq returns an EMPTY array
    there (default step +1 never reaches b), while Spark's SEQUENCE
    auto-selects a descending step and returns [a..b] — both run,
    silently different rows. Emitted as ``IF((a) <= (b),
    SEQUENCE((a), (b)), CAST(ARRAY() AS ARRAY<BIGINT>))`` (bq's
    result type is ARRAY<INT64>). The 3-arg form maps directly:
    explicit negative steps agree, and a step whose sign contradicts
    the direction is [] on bq but a loud ANSI error on Spark —
    visible, not silent."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) not in (2, 3):
            return None
        if len(args) == 3:
            repl = tokenize("SEQUENCE(") + list(args[0]) + tokenize(", ") + list(
                args[1]
            ) + tokenize(", ") + list(args[2]) + tokenize(")")
        else:
            a, b = list(args[0]), list(args[1])
            repl = (
                tokenize("IF((")
                + a
                + tokenize(") <= (")
                + b
                + tokenize("), SEQUENCE((")
                + a
                + tokenize("), (")
                + b
                + tokenize(")), CAST(ARRAY() AS ARRAY<BIGINT>))")
            )
        return repl

    return _rewrite_calls(tokens, ("GENERATE_ARRAY",), build)


def _json_step_to_path(tok: tuple[str, str], style: str) -> str | None:
    """One ``->``/``->>`` right-operand literal → a Spark JsonPath, or
    None when it cannot be translated safely. ``style``:
    ``key`` (pg: raw key names / int indexes only — a '$...' string is
    a literal KEY there, refused as ambiguous), ``path`` (mysql: must
    be a '$...' JsonPath), ``both`` (duckdb/sqlite: '$...' passes
    through, otherwise key rules)."""
    import re as _re

    kind, text = tok
    if kind == "number" and text.isdigit():
        return None if style == "path" else f"$[{text}]"
    if kind != "string":
        return None
    key = _unquote(text, "'")
    if key.startswith("$"):
        return key if style in ("path", "both") else None
    if style == "path":
        return None
    if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key):
        return "$." + key
    return None


def _rewrite_json_arrow_ops(
    tokens: list[tuple[str, str]], style: str
) -> list[tuple[str, str]]:
    """pg/duckdb/sqlite/mysql JSON extraction operators → Spark
    ``GET_JSON_OBJECT``. ``expr ->> k`` (text extraction, unquoting
    string leaves) is EXACTLY get_json_object's contract and maps
    directly; ``expr -> k`` keeps JSON quoting on string leaves
    (``j -> 's'`` is '"hi"', get_json_object says 'hi'), so ``->`` is
    translated only in CHAINED position (the intermediate value is an
    object/array, where the two representations agree — measured
    against this box's duckdb: ``j -> 'a' ->> 'b'``) and REFUSES as
    the final step. pg's ``#>> '{a,b}'`` path-array spelling becomes
    ``$.a.b``; ``#>`` refuses like trailing ``->``. Dynamic keys and
    keys that need JsonPath quoting refuse loudly. pg note: these are
    the JSON(B) operators; pg hstore spells ``->`` too — a transpiler
    cannot see the column type, and hstore input would fail loudly at
    run time since it isn't JSON text."""
    out = list(tokens)
    i = 0
    while i < len(out):
        # recognize ->> / -> (single ops from the lexer) and the pg
        # #> / #>> clusters (adjacent single-char ops, no whitespace)
        op = None
        oplen = 1
        if out[i] in (("op", "->>"), ("op", "->")):
            op = out[i][1]
        elif (
            style == "key"
            and out[i] == ("op", "#")
            and i + 1 < len(out)
            and out[i + 1] == ("op", ">")
        ):
            if i + 2 < len(out) and out[i + 2] == ("op", ">"):
                op, oplen = "#>>", 3
            else:
                op, oplen = "#>", 2
        if op is None:
            i += 1
            continue
        lend = _prev_code(out, i)
        rstart = _next_code(out, i + oplen - 1)
        lstart = None if lend is None else _capture_operand(out, lend)
        if lstart is None or rstart is None:
            raise UnsupportedError(
                f"cannot safely rewrite the {op} JSON operator's "
                "operands; spell it get_json_object(...)"
            )
        if op in ("#>", "#>>"):
            if out[rstart][0] != "string":
                raise UnsupportedError(
                    f"{op} requires a literal '{{a,b}}' path array"
                )
            import re as _re

            elems = [
                e.strip()
                for e in _unquote(out[rstart][1], "'").strip("{}").split(",")
                if e.strip()
            ]
            path = "$"
            for e in elems:
                if e.isdigit():
                    path += f"[{e}]"
                elif _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", e):
                    path += "." + e
                else:
                    path = None
                    break
            if not elems or path is None:
                raise UnsupportedError(
                    f"{op} path array element is not a plain key/index; "
                    "spell it get_json_object(...)"
                )
        else:
            path = _json_step_to_path(out[rstart], style)
            if path is None:
                raise UnsupportedError(
                    f"the {op} right operand must be a literal "
                    + (
                        "'$...' JsonPath here"
                        if style == "path"
                        else "key name or integer index here"
                    )
                    + "; dynamic or special-character keys are not "
                    "supported"
                )
        if op in ("->", "#>"):
            after = _next_code(out, rstart)
            chained = after is not None and (
                out[after] in (("op", "->>"), ("op", "->"))
                or (style == "key" and out[after] == ("op", "#"))
            )
            if not chained:
                raise UnsupportedError(
                    f"JSON {op} as the FINAL extraction step returns "
                    "JSON (string leaves keep their quotes); Spark's "
                    "get_json_object unquotes them — use "
                    + ("#>>" if op == "#>" else "->>")
                    + " for text extraction."
                )
        lit = path.replace("'", "''")
        repl = (
            tokenize("GET_JSON_OBJECT(")
            + out[lstart : lend + 1]
            + tokenize(f", '{lit}')")
        )
        out = out[:lstart] + repl + out[rstart + 1 :]
        i = lstart
    return out


def _rewrite_left_right_negative(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """pg/redshift/duckdb ``LEFT(s, -k)`` means "all but the LAST k
    characters" ('abc' from 'abcde') and ``RIGHT(s, -k)`` "all but
    the FIRST k" (measured on this box's duckdb; over-negative → '');
    Spark returns '' for any negative count — both run, silently
    different. Literal negative counts rewrite to the substring
    identities (``LEFT`` → ``SUBSTRING(s, 1, LENGTH(s) - k)``,
    ``RIGHT`` → ``SUBSTRING(s, k + 1)``), whose Spark
    empty-on-nonpositive-length behavior reproduces the over-negative
    '' too. Dynamic counts are type-invisible and pass through
    (mysql agrees with Spark — '' — and is untouched)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 2:
            return None
        n = _literal_int(args[1])
        if n is None or n >= 0:
            return None
        k = -n
        if up == "LEFT":
            repl = (
                tokenize("SUBSTRING(")
                + list(args[0])
                + tokenize(", 1, LENGTH(")
                + list(args[0])
                + tokenize(f") - {k})")
            )
        else:
            repl = (
                tokenize("SUBSTRING(")
                + list(args[0])
                + tokenize(f", {k} + 1)")
            )
        return repl

    return _rewrite_calls(tokens, ("LEFT", "RIGHT"), build)


def _rewrite_choose_elt(
    tokens: list[tuple[str, str]], fname: str
) -> list[tuple[str, str]]:
    """tsql ``CHOOSE(n, v1, v2, ...)`` / mysql ``ELT(n, v1, ...)`` →
    ``GET(ARRAY(v1, ...), (n) - 1)``. Both sources return NULL for an
    out-of-range/zero/negative index — exactly ``get``'s contract,
    where Spark's own ``ELT`` raises under ANSI mode. Mixed-type value
    lists that mysql would coerce per-use fail loudly at ARRAY()
    type coercion."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) < 2:
            return None
        return (
            tokenize("GET(ARRAY(")
            + _join_args(args[1:], ", ")
            + tokenize("), (")
            + args[0]
            + tokenize(") - 1)")
        )

    return _rewrite_calls(tokens, (fname,), build)


def _rewrite_mysql_field(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """mysql ``FIELD(needle, v1, v2, ...)`` →
    ``COALESCE(ARRAY_POSITION(ARRAY(v1, ...), (needle)), 0)``:
    array_position is 1-based like FIELD and returns 0 when absent;
    the COALESCE maps its NULL-needle NULL to FIELD's documented 0."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) < 2:
            return None
        return (
            tokenize("COALESCE(ARRAY_POSITION(ARRAY(")
            + _join_args(args[1:], ", ")
            + tokenize("), (")
            + args[0]
            + tokenize(")), 0)")
        )

    return _rewrite_calls(tokens, ("FIELD",), build)


def _refuse_oracle_outer_join_plus(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Oracle's legacy ``(+)`` outer-join marker has no token-level
    translation (it changes JOIN SHAPE, not an expression) and
    passthrough is a bare Spark parse error — refuse with the fix."""
    for i, (kind, text) in enumerate(tokens):
        if (kind, text) != ("op", "("):
            continue
        j = _next_code(tokens, i)
        if j is None or tokens[j] != ("op", "+"):
            continue
        k = _next_code(tokens, j)
        if k is not None and tokens[k] == ("op", ")"):
            raise UnsupportedError(
                "Oracle's (+) outer-join syntax is not supported; "
                "rewrite the query with explicit "
                "LEFT/RIGHT OUTER JOIN."
            )
    return tokens


def _rewrite_mysql_json_extract(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """mysql ``JSON_UNQUOTE(JSON_EXTRACT(j, p))`` — the canonical
    text-extraction idiom — collapses to ``GET_JSON_OBJECT(j, p)``
    (both unquote string leaves). A BARE ``JSON_EXTRACT`` refuses
    loudly: it returns JSON (string leaves keep their quotes,
    ``JSON_EXTRACT('{"s":"hi"}','$.s')`` is '"hi"'), while Spark's
    get_json_object says 'hi' — wrap it in JSON_UNQUOTE or use ->>.
    Multi-path JSON_EXTRACT (3+ args returns a collected array)
    refuses too."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 1:
            return None
        inner = [(k, t) for k, t in args[0] if k not in ("ws", "comment")]
        if not (
            len(inner) >= 4
            and inner[0][0] == "word"
            and inner[0][1].upper() == "JSON_EXTRACT"
            and inner[1] == ("op", "(")
            and inner[-1] == ("op", ")")
        ):
            return None
        sub = _call_args(inner, 1)
        if sub is None or sub[1] != len(inner) - 1 or len(sub[0]) != 2:
            return None
        a, p = sub[0]
        return tokenize("GET_JSON_OBJECT(") + a + tokenize(", ") + p + tokenize(")")

    out = _rewrite_calls(tokens, ("JSON_UNQUOTE",), build)
    for k in _iter_code(out):
        if out[k][0] == "word" and out[k][1].upper() == "JSON_EXTRACT":
            nxt = _next_code(out, k)
            if nxt is not None and out[nxt] == ("op", "("):
                raise UnsupportedError(
                    "mysql JSON_EXTRACT returns JSON (string leaves "
                    "keep their quotes); Spark's get_json_object "
                    "unquotes them — wrap in JSON_UNQUOTE(...) or use "
                    "the ->> operator for text extraction."
                )
    return out


def _rewrite_bare_array_literal(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """duckdb/clickhouse/bigquery bare ``[1, 2, 3]`` array literals →
    ``ARRAY(1, 2, 3)`` (Spark's parser has no bare-bracket literal —
    passthrough is a loud parse error). A bracket token whose previous
    code token ENDS an operand is a SUBSCRIPT (``a[1]``,
    ``[1,2][1]``) and is left for the per-dialect subscript rewrite;
    a non-operand keyword (IN, SELECT, ...) or an operator before the
    bracket means literal position. Nested bare literals and brackets
    containing string-mangled ``]`` refuse loudly (the
    ARRAY[...] precedent — the lexer's bracket rule cannot see
    them)."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i][0] != "bracket":
            i += 1
            continue
        prev = _prev_code(out, i)
        ends_operand = prev is not None and (
            (
                out[prev][0] in _OPERAND_END_KINDS
                and not (
                    out[prev][0] == "word"
                    and out[prev][1].upper() in _NON_OPERAND_KEYWORDS
                )
            )
            or out[prev] == ("op", ")")
        )
        if ends_operand:
            i += 1
            continue
        inner = _bracket_inner(out[i][1])
        if inner is None:
            raise UnsupportedError(
                "this [...] array literal (nested, or a ']' inside a "
                "string literal) is not supported; "
                "spell it array(...)"
            )
        if not any(k not in ("ws", "comment") for k, _ in inner):
            raise UnsupportedError(
                "empty [] is not supported; spell a "
                "typed empty array as e.g. CAST(array() AS ARRAY<INT>)"
            )
        repl = tokenize("ARRAY(") + inner + tokenize(")")
        out[i : i + 1] = repl
        i += len(repl)
    return out


def _rewrite_mysql_regexp_ci(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """mysql REGEXP/RLIKE match with the connection collation, which
    is case-INSENSITIVE by default (utf8mb4_0900_ai_ci): ``'ABC'
    REGEXP 'abc'`` is 1 — Spark's RLIKE is case-sensitive, so both
    engines run and silently disagree. Operator form →
    ``RLIKE CONCAT('(?i)', (pattern))`` (ICU and Java regex both
    honor inline ``(?i)``; dynamic patterns included);
    ``REGEXP BINARY p`` is mysql's explicit case-SENSITIVE form →
    plain ``RLIKE p``. ``REGEXP_LIKE(s, p[, match_type])``: absent or
    'i' match_type → the (?i) form, 'c' → passthrough, anything else
    (m/n/u flags, dynamic) refuses loudly. Sessions configured with a
    binary/_cs collation are case-sensitive — server state the
    transpiler cannot see (the sqlite-LIKE precedent)."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        up = text.upper() if kind == "word" else ""
        if up == "REGEXP_LIKE":
            j = _next_code(out, i)
            parsed = _call_args(out, j) if j is not None and out[j] == ("op", "(") else None
            if parsed is None:
                i += 1
                continue
            args, close = parsed
            ci = True
            if len(args) == 3:
                mt = [(k, t) for k, t in args[2] if k not in ("ws", "comment")]
                flag = (
                    _unquote(mt[0][1], "'")
                    if len(mt) == 1 and mt[0][0] == "string"
                    else None
                )
                if flag == "c":
                    ci = False
                elif flag != "i":
                    raise UnsupportedError(
                        "mysql REGEXP_LIKE match_type other than 'c'/'i' "
                        "is not supported"
                    )
            elif len(args) != 2:
                i += 1
                continue
            pat = (
                (tokenize("CONCAT('(?i)', (") + list(args[1]) + tokenize("))"))
                if ci
                else list(args[1])
            )
            repl = (
                tokenize("REGEXP_LIKE(")
                + list(args[0])
                + tokenize(", ")
                + pat
                + tokenize(")")
            )
            out = out[:i] + repl + out[close + 1 :]
            i += len(repl)
            continue
        if up in ("REGEXP", "RLIKE"):
            prev = _prev_code(out, i)
            ends_operand = prev is not None and (
                (
                    out[prev][0] in _OPERAND_END_KINDS
                    and not (
                        out[prev][0] == "word"
                        and out[prev][1].upper() in _NON_OPERAND_KEYWORDS
                    )
                )
                or out[prev] in (("op", ")"), ("op", "]"))
            )
            if not ends_operand and not (
                prev is not None
                and out[prev][0] == "word"
                and out[prev][1].upper() == "NOT"
            ):
                i += 1
                continue
            rstart = _next_code(out, i)
            if rstart is None:
                i += 1
                continue
            if out[rstart][0] == "word" and out[rstart][1].upper() == "BINARY":
                # explicit case-sensitive form: drop BINARY, keep RLIKE
                pstart = _next_code(out, rstart)
                if pstart is None:
                    i += 1
                    continue
                out[i : pstart] = [("word", "RLIKE"), ("ws", " ")]
                i += 2
                continue
            rend = _capture_operand_fwd(out, rstart)
            if rend is None:
                raise UnsupportedError(
                    "cannot safely capture the REGEXP pattern operand; "
                    "parenthesize the pattern"
                )
            repl = (
                tokenize("RLIKE CONCAT('(?i)', (")
                + out[rstart : rend + 1]
                + tokenize("))")
            )
            out = out[:i] + repl + out[rend + 1 :]
            i += len(repl)
            continue
        i += 1
    return out


def _rewrite_pg_regex_ops(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """postgres/redshift POSIX regex operators → Spark predicates:
    ``a ~ p`` → ``a RLIKE p``, ``a !~ p`` → ``a NOT RLIKE p``; the
    case-insensitive forms ``~*`` / ``!~*`` additionally require a
    string-literal pattern (rewritten to ``'(?i)…'`` — Spark has no
    ILIKE-for-regex). The LIKE-operator spellings (pg lexes ``LIKE``
    into ``~~``, ``NOT LIKE`` into ``!~~``, ``ILIKE`` into ``~~*``,
    ``NOT ILIKE`` into ``!~~*``) map to Spark's native LIKE/ILIKE
    predicates — a second adjacent ``~`` is checked FIRST, or the
    single-``~`` regex branch would consume half the cluster and emit
    ``RLIKE RLIKE``. Spark would otherwise fail to parse ``~`` as an
    infix operator, so passthrough is a loud-but-confusing error; the
    PREFIX ``~`` (bitwise NOT — op-preceded) is native Spark and is
    left untouched. The lexer splits ``!~~*`` into single-char ops, so
    the cluster is matched by direct adjacency (no whitespace tokens
    between), exactly how postgres lexes it."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i] != ("op", "~"):
            i += 1
            continue
        bang = i > 0 and out[i - 1] == ("op", "!")
        start = i - 1 if bang else i
        # infix only: the token before the operator must end an operand
        # (and a keyword word like SELECT/WHERE/AND does not)
        j = _prev_code(out, start)
        ends_operand = j is not None and (
            (
                out[j][0] in _OPERAND_END_KINDS
                and not (
                    out[j][0] == "word"
                    and out[j][1].upper() in _NON_OPERAND_KEYWORDS
                )
            )
            or out[j] == ("op", ")")
        )
        if not ends_operand:
            i += 1
            continue
        if i + 1 < len(out) and out[i + 1] == ("op", "~"):
            # LIKE-operator spellings: ~~ / !~~ / ~~* / !~~*
            ci = i + 2 < len(out) and out[i + 2] == ("op", "*")
            end = i + 2 if ci else i + 1
            kw = "ILIKE" if ci else "LIKE"
            repl = tokenize(f" NOT {kw} " if bang else f" {kw} ")
            out = out[:start] + repl + out[end + 1 :]
            i = start + len(repl)
            continue
        ci = i + 1 < len(out) and out[i + 1] == ("op", "*")
        end = i + 1 if ci else i
        repl = tokenize(" NOT RLIKE " if bang else " RLIKE ")
        if ci:
            p = _next_code(out, end)
            if p is None or out[p][0] != "string":
                raise UnsupportedError(
                    "case-insensitive regex match (~*) needs a string-"
                    "literal pattern"
                )
            inner = _unquote(out[p][1], "'")
            out[p] = ("string", "'(?i)" + inner + "'")
        out = out[:start] + repl + out[end + 1 :]
        i = start + len(repl)
    return out


def _similar_pattern_to_regex(pat: str) -> str | None:
    """pg SIMILAR TO pattern → anchored Java regex, or None when the
    shape is untranslatable. SIMILAR TO is an ANCHORED full match
    mixing LIKE wildcards (``%``→``.*``, ``_``→``.``) with the regex
    metacharacters ``| * + ? ( ) { } [ ]`` (passed through, classes
    copied verbatim) — but ``.``, ``^`` and ``$`` are LITERAL there
    (escaped here), and ``\\x`` escapes its wildcard meaning."""
    out = ["(?s)^"]
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c == "\\":
            if i + 1 >= len(pat):
                return None
            nxt = pat[i + 1]
            # \x means LITERAL x: regex-escape specials, emit the
            # rest bare (escaping an alnum would create \d-style
            # regex classes)
            out.append("\\" + nxt if nxt in ".^$*+?()[]{}\\|" else nxt)
            i += 2
            continue
        elif c == "[":
            j = pat.find("]", i + 1)
            if j == -1 or j == i + 1:
                return None
            out.append(pat[i : j + 1])
            i = j + 1
            continue
        elif c in ".^$":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    out.append("$")
    return "".join(out)


def _rewrite_similar_to(
    tokens: list[tuple[str, str]], regex: bool = False
) -> list[tuple[str, str]]:
    """postgres/redshift ``SIMILAR TO`` mixes LIKE wildcards with
    regex groups in an ANCHORED full match. LITERAL patterns translate
    to ``RLIKE '(?s)^...$'`` (``%``→``.*``, ``_``→``.``, regex groups
    and classes pass through, the SIMILAR-TO-literal ``. ^ $``
    escaped); a preceding NOT keeps its polarity outside the
    rewritten predicate. Dynamic patterns, ESCAPE clauses, and
    malformed classes refuse loudly — passthrough would be a
    confusing Spark parse error.

    ``regex=True`` is the DUCKDB reading: measured on this box's
    duckdb, its SIMILAR TO treats the pattern as a full REGULAR
    EXPRESSION ('abc123' SIMILAR TO 'abc%' is FALSE — '%' literal;
    'a.c' SIMILAR TO 'a.c' is TRUE — '.' is a metachar), anchored —
    so the pattern passes through verbatim inside
    ``'(?s)^(?:...)$'``."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "SIMILAR":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j][0] != "word" or out[j][1].upper() != "TO":
            i += 1
            continue
        p = _next_code(out, j)
        if p is None or out[p][0] != "string":
            raise UnsupportedError(
                "SIMILAR TO needs a string-literal pattern; "
                "use a POSIX regex (~) or LIKE"
            )
        after = _next_code(out, p)
        if (
            after is not None
            and out[after][0] == "word"
            and out[after][1].upper() == "ESCAPE"
        ):
            raise UnsupportedError(
                "SIMILAR TO ... ESCAPE is not supported; "
                "use a POSIX regex (~)"
            )
        if regex:
            rex = "(?s)^(?:" + _unquote(out[p][1], "'") + ")$"
        else:
            rex = _similar_pattern_to_regex(_unquote(out[p][1], "'"))
        if rex is None:
            raise UnsupportedError(
                "this SIMILAR TO pattern (trailing backslash or "
                "malformed [...] class) is not supported; "
                "use a POSIX regex (~)"
            )
        lit = rex.replace("\\", "\\\\").replace("'", "''")
        out[i : p + 1] = [("word", "RLIKE"), ("ws", " "), ("string", f"'{lit}'")]
        i += 3
    return out


def _rewrite_generate_series(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """postgres/duckdb ``FROM generate_series(a, b[, step])`` →
    ``(SELECT explode(sequence(a, b[, step])) AS generate_series)`` —
    sequence() matches generate_series' INCLUSIVE bounds exactly, for
    integers and for timestamps with interval steps. A trailing alias
    (``g`` or ``g(n)``) is left in place; Spark accepts both after a
    subquery. Scale note: sequence() materializes the series as one
    in-memory array (fine for the calendar/index spines this appears
    in); a 100M-row spine should use ``spark.range`` instead. Only the
    FROM/JOIN table position rewrites; set-returning use in the
    projection (or a comma join, where the lexer cannot tell a lateral
    comma from an argument comma) refuses rather than mistranslating.
    """
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "GENERATE_SERIES":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j] != ("op", "("):
            i += 1
            continue
        prev = _prev_code(out, i)
        prev_word = out[prev][1].upper() if prev is not None and out[prev][0] == "word" else ""
        if prev_word not in ("FROM", "JOIN"):
            raise UnsupportedError(
                "generate_series outside the FROM/JOIN table position is "
                "not supported"
            )
        parsed = _call_args(out, j)
        if parsed is None:
            raise UnsupportedError("unbalanced generate_series call")
        args, close = parsed
        if len(args) not in (2, 3):
            raise UnsupportedError(
                f"generate_series takes 2 or 3 arguments, got {len(args)}"
            )
        repl = tokenize("(SELECT explode(sequence(")
        for k, a in enumerate(args):
            if k:
                repl += tokenize(", ")
            repl += a
        repl += tokenize(")) AS generate_series)")
        out = out[:i] + repl + out[close + 1 :]
        i += len(repl)
    return out


def _rewrite_pg_epoch_to_timestamp(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """postgres one-arg ``TO_TIMESTAMP(epoch)`` → ``TIMESTAMP_SECONDS``
    (pg's one-arg form takes a double epoch; fractional seconds carry
    through). Runs BEFORE the shared TO_CHAR/TO_DATE format rewrite so
    its one-arg refusal never sees this form."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 1:
            return None
        return tokenize("TIMESTAMP_SECONDS(") + args[0] + tokenize(")")

    return _rewrite_calls(tokens, ("TO_TIMESTAMP",), build)


# MySQL DATE_FORMAT/STR_TO_DATE %-codes → Spark datetime patterns.
# Only exact equivalents; %f (microseconds — Spark S counts fraction
# digits differently per position), %w (0=Sunday weekday number),
# %D (ordinal suffix), and the ISO/week-year family (%U %u %V %v %X
# %x) raise.
_MYSQL_FMT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M",
    "%d": "dd", "%e": "d", "%H": "HH", "%k": "H",
    "%h": "hh", "%I": "hh", "%l": "h", "%i": "mm",
    "%s": "ss", "%S": "ss", "%M": "MMMM", "%b": "MMM",
    "%a": "EEE", "%W": "EEEE", "%j": "DDD", "%p": "a",
    "%T": "HH:mm:ss", "%r": "hh:mm:ss a", "%%": "%",
}
_MYSQL_TIME_ONLY = {"%H", "%k", "%h", "%I", "%l", "%i", "%s", "%S", "%p", "%T", "%r"}


def _percent_datefmt(
    fmt: str, codes: dict[str, str], what: str
) -> tuple[str, list[str]]:
    """%-code format string → (Spark pattern, the codes it used), for
    mysql and bigquery. ``codes`` maps each supported code to its Spark
    pattern; any other code raises, naming it as ``what`` ("mysql
    format code"). Literal runs containing letters are single-quoted
    (Spark treats bare letters as pattern chars — THE silent-corruption
    hazard these rewrites exist to close)."""
    out: list[str] = []
    lit: list[str] = []
    seen: list[str] = []

    def flush() -> None:
        if not lit:
            return
        run = "".join(lit)
        if "'" in run:
            raise UnsupportedError(
                "single quotes inside a date format literal are not "
                "supported"
            )
        out.append(f"'{run}'" if any(c.isalpha() for c in run) else run)
        lit.clear()

    p = 0
    while p < len(fmt):
        if fmt[p] == "%":
            code = fmt[p : p + 2]
            spark = codes.get(code)
            if spark is None:
                raise UnsupportedError(f"{what} {code!r} is not supported")
            flush()
            out.append(spark)
            seen.append(code)
            p += 2
        else:
            lit.append(fmt[p])
            p += 1
    flush()
    return "".join(out), seen


def _rewrite_mysql_datefmt(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """mysql ``DATE_FORMAT(x, '%fmt')`` → ``DATE_FORMAT(x, 'spark')``,
    ``TIME_FORMAT`` likewise (time codes only — mysql zeroes date codes
    there), ``STR_TO_DATE(s, '%fmt')`` → ``TO_DATE``/``TO_TIMESTAMP``
    by whether the format carries time codes (mysql returns DATE vs
    DATETIME on the same rule). Without this rewrite DATE_FORMAT
    passes through to Spark's same-named function and renders the
    %-codes as literal text — silently wrong output, the worst
    failure mode a transpiler has. Non-literal formats refuse."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 2:
            raise UnsupportedError(f"{up} takes exactly 2 arguments")
        fcode = [(k, t) for k, t in args[1] if k not in ("ws", "comment")]
        if len(fcode) != 1 or fcode[0][0] != "string":
            raise UnsupportedError(
                f"{up} format must be a string literal"
            )
        spark_fmt, codes = _percent_datefmt(
            _unquote(fcode[0][1], "'"), _MYSQL_FMT, "mysql format code"
        )
        has_time = any(c in _MYSQL_TIME_ONLY for c in codes)
        has_date = any(c not in _MYSQL_TIME_ONLY and c != "%%" for c in codes)
        # mysql TIME_FORMAT zeroes/NULLs DATE specifiers; Spark's
        # DATE_FORMAT would render them for real — refuse on ANY date
        # code (a mixed '%Y %H:%i' diverges silently), not just on
        # all-date formats.
        if up == "TIME_FORMAT" and has_date:
            raise UnsupportedError(
                "TIME_FORMAT with date codes zeroes them in mysql; not "
                "supported"
            )
        fn = (
            "DATE_FORMAT"
            if up in ("DATE_FORMAT", "TIME_FORMAT")
            else ("TO_TIMESTAMP" if has_time else "TO_DATE")
        )
        # the Spark pattern may itself contain quoted literals ('T');
        # double them so the spliced SQL string literal stays balanced
        sql_fmt = spark_fmt.replace("'", "''")
        return tokenize(f"{fn}(") + args[0] + tokenize(f", '{sql_fmt}')")

    return _rewrite_calls(
        tokens, ("DATE_FORMAT", "TIME_FORMAT", "STR_TO_DATE"), build
    )


# T-SQL CONVERT target types → Spark cast types. String types carry
# their T-SQL silent-truncation semantics via SUBSTRING (Spark's ANSI
# CAST to VARCHAR(n) errors on overflow instead); TINYINT is unsigned
# 0..255 in T-SQL so it widens to SMALLINT rather than wrapping.
_TSQL_CONVERT_TYPES = {
    "INT": "INT", "INTEGER": "INT", "BIGINT": "BIGINT",
    "SMALLINT": "SMALLINT", "TINYINT": "SMALLINT",
    "FLOAT": "DOUBLE", "REAL": "FLOAT",
    "DECIMAL": "DECIMAL", "NUMERIC": "DECIMAL",
    "MONEY": "DECIMAL(19,4)", "SMALLMONEY": "DECIMAL(10,4)",
    "BIT": "BOOLEAN", "DATE": "DATE",
    "DATETIME": "TIMESTAMP", "DATETIME2": "TIMESTAMP",
    "SMALLDATETIME": "TIMESTAMP",
    "UNIQUEIDENTIFIER": "STRING",
    "BINARY": "BINARY", "VARBINARY": "BINARY",
}
_TSQL_STRING_TYPES = ("VARCHAR", "NVARCHAR", "CHAR", "NCHAR")
# mysql CONVERT/CAST target types (their own spellings).
_MYSQL_CONVERT_TYPES = {
    "SIGNED": "BIGINT", "UNSIGNED": "BIGINT",
    "DECIMAL": "DECIMAL", "DATE": "DATE",
    "DATETIME": "TIMESTAMP", "DOUBLE": "DOUBLE",
    "FLOAT": "FLOAT", "BINARY": "BINARY",
}


def _type_spec(arg: list[tuple[str, str]]) -> tuple[str, list[str]] | None:
    """Parse a type argument like ``VARCHAR(10)`` / ``DECIMAL(10, 2)``
    / ``SIGNED INTEGER`` → (NAME, params) or None if not type-shaped."""
    code = [(k, t) for k, t in arg if k not in ("ws", "comment")]
    if not code or code[0][0] != "word":
        return None
    name = code[0][1].upper()
    rest = code[1:]
    if (
        name in ("SIGNED", "UNSIGNED")
        and len(rest) == 1
        and rest[0][0] == "word"
        and rest[0][1].upper() == "INTEGER"
    ):
        rest = []  # SIGNED INTEGER == SIGNED
    if not rest:
        return name, []
    if (
        rest[0] == ("op", "(")
        and rest[-1] == ("op", ")")
        and all(k == "number" or (k, t) == ("op", ",") for k, t in rest[1:-1])
    ):
        return name, [t for k, t in rest[1:-1] if k == "number"]
    return None


def _rewrite_convert(
    tokens: list[tuple[str, str]], tsql: bool
) -> list[tuple[str, str]]:
    """``CONVERT`` → ``CAST``. T-SQL spells it ``CONVERT(type, expr
    [, style])`` (a style argument is locale formatting — refuses);
    mysql spells it ``CONVERT(expr, type)`` and has a ``CONVERT(expr
    USING charset)`` form (charset transcoding — refuses). String
    targets keep each dialect's silent truncation via SUBSTRING; an
    unknown target type refuses rather than guessing."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if not tsql and any(
            k == "word" and t.upper() == "USING" for a in args for k, t in a
        ):
            raise UnsupportedError(
                "CONVERT(expr USING charset) is charset transcoding; not "
                "supported"
            )
        if tsql and len(args) == 3:
            raise UnsupportedError(
                "CONVERT with a style argument is locale formatting; not "
                "supported"
            )
        if len(args) != 2:
            raise UnsupportedError("CONVERT takes 2 arguments")
        type_arg, expr = (args[0], args[1]) if tsql else (args[1], args[0])
        spec = _type_spec(type_arg)
        if spec is None:
            raise UnsupportedError(
                "CONVERT target type is not recognized"
            )
        name, params = spec
        if tsql and name in _TSQL_STRING_TYPES:
            # T-SQL truncates to the declared length (default 30)
            n = params[0] if params else "30"
            repl = (
                tokenize("SUBSTRING(CAST(")
                + expr
                + tokenize(f" AS STRING), 1, {n})")
            )
        elif not tsql and name in ("CHAR", "NCHAR"):
            if params:
                repl = (
                    tokenize("SUBSTRING(CAST(")
                    + expr
                    + tokenize(f" AS STRING), 1, {params[0]})")
                )
            else:
                repl = tokenize("CAST(") + expr + tokenize(" AS STRING)")
        else:
            table = _TSQL_CONVERT_TYPES if tsql else _MYSQL_CONVERT_TYPES
            target = table.get(name)
            if target is None:
                raise UnsupportedError(
                    f"CONVERT to {name} is not supported"
                )
            if target == "DECIMAL" and params:
                target = f"DECIMAL({', '.join(params)})"
            repl = tokenize("CAST(") + expr + tokenize(f" AS {target})")
        return repl

    return _rewrite_calls(tokens, ("CONVERT",), build)


# source field → (Spark EXTRACT field, subtract-one?). Used by the
# pg/duckdb and snowflake day-numbering rewrites below.
_PG_DOW_FIELDS = {"DOW": ("DOW", True), "ISODOW": ("DOW_ISO", False)}
# snowflake legacy numbering (WEEK_START=0, the default): dayofweek
# and its documented aliases are Sunday=0..6; the *_iso family is
# Monday=1..7 = Spark's DOW_ISO exactly.
_SNOWFLAKE_DOW_FIELDS = {
    "DAYOFWEEK": ("DOW", True),
    "WEEKDAY": ("DOW", True),
    "DOW": ("DOW", True),
    "DW": ("DOW", True),
    "DAYOFWEEKISO": ("DOW_ISO", False),
    "WEEKDAY_ISO": ("DOW_ISO", False),
    "DOW_ISO": ("DOW_ISO", False),
}


def _rewrite_extract_dow(
    tokens: list[tuple[str, str]],
    fields: dict[str, tuple[str, bool]],
    allow_word_field: bool = False,
) -> list[tuple[str, str]]:
    """Day-of-week numbering in EXTRACT/DATE_PART → Spark's, exactly.

    pg ``EXTRACT(DOW FROM x)`` numbers Sunday as 0 (0..6) while
    Spark's DOW field numbers it 1 (1..7) — the expression RUNS on
    Spark and returns off-by-one values, the silent-corruption class
    this transpiler must never allow. Snowflake's DAYOFWEEK family has
    the same hazard (Sunday=0 under the default WEEK_START=0). Fields
    mapping to ``(spark_field, True)`` wrap in ``( … - 1 )``; ISO
    variants (Monday=1, identical to Spark's DOW_ISO) rename. Covers
    both spellings: ``EXTRACT(field FROM x)`` and
    ``date_part('field', x)`` (plus snowflake's unquoted
    ``date_part(field, x)`` when ``allow_word_field``)."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        up = text.upper() if kind == "word" else ""
        if up not in ("EXTRACT", "DATE_PART"):
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j] != ("op", "("):
            i += 1
            continue
        parsed = _call_args(out, j)
        if parsed is None:
            i += 1
            continue
        args, close = parsed
        if up == "EXTRACT" and len(args) == 1:
            f = _next_code(args[0], -1)
            if f is None or args[0][f][0] != "word":
                i += 1
                continue
            field = args[0][f][1].upper()
            if field not in fields:
                i += 1
                continue
            spark_field, sub1 = fields[field]
            args[0] = list(args[0])
            args[0][f] = ("word", spark_field)
            repl = tokenize("EXTRACT(") + args[0] + tokenize(")")
        elif up == "DATE_PART" and len(args) == 2:
            f = _next_code(args[0], -1)
            if f is None:
                i += 1
                continue
            if args[0][f][0] == "string":
                field = _unquote(args[0][f][1], "'").upper()
            elif allow_word_field and args[0][f][0] == "word":
                field = args[0][f][1].upper()
            else:
                i += 1
                continue
            if field not in fields:
                i += 1
                continue
            spark_field, sub1 = fields[field]
            lit = ("string", f"'{spark_field}'")
            repl = tokenize("DATE_PART(") + [lit] + tokenize(", ") + args[1] + tokenize(")")
        else:
            i += 1
            continue
        if sub1:
            repl = tokenize("(") + repl + tokenize(" - 1)")
        out = out[:i] + repl + out[close + 1 :]
        i += len(repl)
    return out


def _rewrite_pg_dow(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """postgres/duckdb DOW/ISODOW numbering (see _rewrite_extract_dow)."""
    return _rewrite_extract_dow(tokens, _PG_DOW_FIELDS)


def _bracket_inner(text: str) -> list[tuple[str, str]] | None:
    """Re-tokenized content of a ``bracket`` token, or None when the
    lexer may have MANGLED the span. The bracket rule (shared with
    T-SQL quoting) is non-nesting and string-blind: ``[ARRAY[1]]``
    stops at the inner ``]``, and ``['a]b']`` closes inside the string
    literal. Both leave telltales — a ``[`` in the content, a stray
    quote op after re-lexing, or a ``]]`` escape that pg never
    produces — and every telltale means the surrounding statement was
    cut at the wrong place, so the caller must refuse loudly."""
    inner = text[1:-1]
    if "[" in inner or "]]" in inner:
        return None
    toks = tokenize(inner)
    if any(k == "op" and t in ("'", '"') for k, t in toks):
        return None
    return toks


def _rewrite_pg_array_literal(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """pg ``ARRAY[1,2,3]`` constructor → Spark ``array(1,2,3)``.

    Nested (``ARRAY[ARRAY[1]]``) and string-mangled forms refuse with
    the exact fix instead of emitting SQL Spark then fails to parse
    confusingly (the lexer's bracket rule cannot see them — see
    ``_bracket_inner``). An EMPTY ``ARRAY[]`` also refuses: pg requires
    a ``::type[]`` cast on it anyway, and Spark's untyped ``array()``
    (array<string>) would silently type-diverge."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "ARRAY":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j][0] != "bracket":
            i += 1
            continue
        inner = _bracket_inner(out[j][1])
        if inner is None:
            raise UnsupportedError(
                "this ARRAY[...] form (nested, or a ']' inside a string "
                "literal) is not supported; spell it "
                "array(...)"
            )
        if not any(k not in ("ws", "comment") for k, _ in inner):
            raise UnsupportedError(
                "empty ARRAY[] is not supported; spell a "
                "typed empty array as e.g. CAST(array() AS ARRAY<INT>)"
            )
        out = out[:i] + tokenize("array(") + inner + tokenize(")") + out[j + 1 :]
        i += 1
    return out


def _capture_operand(tokens: list[tuple[str, str]], end: int) -> int | None:
    """Start index of the tightest-binding operand ENDING at ``end``:
    a literal, a dotted identifier chain, or a balanced ``(...)``
    (with any attached dotted function name). Returns None when the
    span cannot be captured safely — callers must refuse loudly, never
    guess."""

    def chain_left(i: int) -> int:
        # a.b.c — extend leftward over '.' qualifiers
        start = i
        while True:
            k = _prev_code(tokens, start)
            if k is None or tokens[k] != ("op", "."):
                return start
            m = _prev_code(tokens, k)
            if m is None or tokens[m][0] not in ("word", "backtick"):
                return start
            start = m

    kind, text = tokens[end]
    if kind in ("string", "number"):
        return end
    if kind in ("word", "backtick"):
        if kind == "word" and text.upper() in _NON_OPERAND_KEYWORDS:
            return None
        return chain_left(end)
    if (kind, text) == ("op", ")"):
        depth = 0
        j = end
        while j >= 0:
            if tokens[j] == ("op", ")"):
                depth += 1
            elif tokens[j] == ("op", "("):
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        k = _prev_code(tokens, j)
        if (
            k is not None
            and tokens[k][0] in ("word", "backtick")
            and not (
                tokens[k][0] == "word"
                and tokens[k][1].upper() in _NON_OPERAND_KEYWORDS
            )
        ):
            return chain_left(k)  # function call: name ( ... )
        return j
    return None


def _rewrite_pg_subscript(
    tokens: list[tuple[str, str]], negatives: str = "null"
) -> list[tuple[str, str]]:
    """pg/duckdb array subscripts are 1-BASED; Spark's ``[]`` is
    0-based, so ``a[1]`` passes both parsers and silently reads the
    WRONG element — the exact silent-corruption class this transpiler
    exists to prevent. The two sources disagree on NEGATIVE indexes,
    so the emission is per-dialect:

    * ``negatives="null"`` (postgres): ``expr[i]`` → ``get(expr,
      (i) - 1)`` — ``get`` is 0-based and returns NULL out-of-range
      (ANSI-mode-proof), pg's exact contract for any out-of-bounds,
      zero, or negative subscript.
    * ``negatives="from_end"`` (duckdb, Python-style ``[-1]`` = last):
      ``expr[i]`` → ``TRY_ELEMENT_AT(expr, IF((i) = 0, NULL, (i)))``
      — try_element_at is 1-based, counts negatives from the end, and
      returns NULL out-of-range in both directions (and for a NULL
      index); the IF guard covers duckdb's ``[0]`` → NULL
      (try_element_at raises INVALID_INDEX_OF_ZERO) while keeping the
      emission capturable as an operand for chained subscripts.

    Subscripts bind tightest, so capturing just the primary operand is
    always the correct LHS. Slices (``a[1:2]``) and forms whose
    operand cannot be captured refuse loudly; an EMPTY ``[]`` (pg
    ``::int[]`` type syntax) is left untouched for the type rules to
    handle."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i][0] != "bracket":
            i += 1
            continue
        j = _prev_code(out, i)
        if j is None:
            i += 1
            continue
        prev_kind, prev_text = out[j]
        # subscript context only: something that can END an operand.
        # (word ARRAY never reaches here — the literal rewrite ran.)
        is_operand_end = (
            prev_kind in ("word", "backtick")
            and not (
                prev_kind == "word"
                and prev_text.upper() in _NON_OPERAND_KEYWORDS
            )
        ) or (prev_kind, prev_text) == ("op", ")")
        if not is_operand_end:
            i += 1
            continue
        inner = _bracket_inner(out[i][1])
        if inner is None:
            raise UnsupportedError(
                "this subscript form (nested brackets, or a ']' inside a "
                "string literal) is not supported"
            )
        code = [t for t in inner if t[0] not in ("ws", "comment")]
        if not code:
            i += 1  # `::int[]` type spelling, not a subscript
            continue
        if ("op", ":") in code:
            raise UnsupportedError(
                "array slice subscripts (a[i:j]) are not supported; "
                "spell it slice(a, i, j - i + 1)"
            )
        lstart = _capture_operand(out, j)
        if lstart is None:
            raise UnsupportedError(
                "cannot safely rewrite this 1-based subscript's operand; "
                "spell it get(expr, i - 1)"
            )
        if negatives == "from_end":
            # IF() keeps the whole emission a function call ending in
            # ')' so a CHAINED subscript (a[1][2]) can capture it as
            # its operand — a trailing CASE...END would refuse there.
            repl = (
                tokenize("TRY_ELEMENT_AT(")
                + out[lstart : j + 1]
                + tokenize(", IF((")
                + inner
                + tokenize(") = 0, NULL, (")
                + inner
                + tokenize(")))")
            )
        elif negatives == "shift":
            # trino/presto: 1-based, and ANY invalid index (0,
            # negative, out-of-range) RAISES — exactly what Spark's
            # ANSI-mode [] does after the -1 shift. The outer parens
            # make the emission end in ')' so a CHAINED subscript
            # (a[1][2]) can capture it as its operand.
            repl = (
                tokenize("(")
                + out[lstart : j + 1]
                + tokenize("[(")
                + inner
                + tokenize(") - 1])")
            )
        else:
            repl = (
                tokenize("get(")
                + out[lstart : j + 1]
                + tokenize(", (")
                + inner
                + tokenize(") - 1)")
            )
        out = out[:lstart] + repl + out[i + 1 :]
        i = lstart  # re-scan the rewritten span for chained a[1][2]
    return out


def _capture_operand_fwd(tokens: list[tuple[str, str]], start: int) -> int | None:
    """End index of the tightest-binding operand STARTING at ``start``
    (the forward twin of ``_capture_operand``): an optional single
    +/- sign, then a literal, a dotted identifier chain with optional
    call parens, or a balanced ``(...)``. None when unsafe."""
    i = start
    kind, text = tokens[i]
    if (kind, text) in (("op", "-"), ("op", "+")):
        nxt = _next_code(tokens, i)
        if nxt is None:
            return None
        i = nxt
        kind, text = tokens[i]
    if kind in ("string", "number"):
        return i
    if kind in ("word", "backtick"):
        if kind == "word" and text.upper() in _NON_OPERAND_KEYWORDS:
            return None
        end = i
        while True:
            nxt = _next_code(tokens, end)
            if nxt is not None and tokens[nxt] == ("op", "."):
                nn = _next_code(tokens, nxt)
                if nn is None or tokens[nn][0] not in ("word", "backtick"):
                    return None
                end = nn
                continue
            if nxt is not None and tokens[nxt] == ("op", "("):
                parsed = _call_args(tokens, nxt)
                if parsed is None:
                    return None
                return parsed[1]
            return end
    if (kind, text) == ("op", "("):
        parsed = _call_args(tokens, i)
        return None if parsed is None else parsed[1]
    return None


def _rewrite_caret_power(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """pg/duckdb/redshift infix ``^`` is EXPONENTIATION; Spark's ``^``
    is bitwise XOR — ``2 ^ 3`` parses on both engines and silently
    returns 1 instead of 8, the worst corruption class. Rewrite
    ``l ^ r`` → ``POWER(l, r)``. ``^`` binds tighter than every binary
    operator in pg, and UNARY minus binds tighter still (pg precedence
    table: unary ``+ -`` sit above ``^``), so ``-2 ^ 2`` is
    ``(-2)^2 = 4`` and a unary sign belongs inside the left operand;
    capturing the immediate primary on each side is otherwise
    precedence-exact, and the left-to-right rescan reproduces
    left associativity (``2^3^2`` → POWER(POWER(2,3),2)). Uncapturable
    operands refuse loudly."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i] != ("op", "^"):
            i += 1
            continue
        lend = _prev_code(out, i)
        rstart = _next_code(out, i)
        lstart = None if lend is None else _capture_operand(out, lend)
        rend = None if rstart is None else _capture_operand_fwd(out, rstart)
        if lstart is None or rend is None:
            raise UnsupportedError(
                "cannot safely rewrite the ^ exponentiation operator's "
                "operands; spell it POWER(l, r)"
            )
        # pg precedence: UNARY minus binds tighter than ^ (`-2 ^ 2` is
        # `(-2)^2` = 4), so a unary sign belongs INSIDE the left
        # operand. It's unary iff the token before it cannot end an
        # operand (else it's binary: `a - 2 ^ 2` is `a - (2^2)`).
        before = _prev_code(out, lstart)
        if before is not None and out[before] in (("op", "-"), ("op", "+")):
            bb = _prev_code(out, before)
            ends_operand = bb is not None and (
                (
                    out[bb][0] in _OPERAND_END_KINDS
                    and not (
                        out[bb][0] == "word"
                        and out[bb][1].upper() in _NON_OPERAND_KEYWORDS
                    )
                )
                or out[bb] == ("op", ")")
            )
            if not ends_operand:
                lstart = before
        repl = (
            tokenize("POWER(")
            + out[lstart : lend + 1]
            + tokenize(", ")
            + out[rstart : rend + 1]
            + tokenize(")")
        )
        out = out[:lstart] + repl + out[rend + 1 :]
        i = lstart
    return out


_MYSQL_DATE_ADDSUB = {"DATE_ADD": 1, "ADDDATE": 1, "DATE_SUB": -1, "SUBDATE": -1}

_CH_ADDSUB: dict[str, tuple[str, int]] = {}
for _u in ("YEARS", "QUARTERS", "MONTHS", "WEEKS", "DAYS",
           "HOURS", "MINUTES", "SECONDS"):
    _CH_ADDSUB["ADD" + _u] = (_u[:-1], 1)
    _CH_ADDSUB["SUBTRACT" + _u] = (_u[:-1], -1)


def _rewrite_mysql_interval_arith(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """mysql ``DATE_ADD/DATE_SUB/ADDDATE/SUBDATE(expr, INTERVAL n
    unit)`` → ``TIMESTAMPADD(unit, ±n, expr)`` (n may be any
    expression — the bigquery _rewrite_bq_datetime precedent), and the
    days-integer forms ``ADDDATE/SUBDATE(expr, n)`` →
    ``TIMESTAMPADD(DAY, ±n, expr)``: Spark's own DATE_ADD returns a
    DATE, silently DROPPING the time-of-day of a DATETIME input, and
    mysql's DATE_ADD doesn't accept a bare integer at all. Composite
    mysql units (DAY_HOUR, YEAR_MONTH, ...) refuse loudly via
    _date_part. Documented visible divergence: the result is a
    TIMESTAMP even for DATE input where mysql keeps DATE for
    day-granularity arithmetic (the DATEADD-rewrite precedent) —
    a type widening, not a value corruption."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 2:
            return None
        sign = _MYSQL_DATE_ADDSUB[up]
        iv = [(k, t) for k, t in args[1] if k not in ("ws", "comment")]
        if iv and iv[0][0] == "word" and iv[0][1].upper() == "INTERVAL":
            if len(iv) < 3 or iv[-1][0] != "word":
                raise UnsupportedError(
                    f"{up} second argument must be INTERVAL <n> <unit>"
                )
            unit = _date_part([iv[-1]])
            n: list[tuple[str, str]] = list(iv[1:-1])
        elif up in ("ADDDATE", "SUBDATE"):
            unit = "DAY"
            n = list(args[1])
        else:
            raise UnsupportedError(
                f"mysql {up} requires an INTERVAL second argument"
            )
        n_toks = (
            (tokenize("-(") + n + tokenize(")")) if sign < 0 else n
        )
        return (
            tokenize(f"TIMESTAMPADD({unit}, ")
            + n_toks
            + tokenize(", ")
            + args[0]
            + tokenize(")")
        )

    return _rewrite_calls(tokens, _MYSQL_DATE_ADDSUB, build)


def _rewrite_ch_addsub(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """clickhouse ``addDays/addMonths/.../subtractSeconds(expr, n)``
    → ``TIMESTAMPADD(UNIT, ±n, expr)``. Both engines clamp month-end
    arithmetic (Jan 31 + 1 month = Feb 29). Non-2-arg calls stay put
    and fail loudly as unresolved functions."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 2:
            return None
        unit, sign = _CH_ADDSUB[name.upper()]
        n_toks = (
            (tokenize("-(") + list(args[1]) + tokenize(")"))
            if sign < 0
            else list(args[1])
        )
        return (
            tokenize(f"TIMESTAMPADD({unit}, ")
            + n_toks
            + tokenize(", ")
            + args[0]
            + tokenize(")")
        )

    return _rewrite_calls(tokens, _CH_ADDSUB, build)


def _rewrite_duckdb_intdiv(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """duckdb ``//`` is integer division TRUNCATING TOWARD ZERO
    (measured on this box's duckdb: ``7//2=3, -7//2=-3, 7//-2=-3``) —
    exactly Spark's ``DIV`` operator, including the ANSI-mode
    divide-by-zero error both engines raise. The tokenizer yields two
    strictly ADJACENT '/' ops for ``//`` (whitespace between two
    slashes is not the operator and stays untouched, failing loudly on
    Spark's parser rather than guessing)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        if (
            tokens[i] == ("op", "/")
            and i + 1 < len(tokens)
            and tokens[i + 1] == ("op", "/")
        ):
            out += [("ws", " "), ("word", "DIV"), ("ws", " ")]
            i += 2
            continue
        out.append(tokens[i])
        i += 1
    return out


def _int_operand_back(
    tokens: list[tuple[str, str]], end: int
) -> int | None:
    """Start index of a KNOWN-INTEGER operand ending at ``end``: an
    integer literal, or the closing paren of a bare ``COUNT(...)``
    call (always integer-typed in every dialect this feeds). None
    for anything whose type a token rewriter cannot see."""
    kind, text = tokens[end]
    if kind == "number":
        return end if text.isdigit() else None
    if (kind, text) == ("op", ")"):
        depth = 0
        j = end
        while j >= 0:
            if tokens[j] == ("op", ")"):
                depth += 1
            elif tokens[j] == ("op", "("):
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        k = _prev_code(tokens, j)
        if k is None or tokens[k][0] != "word" or tokens[k][1].upper() != "COUNT":
            return None
        kk = _prev_code(tokens, k)
        if kk is not None and tokens[kk] == ("op", "."):
            return None  # qualified x.count(...) — not the aggregate
        return k
    return None


def _int_operand_fwd(
    tokens: list[tuple[str, str]], start: int
) -> int | None:
    """End index of a KNOWN-INTEGER operand starting at ``start``:
    an optional single unary sign, then an integer literal or a
    ``COUNT(...)`` call. The forward twin of ``_int_operand_back``."""
    i = start
    kind, text = tokens[i]
    if (kind, text) in (("op", "-"), ("op", "+")):
        nxt = _next_code(tokens, i)
        if nxt is None:
            return None
        i = nxt
        kind, text = tokens[i]
    if kind == "number":
        return i if text.isdigit() else None
    if kind == "word" and text.upper() == "COUNT":
        j = _next_code(tokens, i)
        if j is None or tokens[j] != ("op", "("):
            return None
        parsed = _call_args(tokens, j)
        return None if parsed is None else parsed[1]
    return None


def _rewrite_int_literal_division(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """pg/redshift/tsql/sqlite/teradata ``/`` on two INTEGER operands
    is integer division truncating toward zero (pg docs' operator
    table flags ``/`` as "division (integer division truncates the
    result)"; ``SELECT (-7)/2`` is -3 on all five); Spark's ``/`` is
    ALWAYS true division, so ``7/2`` runs on both engines and silently
    returns 3.5 instead of 3 — the silent-corruption class this
    transpiler exists to stop. Only statically type-KNOWN integer
    operands rewrite: integer literals and ``COUNT(...)`` calls
    (integer-typed in all five dialects — and ``COUNT(*)/2``-style
    ratios are the wild-caught shape of this bug). Both sides must be
    known-integer; a column operand's type is invisible at the token
    layer, and decimal/float division — the common case — is already
    correct untouched.

    Guards, in order: the code token before the left operand must not
    be ``* / %`` (left associativity: the ``/``'s real left operand
    would be the whole preceding same-precedence product, of unknown
    type — EXCEPT a ``DIV`` planted by this same pass, whose result is
    always integral, which keeps ``100/2/3`` exact end-to-end); the
    right operand must not be followed by ``::`` (the pg cast binds
    tighter, so ``7/2::numeric`` is true division — skip)."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i] != ("op", "/"):
            i += 1
            continue
        lend = _prev_code(out, i)
        rstart = _next_code(out, i)
        if lend is None or rstart is None:
            i += 1
            continue
        lstart = _int_operand_back(out, lend)
        rend = _int_operand_fwd(out, rstart)
        if lstart is None or rend is None:
            i += 1
            continue
        before = _prev_code(out, lstart)
        if before is not None and out[before] in (
            ("op", "*"), ("op", "/"), ("op", "%"),
        ):
            i += 1
            continue
        after = _next_code(out, rend)
        if after is not None and out[after] == ("op", "::"):
            i += 1
            continue
        out[i : i + 1] = [("ws", " "), ("word", "DIV"), ("ws", " ")]
        i = rend + 3  # operand end shifted by the 2 net-new tokens
    return out


def _rewrite_or_zero(
    tokens: list[tuple[str, str]], fname: str, op: str
) -> list[tuple[str, str]]:
    """clickhouse ``intDivOrZero``/``moduloOrZero`` return 0 (not an
    error, not NULL) on a zero divisor — emit
    ``IF((b) = 0, 0, (a) <op> (b))``. Only the exact 2-arg form
    rewrites; any other arity stays put and fails loudly as an
    unresolved function on Spark. Documented divergence: clickhouse
    also returns 0 for min-negative ÷ -1; Spark ANSI raises an
    overflow ERROR there — loud, not silent."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 2:
            return None
        a, b = args
        return (
            tokenize("IF((")
            + b
            + tokenize(") = 0, 0, (")
            + a
            + tokenize(f") {op} (")
            + b
            + tokenize("))")
        )

    return _rewrite_calls(tokens, (fname,), build)


def _literal_int(arg: list[tuple[str, str]]) -> int | None:
    """The integer value of an argument token list that is exactly an
    optionally-signed integer literal, else None."""
    code = [(k, t) for k, t in arg if k not in ("ws", "comment")]
    sign = 1
    if code and code[0] in (("op", "-"), ("op", "+")):
        sign = -1 if code[0][1] == "-" else 1
        code = code[1:]
    if len(code) == 1 and code[0][0] == "number" and code[0][1].isdigit():
        return sign * int(code[0][1])
    return None


def _rewrite_substr_nonpositive(
    tokens: list[tuple[str, str]], zero_only: bool = False
) -> list[tuple[str, str]]:
    """pg/redshift SUBSTRING/SUBSTR treat a start position < 1 as
    VIRTUAL positions before the string: ``substr('abcdef', -2, 5)``
    = 'ab' (positions -2..2, the first 1-p are off-string) and
    ``substr('abcdef', 0, 3)`` = 'ab'. Spark counts a NEGATIVE start
    from the END ('ef') and reads 0 as 1 without consuming length
    ('abc') — every combination runs and silently disagrees. For a
    LITERAL start p <= 0 the pg result is computable at transpile
    time: start 1, length reduced by the consumed virtual span
    (1 - p); Spark returns '' for non-positive lengths, matching pg's
    empty result when the whole length is consumed, so the reduced
    length needs no clamp and the length argument may be any
    expression. Both the comma and FROM/FOR spellings are handled;
    non-literal starts are invisible at the token layer and pass
    through (documented residual).

    duckdb agrees with Spark on negative starts (from-the-end,
    measured: ``substr('abcdef', -2)`` = 'ef' on this box's duckdb)
    but uses pg's virtual consumption at 0 (``substr('abcdef', 0,
    3)`` = 'ab') — ``zero_only=True`` restricts the rewrite to the
    one start value that differs there."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) == 1:
            # FROM/FOR spelling: split the single arg at depth-0
            # FROM / FOR keywords
            seg: list[list[tuple[str, str]]] = [[]]
            depth = 0
            ok = True
            for k, t in args[0]:
                if (k, t) == ("op", "("):
                    depth += 1
                elif (k, t) == ("op", ")"):
                    depth -= 1
                if depth == 0 and k == "word" and t.upper() in ("FROM", "FOR"):
                    if (t.upper() == "FROM" and len(seg) != 1) or (
                        t.upper() == "FOR" and len(seg) != 2
                    ):
                        ok = False
                        break
                    seg.append([])
                    continue
                seg[-1].append((k, t))
            if not ok or len(seg) < 2:
                return None
            args = seg
        if not 2 <= len(args) <= 3:
            return None
        p = _literal_int(args[1])
        if p is None or p > 0 or (zero_only and p != 0):
            return None
        consumed = 1 - p
        repl = tokenize("SUBSTRING(") + list(args[0]) + tokenize(", 1")
        if len(args) == 3:
            repl += tokenize(", (") + list(args[2]) + tokenize(
                f") - {consumed}"
            )
        repl += tokenize(")")
        return repl

    return _rewrite_calls(tokens, ("SUBSTR", "SUBSTRING"), build)


def _tsql_like_pattern_to_regex(pat: str) -> str | None:
    """Translate a T-SQL LIKE pattern WITH bracket classes into an
    anchored Java regex: ``%``→``.*``, ``_``→``.``, ``[...]`` keeps
    its class meaning (``^`` negation and ``-`` ranges are the same in
    both languages; wildcards lose their meaning inside brackets on
    both sides), everything else matches literally. Returns None for
    class shapes whose T-SQL reading is murky (unterminated ``[``,
    empty ``[]``/``[^]``) — callers refuse loudly rather than guess."""
    out = ["(?s)^"]
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c == "[":
            j = pat.find("]", i + 1)
            if j == -1 or j == i + 1 or (j == i + 2 and pat[i + 1] == "^"):
                return None
            body = []
            for k, ch in enumerate(pat[i + 1 : j]):
                if ch == "^" and k == 0:
                    body.append("^")
                elif ch in "\\[]&":
                    body.append("\\" + ch)  # Java class metacharacters
                else:
                    body.append(ch)
            out.append("[" + "".join(body) + "]")
            i = j + 1
            continue
        elif c in ".^$*+?()[]{}\\|":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    out.append("$")
    return "".join(out)


def _rewrite_tsql_like_brackets(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """T-SQL LIKE patterns support ``[...]`` character classes and
    ``[^...]`` negation ('LIKE \\'[0-9]%\\''); Spark's LIKE reads the
    brackets as LITERAL characters — both run, every row silently
    non-matching, the worst corruption class. LITERAL patterns
    containing ``[`` rewrite to an anchored RLIKE regex (a literal
    bracket is spelled ``[[]`` in T-SQL, so a bare ``[`` in a literal
    pattern always means a class). Non-literal bracket patterns are
    invisible at the token layer and pass through; a literal bracket
    pattern followed by ESCAPE refuses loudly (the interaction is out
    of scope, and a silent pass-through would mis-match every row).
    Collation note: whether T-SQL LIKE compares case-insensitively is
    a server collation property the transpiler cannot see; this
    rewrite preserves Spark's case-sensitive comparison either way."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "LIKE":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j][0] != "string":
            i += 1
            continue
        pat = _unquote(out[j][1], "'")
        if "[" not in pat:
            i += 1
            continue
        after = _next_code(out, j)
        if (
            after is not None
            and out[after][0] == "word"
            and out[after][1].upper() == "ESCAPE"
        ):
            raise UnsupportedError(
                "T-SQL LIKE with both a [...] class and an ESCAPE "
                "clause has no scoped Spark rewrite; drop the ESCAPE "
                "or spell the predicate as RLIKE."
            )
        regex = _tsql_like_pattern_to_regex(pat)
        if regex is None:
            raise UnsupportedError(
                f"cannot translate T-SQL LIKE pattern {pat!r}: "
                "unterminated or empty [...] class — spell it RLIKE."
            )
        lit = regex.replace("\\", "\\\\").replace("'", "''")
        out[i : j + 1] = [("word", "RLIKE"), ("ws", " "), ("string", f"'{lit}'")]
        i += 3
    return out


def _swap_first_two_args(
    tokens: list[tuple[str, str]], fname: str, min_args: int = 2, max_args: int = 3
) -> list[tuple[str, str]]:
    """Swap a call's first two arguments: ``FNAME(a, b[, c])`` →
    ``FNAME(b, a[, c])`` — for sources whose argument order is the
    REVERSE of Spark's (both run, silently different values)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if not min_args <= len(args) <= max_args:
            return None
        swapped = _join_args([args[1], args[0]] + args[2:], ", ")
        return [("word", name), ("op", "(")] + swapped + [("op", ")")]

    return _rewrite_calls(tokens, (fname,), build)


def _refuse_unswapped_arity(
    tokens: list[tuple[str, str]], fname: str, ok_arity: int, why: str
) -> list[tuple[str, str]]:
    """Refuse loudly when ``fname`` is called with an arity the
    argument-swap rewrite does NOT handle. Without this, a 3-arg
    clickhouse ``splitByChar(sep, s, max_substrings)`` slips past
    ``_swap_first_two_args(max_args=2)`` and ``_rewrite_literal_split``
    but is still renamed to SPLIT by the unconditional
    ``_rewrite_func_names`` — Spark then runs ``split(sep, s, n)`` with
    str/delimiter reversed and the delimiter treated as a regex:
    silently wrong, the exact divergence class this module forbids."""
    def build(name: str, args: list[_Tokens]) -> None:
        if len(args) != ok_arity:
            raise UnsupportedError(f"{fname.lower()} with {len(args)} args: {why}")

    return _rewrite_calls(tokens, (fname,), build)


def _rewrite_single_arg_log10(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Sources where single-arg ``LOG(x)`` means log BASE 10
    (pg/duckdb/redshift/sqlite/teradata) vs Spark's natural log — both
    run, silently off by a factor of ln(10). Two-arg ``LOG(b, x)`` has
    the same order on both and is left alone."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 1:
            return None
        return tokenize("LOG10(") + args[0] + tokenize(")")

    return _rewrite_calls(tokens, ("LOG",), build)


def _rewrite_literal_split(
    tokens: list[tuple[str, str]],
    fname: str,
    default_delim: str | None = None,
    max_args: int = 3,
) -> list[tuple[str, str]]:
    """Sources whose split-by-delimiter function takes a LITERAL
    delimiter (trino/presto/bigquery SPLIT, pg STRING_TO_ARRAY, duckdb
    STRING_SPLIT) vs Spark's ``split(str, REGEX)`` — ``split('a.b',
    '.')`` runs on both and silently explodes into empty strings.
    Emit ``SPLIT(str, CONCAT('\\\\Q', (delim), '\\\\E')[, limit])``:
    Java's \\Q...\\E regex quoting makes ANY delimiter expression
    literal, dynamic ones included (delimiters containing a literal
    ``\\E`` are the one unquotable corner). ``default_delim`` supplies
    BigQuery's one-arg ``SPLIT(x)`` = ``SPLIT(x, ',')``."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) == 1 and default_delim is not None and any(
            t[0] not in ("ws", "comment") for t in args[0]
        ):
            args = args + [tokenize(f"'{default_delim}'")]
        if not 2 <= len(args) <= max_args:
            return None
        delim = tokenize("CONCAT('\\\\Q', (") + args[1] + tokenize("), '\\\\E')")
        return (
            tokenize("SPLIT(")
            + _join_args([args[0], delim] + args[2:], ", ")
            + tokenize(")")
        )

    return _rewrite_calls(tokens, (fname,), build)


def _rewrite_concat_skip_nulls(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """pg/duckdb/tsql/oracle ``CONCAT()`` IGNORES NULL arguments
    (treats them as ''); Spark's returns NULL if any argument is NULL
    — both run, silently different. Emit
    ``CONCAT_WS('', CAST(a1 AS STRING), ...)``: concat_ws skips NULLs,
    and the casts reproduce the sources' any-type-to-text coercion
    (which Spark's concat_ws refuses for non-strings). Known narrow
    divergence: pg renders booleans 't'/'f' in text context, the cast
    renders 'true'/'false'. mysql/bigquery/snowflake/clickhouse concat
    propagates NULL like Spark — untouched. Redshift too: its CONCAT
    is two-argument and NULL-PROPAGATING (AWS docs: if either
    expression is null the result is null), matching Spark exactly —
    passthrough, NOT this rewrite."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if not any(t[0] not in ("ws", "comment") for a in args for t in a):
            return None
        casts = [tokenize("CAST(") + a + tokenize(" AS STRING)") for a in args]
        return tokenize("CONCAT_WS('', ") + _join_args(casts, ", ") + tokenize(")")

    return _rewrite_calls(tokens, ("CONCAT",), build)


def _rewrite_greatest_least_nullprop(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """mysql/oracle/clickhouse GREATEST/LEAST return NULL when ANY
    argument is NULL; Spark (like pg) IGNORES NULL arguments — both
    run, silently different values. Emit ``IF(a1 IS NULL OR ... , NULL,
    GREATEST(a1, ...))``; each argument is evaluated twice, fine for
    anything deterministic. IF() (not CASE...END) so the emission stays
    capturable as an operand."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind == "word" and text.upper() in ("GREATEST", "LEAST"):
            j = _next_code(out, i)
            if j is not None and out[j] == ("op", "("):
                parsed = _call_args(out, j)
                if parsed is not None and len(parsed[0]) >= 2:
                    args, close = parsed
                    # rewrite NESTED calls first: the IS NULL tests
                    # must see the null-PROPAGATING form of an inner
                    # GREATEST (a NULL arg nulls it), not Spark's
                    # null-ignoring one — GREATEST(GREATEST(a,b), c)
                    # with a NULL must be NULL end to end.
                    args = [
                        _rewrite_greatest_least_nullprop(a) for a in args
                    ]
                    cond: list[tuple[str, str]] = []
                    for idx, a in enumerate(args):
                        if idx:
                            cond += tokenize(" OR ")
                        cond += tokenize("(") + a + tokenize(") IS NULL")
                    body: list[tuple[str, str]] = []
                    for idx, a in enumerate(args):
                        if idx:
                            body += [("op", ","), ("ws", " ")]
                        body += a
                    repl = (
                        tokenize("IF(")
                        + cond
                        + tokenize(", NULL, " + text.upper() + "(")
                        + body
                        + tokenize("))")
                    )
                    out = out[:i] + repl + out[close + 1 :]
                    i += len(repl)  # fully processed, incl. nested
                    continue
        i += 1
    return out


# quantified-comparison operators that map onto a Spark lambda body
_ANY_ALL_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}
_ANY_ALL_WORD_OPS = {"LIKE", "ILIKE", "RLIKE"}


def _rewrite_pg_any_all(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """pg quantified comparisons over arrays/subqueries.

    * ``lhs = ANY (SELECT ...)`` → ``lhs IN (SELECT ...)`` and
      ``lhs <> ALL (SELECT ...)`` → ``lhs NOT IN (SELECT ...)`` —
      identical semantics, no operand capture needed (other operators
      over subqueries have no Spark equivalent and refuse).
    * ``lhs OP ANY (array_expr)`` → ``exists(array_expr, v -> (lhs) OP
      v)`` and ``ALL`` → ``forall(...)`` for OP in ``= <> != < <= > >=
      [NOT] LIKE/ILIKE/RLIKE`` (RLIKE is what ``~ ANY`` looks like
      after ``_rewrite_pg_regex_ops``). Spark's higher-order
      exists/forall follow the same three-valued logic as pg's
      quantifiers: TRUE beats NULL beats FALSE for ANY, FALSE beats
      NULL beats TRUE for ALL, empty array → FALSE/TRUE.

    Quantified comparisons bind loosest, so the LHS must be a captured
    primary — ``x + 1 = ANY(a)`` would otherwise capture ``1`` and
    emit ``x + exists(...)``, a silent corruption. The token BEFORE the
    captured operand must therefore start an expression (start of
    statement, ``(``, ``,``, ``;`` or a keyword); anything else refuses
    loudly with the parenthesize-the-LHS fix."""
    out = list(tokens)
    n_rewritten = 0
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() not in ("ANY", "SOME", "ALL"):
            i += 1
            continue
        quant = "ANY" if text.upper() in ("ANY", "SOME") else "ALL"
        open_at = _next_code(out, i)
        if open_at is None or out[open_at] != ("op", "("):
            i += 1
            continue
        # the comparison operator immediately left of ANY/ALL
        opi = _prev_code(out, i)
        if opi is None:
            i += 1
            continue
        op_tokens: list[tuple[str, str]] | None = None
        if out[opi][0] == "op" and out[opi][1] in _ANY_ALL_OPS:
            op_tokens = [out[opi]]
            lhs_end_at = opi
        elif (
            out[opi][0] == "word"
            and out[opi][1].upper() in _ANY_ALL_WORD_OPS
        ):
            op_tokens = [out[opi]]
            lhs_end_at = opi
            m = _prev_code(out, opi)
            if m is not None and out[m][0] == "word" and out[m][1].upper() == "NOT":
                op_tokens = [out[m], ("ws", " "), out[opi]]
                lhs_end_at = m
        if op_tokens is None:
            i += 1  # ANY/ALL in some other role (e.g. SELECT ALL)
            continue
        parsed = _call_args(out, open_at)
        if parsed is None:
            i += 1
            continue
        args, close = parsed
        if len(args) != 1:
            raise UnsupportedError(f"{quant}() takes exactly one argument")
        arg = args[0]
        arg_code = [t for t in arg if t[0] not in ("ws", "comment")]
        if not arg_code:
            raise UnsupportedError(f"{quant}() requires an argument")
        op_text = "".join(t for _, t in op_tokens).upper()
        if arg_code[0][0] == "word" and arg_code[0][1].upper() in ("SELECT", "WITH"):
            # subquery form: only the IN-expressible shapes are exact
            if quant == "ANY" and op_text == "=":
                repl = tokenize(" IN (") + arg + tokenize(")")
            elif quant == "ALL" and op_text in ("<>", "!="):
                repl = tokenize(" NOT IN (") + arg + tokenize(")")
            else:
                raise UnsupportedError(
                    f"{op_text} {quant} (subquery) has no Spark "
                    "equivalent (only = ANY -> IN and "
                    "<> ALL -> NOT IN translate exactly)"
                )
            out = out[:opi] + repl + out[close + 1 :]
            i = opi
            continue
        # array-expression form → exists/forall lambda
        lhs_last = _prev_code(out, lhs_end_at)
        lstart = None if lhs_last is None else _capture_operand(out, lhs_last)
        if lstart is None:
            raise UnsupportedError(
                f"cannot safely capture the left operand of {quant}(); "
                "parenthesize it: (expr) "
                f"{op_text} {quant}(...)"
            )
        before = _prev_code(out, lstart)
        starts_expr = before is None or out[before] in (
            ("op", "("), ("op", ","), ("op", ";")
        ) or (
            out[before][0] == "word"
            and out[before][1].upper() in _NON_OPERAND_KEYWORDS
        )
        if not starts_expr:
            raise UnsupportedError(
                f"the left operand of {quant}() is part of a larger "
                "expression; parenthesize it — (expr) "
                f"{op_text} {quant}(...)"
            )
        fn = "exists" if quant == "ANY" else "forall"
        var = f"__pg_q{n_rewritten}"
        n_rewritten += 1
        repl = (
            tokenize(f"{fn}(")
            + arg
            + tokenize(", {var} -> (".format(var=var))
            + out[lstart : lhs_last + 1]
            + tokenize(") ")
            + op_tokens
            + tokenize(f" {var})")
        )
        out = out[:lstart] + repl + out[close + 1 :]
        i = lstart
    return out


def _rewrite_tsql_square(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """T-SQL ``SQUARE(x)`` → ``POWER(x, 2)`` (no Spark SQUARE)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 1:
            return None
        return tokenize("POWER(") + args[0] + tokenize(", 2)")

    return _rewrite_calls(tokens, ("SQUARE",), build)


# BigQuery strftime-style format elements → Spark datetime patterns
# (NB: %M is MINUTE here — the opposite of mysql's month name).
# %E* extensions, %u/%V/%G (ISO week fields), %U/%W (week numbers),
# %s (epoch), and %Z/%z (zone — Spark formats zones differently per
# position) raise.
_BQ_FMT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%j": "DDD",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%p": "a", "%Q": "Q", "%T": "HH:mm:ss", "%R": "HH:mm",
    "%F": "yyyy-MM-dd", "%%": "%",
}


_BQ_FORMAT_FNS = {
    "FORMAT_DATE": "DATE_FORMAT", "FORMAT_TIMESTAMP": "DATE_FORMAT",
    "FORMAT_DATETIME": "DATE_FORMAT",
    "PARSE_DATE": "TO_DATE", "PARSE_TIMESTAMP": "TO_TIMESTAMP",
    "PARSE_DATETIME": "TO_TIMESTAMP",
}


def _rewrite_bq_format(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """bigquery FORMAT_*/PARSE_* (format FIRST, value second) → Spark
    DATE_FORMAT/TO_DATE/TO_TIMESTAMP with the %-codes translated —
    same silent-corruption class as mysql DATE_FORMAT."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 2:
            raise UnsupportedError(
                f"{up} with a time zone argument is not supported"
            )
        fcode = [(k, t) for k, t in args[0] if k not in ("ws", "comment")]
        if len(fcode) != 1 or fcode[0][0] != "string":
            raise UnsupportedError(
                f"{up} format must be a string literal"
            )
        spark_fmt, _ = _percent_datefmt(
            _unquote(fcode[0][1], "'"), _BQ_FMT, "bigquery format element"
        )
        sql_fmt = spark_fmt.replace("'", "''")
        return tokenize(f"{_BQ_FORMAT_FNS[up]}(") + args[1] + tokenize(
            f", '{sql_fmt}')"
        )

    return _rewrite_calls(tokens, _BQ_FORMAT_FNS, build)


_BQ_DT_ADDSUB = {
    "DATE_ADD": ("DATE", 1), "DATE_SUB": ("DATE", -1),
    "TIMESTAMP_ADD": ("TIMESTAMP", 1), "TIMESTAMP_SUB": ("TIMESTAMP", -1),
    "DATETIME_ADD": ("TIMESTAMP", 1), "DATETIME_SUB": ("TIMESTAMP", -1),
}


def _rewrite_bq_datetime(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """bigquery date/time arithmetic → Spark:

    * ``DATE_ADD(d, INTERVAL n unit)`` / ``DATE_SUB`` →
      ``CAST(TIMESTAMPADD(unit, ±n, d) AS DATE)`` (bq returns DATE);
      ``TIMESTAMP_ADD``/``DATETIME_ADD`` likewise without the cast.
    * ``DATE_DIFF(a, b, unit)`` / ``DATETIME_DIFF`` count unit
      BOUNDARIES in bq (DATE_DIFF('2024-02-01','2024-01-31', MONTH)
      = 1) — rewritten to the shared DATEDIFF boundary machinery
      (unit-first, swapped to (start, end)); bq weeks start SUNDAY.
    * ``TIMESTAMP_DIFF(a, b, unit)`` counts WHOLE elapsed units —
      exactly Spark's ``TIMESTAMPDIFF(unit, b, a)``.
    """
    boundary_diffs: list[str] = []

    def build(name: str, args: list[_Tokens]) -> _Tokens:
        up = name.upper()
        if up in _BQ_DT_ADDSUB:
            cast_date, sign = _BQ_DT_ADDSUB[up]
            if len(args) != 2:
                raise UnsupportedError(f"{up} expects (value, INTERVAL n unit)")
            iv = [(k, t) for k, t in args[1] if k not in ("ws", "comment")]
            if (
                len(iv) < 3
                or iv[0][0] != "word"
                or iv[0][1].upper() != "INTERVAL"
                or iv[-1][0] != "word"
            ):
                raise UnsupportedError(
                    f"{up} second argument must be INTERVAL <n> <unit>"
                )
            unit = _date_part([iv[-1]])
            n = iv[1:-1]
            n_toks = (
                (tokenize("-(") + list(n) + tokenize(")")) if sign < 0 else list(n)
            )
            repl = (
                tokenize(f"TIMESTAMPADD({unit}, ")
                + n_toks
                + tokenize(", ")
                + args[0]
                + tokenize(")")
            )
            if cast_date == "DATE":
                repl = tokenize("CAST(") + repl + tokenize(" AS DATE)")
        else:
            if len(args) != 3:
                raise UnsupportedError(f"{up} expects (end, start, unit)")
            unit_word = [(k, t) for k, t in args[2] if k not in ("ws", "comment")]
            if len(unit_word) != 1:
                raise UnsupportedError(f"{up} unit must be a bare part name")
            if up == "TIMESTAMP_DIFF":
                unit = _date_part(unit_word)
                repl = (
                    tokenize(f"TIMESTAMPDIFF({unit}, ")
                    + args[1]
                    + tokenize(", ")
                    + args[0]
                    + tokenize(")")
                )
            else:
                # boundary semantics: hand to the shared DATEDIFF
                # machinery in its (part, start, end) spelling
                repl = (
                    tokenize("DATEDIFF(")
                    + [unit_word[0]]
                    + tokenize(", ")
                    + args[1]
                    + tokenize(", ")
                    + args[0]
                    + tokenize(")")
                )
                boundary_diffs.append(up)
        return repl

    out = _rewrite_calls(
        tokens, {*_BQ_DT_ADDSUB, "DATE_DIFF", "DATETIME_DIFF", "TIMESTAMP_DIFF"}, build
    )
    if boundary_diffs:
        # bq weeks start Sunday (WEEK == WEEK(SUNDAY))
        out = _rewrite_dateadd_datediff(out, week_start="sunday")
    return out


def _rewrite_tsql_stuff(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """T-SQL ``STUFF(s, start, length, repl)`` → splice via SUBSTRING,
    keeping tsql's NULL contract (start < 1, start past the string, or
    negative length → NULL). Argument expressions are duplicated into
    the CASE guard — fine for the column/literal arguments STUFF takes
    in practice (Spark would re-evaluate a nondeterministic argument,
    but so would tsql's own scalar-UDF inlining)."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        if len(args) != 4:
            raise UnsupportedError("STUFF takes exactly 4 arguments")
        s, start, ln, repl = args
        return (
            tokenize("CASE WHEN (")
            + start
            + tokenize(") < 1 OR (")
            + start
            + tokenize(") > LENGTH(")
            + s
            + tokenize(") OR (")
            + ln
            # COALESCE keeps tsql's delete-without-insert contract:
            # STUFF(s, 2, 3, NULL) removes the range and returns the
            # splice, while a bare NULL in CONCAT would NULL the whole
            # expression
            + tokenize(") < 0 THEN NULL ELSE CONCAT(SUBSTRING(")
            + s
            + tokenize(", 1, (")
            + start
            + tokenize(") - 1), COALESCE(")
            + repl
            + tokenize(", ''), SUBSTRING(")
            + s
            + tokenize(", (")
            + start
            + tokenize(") + (")
            + ln
            + tokenize("))) END")
        )

    return _rewrite_calls(tokens, ("STUFF",), build)


def _rewrite_temp_table_as(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``CREATE [OR REPLACE] TEMP|TEMPORARY TABLE name AS SELECT …`` →
    ``CREATE [OR REPLACE] TEMPORARY VIEW name AS SELECT …``.

    Spark has no session-scoped TEMP TABLE; the session-scoped object
    is the temporary view, and for the SELECT-materialization idiom the
    view is the documented migration target. Divergence carried by the
    object kind: a view re-evaluates its query (a nondeterministic or
    source-mutating SELECT would differ from pg's materialized temp
    table). The column-definition form (no AS) has no data to carry and
    refuses."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind != "word" or text.upper() != "CREATE":
            i += 1
            continue
        j = _next_code(out, i)
        # optional OR REPLACE
        if j is not None and out[j][0] == "word" and out[j][1].upper() == "OR":
            k = _next_code(out, j)
            if k is not None and out[k][0] == "word" and out[k][1].upper() == "REPLACE":
                j = _next_code(out, k)
        if j is None or out[j][0] != "word" or out[j][1].upper() not in (
            "TEMP",
            "TEMPORARY",
        ):
            i += 1
            continue
        temp_at = j
        k = _next_code(out, j)
        if k is None or out[k][0] != "word" or out[k][1].upper() != "TABLE":
            i += 1
            continue
        table_at = k
        # require an AS before the next statement boundary
        has_as = False
        for p in range(table_at + 1, len(out)):
            if out[p] == ("op", ";"):
                break
            if out[p][0] == "word" and out[p][1].upper() == "AS":
                has_as = True
                break
        if not has_as:
            raise UnsupportedError(
                "CREATE TEMP TABLE with a column list (no AS SELECT) has "
                "no Spark equivalent; temp-table-as-select "
                "maps to a TEMPORARY VIEW"
            )
        out[temp_at] = ("word", "TEMPORARY")
        out[table_at] = ("word", "VIEW")
        i = table_at + 1
    return out


_ORDER_CLAUSE_ENDERS = frozenset(
    "LIMIT OFFSET FETCH WINDOW FOR ROWS RANGE GROUPS UNION INTERSECT EXCEPT MINUS".split()
)


def _rewrite_order_by_nulls(
    tokens: list[tuple[str, str]], asc: str, desc: str
) -> list[tuple[str, str]]:
    """Append explicit NULLS FIRST/LAST to every ORDER BY key that
    lacks one, using the SOURCE dialect's defaults.

    Spark defaults to NULLS FIRST on ASC / LAST on DESC; postgres,
    redshift, and oracle treat NULL as LARGEST (LAST on ASC, FIRST on
    DESC) and duckdb defaults to NULLS LAST in both directions — so an
    untranslated ORDER BY over a nullable key RUNS and returns rows in
    a different order, and with LIMIT returns DIFFERENT ROWS (silent
    corruption). Applies to every ORDER BY, including inside OVER()
    windows and rewrite-generated ones (DISTINCT ON's ROW_NUMBER),
    where the same default governs ranking. Keys already carrying
    NULLS FIRST/LAST, or a pg ``USING <op>`` key, are left alone."""
    out = list(tokens)
    i = 0
    while i < len(out):
        if out[i][0] != "word" or out[i][1].upper() != "ORDER":
            i += 1
            continue
        j = _next_code(out, i)
        if j is None or out[j][0] != "word" or out[j][1].upper() != "BY":
            i += 1
            continue
        # walk the sort keys
        p = j + 1
        depth = 0
        key_code: list[int] = []  # indices of code tokens in current key

        def _close_key(end: int) -> int:
            """Insert NULLS … at the end of the key (right after its
            last CODE token — not after trailing ws/comments, where a
            line comment would swallow the insertion); returns how many
            tokens were inserted."""
            if not key_code:
                return 0
            words = [
                out[q][1].upper() for q in key_code if out[q][0] == "word"
            ]
            if "NULLS" in words or "USING" in words:
                return 0
            direction = "DESC" if (words and words[-1] == "DESC") else "ASC"
            ins = tokenize(
                f" NULLS {desc if direction == 'DESC' else asc} "
            )
            at = min(key_code[-1] + 1, end)
            out[at:at] = ins
            return len(ins)

        while p < len(out):
            k, t = out[p]
            if (k, t) == ("op", "("):
                depth += 1
            elif (k, t) == ("op", ")"):
                if depth == 0:
                    p += _close_key(p)
                    break
                depth -= 1
            elif depth == 0 and (k, t) == ("op", ","):
                p += _close_key(p)
                key_code = []
                p += 1
                continue
            elif depth == 0 and (
                (k, t) == ("op", ";")
                or (k == "word" and t.upper() in _ORDER_CLAUSE_ENDERS)
            ):
                p += _close_key(p)
                break
            if k not in ("ws", "comment"):
                key_code.append(p)
            p += 1
        else:
            _close_key(len(out))
        i = j + 1
    return out


def _rewrite_fn_to_extract(
    tokens: list[tuple[str, str]],
    fn_to_field: dict[str, str],
    minus_one: frozenset[str] = frozenset(),
) -> list[tuple[str, str]]:
    """``FN(x)`` → ``EXTRACT(field FROM x)`` for day-number functions
    whose numbering Spark only exposes as an extract field (DOW_ISO
    etc.). Functions in ``minus_one`` additionally wrap in ``( … - 1 )``
    — the off-by-one shift for dialects that number Sunday as 0."""
    def build(name: str, args: list[_Tokens]) -> _Tokens | None:
        up = name.upper()
        if len(args) != 1:
            return None
        repl = tokenize(f"EXTRACT({fn_to_field[up]} FROM ") + args[0] + tokenize(")")
        if up in minus_one:
            repl = tokenize("(") + repl + tokenize(" - 1)")
        return repl

    return _rewrite_calls(tokens, fn_to_field, build)


# BigQuery ``SAFE.``-prefixed calls with an EXACT Spark NULL-on-error
# equivalent. Everything else refuses: a generic SAFE.FN has no Spark
# counterpart, and mapping it to the unprefixed FN would silently trade
# BigQuery's NULL-on-error contract for a runtime error (or worse, a
# value) — the silent-divergence class this module refuses throughout.
_BQ_SAFE_FNS = {
    "DIVIDE": "TRY_DIVIDE",
    "ADD": "TRY_ADD",
    "SUBTRACT": "TRY_SUBTRACT",
    "MULTIPLY": "TRY_MULTIPLY",
    "CAST": "TRY_CAST",
}


def _rewrite_bq_safe_prefix(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """BigQuery ``SAFE.FN(...)`` (NULL instead of error) → Spark
    ``TRY_*`` where the contract is exact; any other ``SAFE.`` call
    refuses loudly (passthrough is an UNRESOLVED_ROUTINE error that
    reads like a bug in the user's dataset qualification)."""
    out = list(tokens)
    i = 0
    while i < len(out):
        kind, text = out[i]
        if kind == "word" and text.upper() == "SAFE":
            j = _next_code(out, i)
            if j is not None and out[j] == ("op", "."):
                k = _next_code(out, j)
                if k is not None and out[k][0] == "word":
                    o = _next_code(out, k)
                    if o is not None and out[o] == ("op", "("):
                        fn = out[k][1].upper()
                        mapped = _BQ_SAFE_FNS.get(fn)
                        if mapped is None:
                            raise UnsupportedError(
                                f"SAFE.{fn} has no exact Spark NULL-on-"
                                "error equivalent "
                                "(supported: SAFE."
                                + "/SAFE.".join(sorted(_BQ_SAFE_FNS))
                                + ")"
                            )
                        out = out[:i] + [("word", mapped)] + out[k + 1 :]
                        i += 1
                        continue
        i += 1
    return out


def _refuse_mysql_upsert(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """mysql upsert spellings have no Spark SQL equivalent over
    registered DataFrame views — refuse with the restructuring hint
    instead of Spark's bare PARSE_SYNTAX_ERROR at 'ON'. Covers
    ``INSERT ... ON DUPLICATE KEY UPDATE``, ``REPLACE INTO`` and
    ``INSERT IGNORE`` (same delete-or-update-on-conflict family)."""
    # code-adjacent tokens: a join `ON duplicate = key` (columns named
    # duplicate/key) must not false-positive, so ops stay in the stream
    code = [
        (k, t.upper() if k == "word" else t)
        for k, t in tokens
        if k not in ("ws", "comment")
    ]
    for a, b, c in zip(code, code[1:], code[2:]):
        if a == ("word", "ON") and b == ("word", "DUPLICATE") and c == ("word", "KEY"):
            raise UnsupportedError(
                "INSERT ... ON DUPLICATE KEY UPDATE (mysql upsert) has "
                "no Spark SQL equivalent over registered views; "
                "restructure as MERGE INTO on a writable catalog table"
            )
    for a, b in zip(code, code[1:]):
        if a == ("word", "REPLACE") and b == ("word", "INTO"):
            raise UnsupportedError(
                "REPLACE INTO (mysql delete-then-insert upsert) has no "
                "Spark SQL equivalent over registered views; "
                "restructure as MERGE INTO on a writable catalog table"
            )
        if a == ("word", "INSERT") and b == ("word", "IGNORE"):
            raise UnsupportedError(
                "INSERT IGNORE (mysql skip-on-conflict upsert) has no "
                "Spark SQL equivalent over registered views; "
                "restructure as MERGE INTO on a writable catalog table"
            )
    return tokens


def emits_variant_object(sql: str) -> bool:
    """True when Spark SQL text contains ``TO_JSON(NAMED_STRUCT(`` —
    the shape ``_rewrite_object_construct`` emits for snowflake
    ``OBJECT_CONSTRUCT``. ``execute()`` uses this to pin the rewrite's
    NULL contract: omit-NULL-pairs parity with snowflake depends on
    ``spark.sql.jsonGenerator.ignoreNullFields=true`` (the Spark
    default); a session that set it false would keep null struct
    fields and silently diverge."""
    tokens = tokenize_spark(sql)
    for i in _iter_code(tokens):
        kind, text = tokens[i]
        if kind == "word" and text.upper() == "TO_JSON":
            j = _next_code(tokens, i)
            if j is None or tokens[j] != ("op", "("):
                continue
            k = _next_code(tokens, j)
            if (
                k is not None
                and tokens[k][0] == "word"
                and tokens[k][1].upper() == "NAMED_STRUCT"
            ):
                return True
    return False


# ---------------------------------------------------------------------------
# Token-level passes with no helper of their own, and the pass table


def _dquote_to_backtick(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Double-quoted identifiers → backticks (Spark's default parser
    reads ``"x"`` as a string literal)."""
    return [
        ("backtick", _to_backtick(_unquote(t, '"'))) if k == "dquoted" else (k, t)
        for k, t in tokens
    ]


def _fetch_first_to_limit(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``_rewrite_fetch_first`` in every scope, when the statement has a
    FETCH or OFFSET word at all. Runs before every pass that reads
    LIMIT/OFFSET (TOP, QUALIFY, ROWNUM, NULL ordering), so they see one
    spelling."""
    if any(k == "word" and t.upper() in ("FETCH", "OFFSET") for k, t in tokens):
        return _for_each_scope(tokens, _rewrite_fetch_first)
    return tokens


def _pg_hash_to_caret(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """pg's bitwise XOR is spelled ``#``, which Spark cannot parse;
    Spark's ``^`` IS XOR, so the swap is exact. Runs after
    ``_rewrite_caret_power``, or the swapped ``^`` would become POWER."""
    return [("op", "^") if (k, t) == ("op", "#") else (k, t) for k, t in tokens]


def _double_star_to_caret(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``**`` is exponentiation (duckdb: an alias of ``^``; teradata's
    only power spelling), lexed as two adjacent ``*`` ops that Spark
    cannot parse. Convert to ``^`` and run the precedence-exact
    ``_rewrite_caret_power`` again over the result (duckdb's caret pass
    already ran; teradata has no native ``^``)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        if tokens[i] == ("op", "*") and tokens[i + 1 : i + 2] == [("op", "*")]:
            out.append(("op", "^"))
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return _rewrite_caret_power(out) if out != tokens else tokens


def _tsql_bracket_to_backtick(
    tokens: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """tsql ``[name]`` identifiers → backticks."""
    return [
        ("backtick", _to_backtick(_unquote(t, "]"))) if k == "bracket" else (k, t)
        for k, t in tokens
    ]


def _mysql_hash_comments(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """mysql ``#`` line comments lex as comments, but Spark's parser
    does not know them: re-emit as ``--`` comments."""
    return [
        ("comment", "--" + t[1:]) if k == "comment" and t.startswith("#") else (k, t)
        for k, t in tokens
    ]


def _mysql_pipes_to_or(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """mysql's default sql_mode (no PIPES_AS_CONCAT) reads ``||`` as
    LOGICAL OR; Spark reads it as concat, so ``1 || 0`` silently
    returns '10' instead of TRUE. This translates the documented
    default (the WEEK_START precedent); PIPES_AS_CONCAT sessions should
    spell CONCAT(). The spaces are explicit: ``a||b`` must render
    ``a OR b``, not ``aORb``."""
    out: list[tuple[str, str]] = []
    for tok in tokens:
        out += tokenize(" OR ") if tok == ("op", "||") else [tok]
    return out


def _sqlite_like_to_ilike(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """sqlite LIKE is CASE-INSENSITIVE for ASCII by default (PRAGMA
    case_sensitive_like can flip it, invisible here); Spark's LIKE is
    case-sensitive, so ``'A' LIKE 'a'`` runs on both and silently
    disagrees. The operator form becomes ILIKE (documented residual:
    ILIKE folds full Unicode, sqlite only ASCII). The ``like(pattern,
    string)`` FUNCTION form, followed by ``(``, is left to its own
    refuse/swap/rename rows."""
    return [
        ("word", "ILIKE")
        if k == "word"
        and t.upper() == "LIKE"
        and ((n := _next_code(tokens, i)) is None or tokens[n] != ("op", "("))
        else (k, t)
        for i, (k, t) in enumerate(tokens)
    ]


# Function renames with the same contract, per dialect. Only call sites
# rename (see _rewrite_func_names): a COLUMN named len or isnull must
# survive.
_TSQL_FUNC_NAMES = {
    "GETDATE": "CURRENT_TIMESTAMP",
    "ISNULL": "COALESCE",
    # CHARINDEX(find, search[, start]) and LOCATE share the same
    # argument order and 1-based/0-on-miss contract
    "CHARINDEX": "LOCATE",
    "IIF": "IF",
    "REPLICATE": "REPEAT",
}
_TRINO_FUNC_NAMES = {
    "APPROX_DISTINCT": "APPROX_COUNT_DISTINCT",
    "ARBITRARY": "ANY_VALUE",
    "STRPOS": "INSTR",
}
_CLICKHOUSE_FUNC_NAMES = {
    "UNIQ": "APPROX_COUNT_DISTINCT",
    "ANY": "ANY_VALUE",
    "COUNTIF": "COUNT_IF",
    "ARRAYJOIN": "EXPLODE",
    # intDiv truncates toward zero ("rounds down by absolute value",
    # C++ '/' semantics) = Spark DIV exactly; modulo keeps the
    # dividend's sign = Spark MOD. Both raise on a zero divisor on both
    # engines (Spark: ANSI mode).
    "INTDIV": "DIV",
    "MODULO": "MOD",
}
# same (list, element) / (value, ordering) contracts
_DUCKDB_FUNC_NAMES = {
    "LIST_CONTAINS": "ARRAY_CONTAINS",
    "LIST_HAS": "ARRAY_CONTAINS",
    "ARG_MAX": "MAX_BY",
    "ARGMAX": "MAX_BY",
    "ARG_MIN": "MIN_BY",
    "ARGMIN": "MIN_BY",
}
_BIGQUERY_FUNC_NAMES = {
    # SAFE_CAST → TRY_CAST (NULL on failure), SAFE_DIVIDE → TRY_DIVIDE
    # (NULL on /0); IFNULL/COUNTIF parse natively, and BigQuery's
    # `SELECT * EXCEPT (col)` is native Spark 4 syntax.
    "SAFE_CAST": "TRY_CAST",
    "SAFE_DIVIDE": "TRY_DIVIDE",
    # same contracts: NULL-in → NULL-out (Spark's size() returns NULL
    # for NULL input since 3.0 defaults)
    "STARTS_WITH": "STARTSWITH",
    "ENDS_WITH": "ENDSWITH",
    "ARRAY_LENGTH": "SIZE",
    # both are partial-match predicates; bq's re2 and Java's regex
    # agree on the common syntax (documented residual: re2 lacks
    # backreferences, Java lacks some re2 extensions — those patterns
    # error, loudly, on one engine or the other)
    "REGEXP_CONTAINS": "REGEXP_LIKE",
}
# BigQuery type keywords → Spark types. NUMERIC is (38,9) in BigQuery
# but DECIMAL(10,0) in Spark, so the explicit mapping avoids a silent
# precision change; BIGNUMERIC (76,38) exceeds Spark's max precision
# and is left to fail loudly.
_BIGQUERY_TYPE_WORDS = {
    "INT64": "BIGINT",
    "FLOAT64": "DOUBLE",
    "BOOL": "BOOLEAN",
    "NUMERIC": "DECIMAL(38,9)",
}
# Day-number functions whose numbering Spark exposes only as an EXTRACT
# field: trino's are ISO (Monday=1..Sunday=7), and Spark's same-named
# DAYOFWEEK function says Sunday=1, so a name-only rename would be
# silently off.
_TRINO_EXTRACT_FNS = {
    "DAY_OF_WEEK": "DOW_ISO", "DOW": "DOW_ISO",
    "DAY_OF_YEAR": "DOY", "DOY": "DOY",
    "YEAR_OF_WEEK": "YEAROFWEEK", "YOW": "YEAROFWEEK",
    "WEEK": "WEEK", "WEEK_OF_YEAR": "WEEK",
}
_CLICKHOUSE_SPLIT_WHY = (
    "clickhouse max_substrings discards the tail; Spark's split "
    "limit keeps the remainder — no faithful rewrite exists. "
    "Split without the cap and slice(result, 1, n) instead."
)
# clickhouse higher-order array functions take the LAMBDA first
# (arrayMap(x -> ..., arr)); Spark's equivalents take the array first.
_CLICKHOUSE_HIGHER_ORDER = {
    "ARRAYMAP": "TRANSFORM",
    "ARRAYFILTER": "FILTER",
    "ARRAYEXISTS": "EXISTS",
    "ARRAYALL": "FORALL",
}
_CLICKHOUSE_HIGHER_ORDER_WHY = (
    "the multi-array form has no Spark single-function "
    "equivalent; use zip_with/aggregate spellings instead."
)


_Pass = Callable[[_Tokens], _Tokens]


def _refuse_swap_rename(
    dialect: str, fname: str, spark: str, why: str
) -> tuple[tuple[set[str], _Pass], ...]:
    """Rows for a call whose source takes its first two arguments in
    the reverse of Spark's order: refuse any arity but 2, swap, then
    rename. The refusal comes first, or the rename would ship the
    reversed 3-arg form."""
    return (
        ({dialect}, partial(_refuse_unswapped_arity, fname=fname, ok_arity=2, why=why)),
        ({dialect}, partial(_swap_first_two_args, fname=fname, min_args=2, max_args=2)),
        ({dialect}, partial(_rewrite_func_names, mapping={fname: spark})),
    )


_SPARK_DIALECTS = frozenset({None, "spark", "spark2", "databricks", "hive"})

# Every family-resolved dialect that reaches the pass table.
_TRANSPILED = frozenset(
    _DIALECT_FAMILY.get(d, d) for d in KNOWN_DIALECTS - _SPARK_DIALECTS - {""}
)

# The transpiler: each statement runs, in order, every row whose set
# holds its family-resolved dialect. Order matters where passes read
# each other's output; the reasons are on the rows and in the pass
# docstrings, and tests/test_table_dialect.py pins each documented pair.
_PASSES: tuple[tuple[AbstractSet[str], _Pass], ...] = (
    (_DQUOTE_IDENT_DIALECTS, _dquote_to_backtick),
    (_TRANSPILED, _fetch_first_to_limit),
    # before anything else touches '/'
    ({"duckdb"}, _rewrite_duckdb_intdiv),
    ({"postgres", "duckdb", "redshift", "mysql"}, _rewrite_temp_table_as),
    ({"postgres", "duckdb", "redshift"}, _rewrite_extract_epoch),
    ({"postgres", "duckdb", "redshift"}, _rewrite_pg_dow),
    ({"postgres", "duckdb", "redshift"}, _rewrite_pg_array_literal),
    # after ARRAY[...] so its brackets are consumed first, and before
    # the subscript rewrite
    ({"duckdb"}, _rewrite_bare_array_literal),
    # 1-based subscripts; the two differ on negative indexes. Redshift
    # SUPER subscripts are 0-based like Spark's.
    ({"postgres"}, partial(_rewrite_pg_subscript, negatives="null")),
    ({"duckdb"}, partial(_rewrite_pg_subscript, negatives="from_end")),
    # before the '#' -> '^' swap eats the #> clusters, and before
    # caret-power
    ({"postgres"}, partial(_rewrite_json_arrow_ops, style="key")),
    ({"duckdb"}, partial(_rewrite_json_arrow_ops, style="both")),
    # after the subscript rewrite, so a[1] ^ 2 captures the rewritten
    # call as its operand
    ({"postgres", "duckdb", "redshift"}, _rewrite_caret_power),
    ({"postgres"}, _pg_hash_to_caret),
    # after caret-power, so POWER(...) results are not mistaken for
    # integer operands
    (
        {"postgres", "redshift", "tsql", "sqlite", "teradata"},
        _rewrite_int_literal_division,
    ),
    ({"postgres", "redshift"}, _rewrite_substr_nonpositive),
    ({"duckdb"}, partial(_rewrite_substr_nonpositive, zero_only=True)),
    ({"duckdb"}, partial(_rewrite_similar_to, regex=True)),
    ({"postgres", "duckdb", "redshift"}, _rewrite_left_right_negative),
    ({"duckdb", "teradata"}, _double_star_to_caret),
    (
        {"postgres", "duckdb", "redshift", "sqlite", "teradata"},
        _rewrite_single_arg_log10,
    ),
    ({"postgres", "redshift"}, _rewrite_pg_regex_ops),
    ({"postgres", "redshift"}, _rewrite_similar_to),
    # pg's TO_CHAR/TO_DATE/TO_TIMESTAMP format models are oracle's
    # (unknown pg extensions refuse in _ora_datefmt); the one-arg
    # TO_TIMESTAMP(epoch) is pg-only and folds first
    ({"postgres", "redshift"}, _rewrite_pg_epoch_to_timestamp),
    ({"postgres", "redshift"}, _rewrite_oracle_fmt),
    ({"postgres", "duckdb"}, _rewrite_generate_series),
    # after _rewrite_pg_regex_ops, so `~ ANY(...)` arrives as RLIKE
    ({"postgres", "duckdb"}, _rewrite_pg_any_all),
    ({"postgres", "duckdb"}, partial(_for_each_scope, fn=_rewrite_distinct_on)),
    ({"postgres", "duckdb"}, _rewrite_string_agg_orderby),
    # NULL sort position, after DISTINCT ON so its generated ROW_NUMBER
    # ordering is covered too. Spark is FIRST on ASC, LAST on DESC.
    # trino ("null values are sorted as if larger than any non-null
    # value") and snowflake share pg's shape; clickhouse is NULLS LAST
    # in both directions like duckdb. mysql/sqlite/tsql/bigquery/
    # teradata treat NULL as smallest, Spark's own default.
    (
        {"postgres", "redshift", "oracle", "trino", "snowflake"},
        partial(_rewrite_order_by_nulls, asc="LAST", desc="FIRST"),
    ),
    (
        {"duckdb", "clickhouse"},
        partial(_rewrite_order_by_nulls, asc="LAST", desc="LAST"),
    ),
    ({"tsql"}, _tsql_bracket_to_backtick),
    ({"tsql"}, _rewrite_tsql_like_brackets),
    ({"tsql"}, partial(_rewrite_choose_elt, fname="CHOOSE")),
    ({"tsql"}, partial(_rewrite_func_names, mapping=_TSQL_FUNC_NAMES)),
    ({"tsql"}, _rewrite_tsql_square),
    ({"tsql"}, _rewrite_tsql_stuff),
    ({"tsql"}, _rewrite_tsql_len),
    ({"tsql"}, _rewrite_datepart),
    ({"tsql"}, partial(_rewrite_convert, tsql=True)),
    ({"tsql"}, partial(_for_each_scope, fn=_rewrite_top)),
    ({"mysql"}, _mysql_hash_comments),
    ({"mysql"}, _refuse_mysql_upsert),
    ({"mysql"}, _mysql_pipes_to_or),
    ({"mysql"}, _rewrite_mysql_limit),
    ({"mysql"}, _rewrite_group_concat),
    ({"mysql"}, _rewrite_mysql_datefmt),
    ({"mysql"}, partial(_rewrite_convert, tsql=False)),
    ({"mysql"}, _rewrite_mysql_interval_arith),
    ({"mysql"}, _rewrite_mysql_regexp_ci),
    ({"mysql"}, partial(_rewrite_json_arrow_ops, style="path")),
    ({"mysql"}, _rewrite_mysql_json_extract),
    ({"mysql"}, partial(_rewrite_choose_elt, fname="ELT")),
    ({"mysql"}, _rewrite_mysql_field),
    (
        {"oracle", "snowflake"},
        partial(_rewrite_words, mapping={"SYSDATE": "CURRENT_TIMESTAMP"}),
    ),
    ({"oracle"}, _refuse_oracle_outer_join_plus),
    ({"oracle"}, _rewrite_oracle_fmt),
    ({"oracle"}, _rewrite_from_dual),
    ({"oracle"}, _rewrite_oracle_rownum),
    ({"oracle"}, _rewrite_decode),
    ({"mysql", "oracle", "clickhouse"}, _rewrite_greatest_least_nullprop),
    ({"postgres", "duckdb", "tsql", "oracle"}, _rewrite_concat_skip_nulls),
    # 3-arg string_to_array (a null-replacement string) is NOT a limit;
    # it stays untouched and fails loudly as unresolved
    (
        {"postgres", "redshift"},
        partial(_rewrite_literal_split, fname="STRING_TO_ARRAY", max_args=2),
    ),
    ({"duckdb"}, partial(_rewrite_literal_split, fname="STRING_SPLIT", max_args=2)),
    ({"duckdb"}, partial(_rewrite_literal_split, fname="STR_SPLIT", max_args=2)),
    # ARRAY[1, 2] before the subscript rewrite, so constructor brackets
    # are consumed first; trino arrays are 1-based and error on any
    # invalid index
    ({"trino"}, _rewrite_pg_array_literal),
    ({"trino"}, partial(_rewrite_pg_subscript, negatives="shift")),
    ({"trino"}, partial(_rewrite_literal_split, fname="SPLIT", max_args=3)),
    # bare [1, 2, 3] first, so the subscript rewrite only sees genuine
    # operand-trailing brackets. clickhouse arrays are 1-based with
    # negatives from the end; documented divergence: out of range,
    # clickhouse returns the element type's default (0, ''), this
    # emission NULL.
    ({"clickhouse"}, _rewrite_bare_array_literal),
    ({"clickhouse"}, partial(_rewrite_pg_subscript, negatives="from_end")),
    ({"trino"}, partial(_rewrite_func_names, mapping=_TRINO_FUNC_NAMES)),
    ({"trino"}, _rewrite_unit_first_dates),
    ({"trino"}, partial(_rewrite_fn_to_extract, fn_to_field=_TRINO_EXTRACT_FNS)),
    ({"trino"}, partial(_rewrite_unnest, trino=True)),
    (
        {"redshift"},
        partial(_rewrite_func_names, mapping={"GETDATE": "CURRENT_TIMESTAMP"}),
    ),
    # Monday weeks: redshift's DATE_TRUNC('week') is Monday-anchored
    ({"redshift"}, _rewrite_dateadd_datediff),
    # clickhouse position(haystack, needle[, start]) is the REVERSE of
    # Spark's position(substr, str[, start])
    ({"clickhouse"}, partial(_swap_first_two_args, fname="POSITION")),
    # splitByChar/splitByString(sep, s): separator first and literal.
    # Refuse the 3-arg max_substrings form, swap, rename, then quote
    # the separator for Spark's regex split.
    (
        {"clickhouse"},
        partial(
            _refuse_unswapped_arity,
            fname="SPLITBYCHAR", ok_arity=2, why=_CLICKHOUSE_SPLIT_WHY,
        ),
    ),
    (
        {"clickhouse"},
        partial(
            _refuse_unswapped_arity,
            fname="SPLITBYSTRING", ok_arity=2, why=_CLICKHOUSE_SPLIT_WHY,
        ),
    ),
    ({"clickhouse"}, partial(_swap_first_two_args, fname="SPLITBYCHAR", max_args=2)),
    ({"clickhouse"}, partial(_swap_first_two_args, fname="SPLITBYSTRING", max_args=2)),
    (
        {"clickhouse"},
        partial(
            _rewrite_func_names,
            mapping={"SPLITBYCHAR": "SPLIT", "SPLITBYSTRING": "SPLIT"},
        ),
    ),
    ({"clickhouse"}, partial(_rewrite_literal_split, fname="SPLIT", max_args=2)),
    # dateAdd(unit, n, d) / dateDiff(unit|'unit', start, end) share
    # tsql's argument order and boundary-crossing DATEDIFF; clickhouse
    # weeks start Monday like Spark's DATE_TRUNC
    ({"clickhouse"}, _rewrite_dateadd_datediff),
    ({"clickhouse"}, _rewrite_ch_addsub),
    ({"clickhouse"}, partial(_rewrite_or_zero, fname="INTDIVORZERO", op="DIV")),
    ({"clickhouse"}, partial(_rewrite_or_zero, fname="MODULOORZERO", op="%")),
    *(
        row
        for fname, spark in _CLICKHOUSE_HIGHER_ORDER.items()
        for row in _refuse_swap_rename(
            "clickhouse", fname, spark, _CLICKHOUSE_HIGHER_ORDER_WHY
        )
    ),
    ({"clickhouse"}, partial(_rewrite_func_names, mapping=_CLICKHOUSE_FUNC_NAMES)),
    # toDayOfWeek is ISO (Monday=1); Spark's DAYOFWEEK says Sunday=1
    (
        {"clickhouse"},
        partial(
            _rewrite_fn_to_extract,
            fn_to_field={"TODAYOFWEEK": "DOW_ISO", "TODAYOFYEAR": "DOY"},
        ),
    ),
    ({"clickhouse"}, _rewrite_uniq_exact),
    ({"clickhouse"}, _rewrite_agg_if),
    ({"clickhouse"}, partial(_rewrite_cast_funcs, mapping=_CLICKHOUSE_CASTS)),
    ({"duckdb"}, partial(_rewrite_func_names, mapping=_DUCKDB_FUNC_NAMES)),
    ({"sqlite"}, _rewrite_strftime),
    ({"sqlite"}, partial(_rewrite_cast_funcs, mapping={"DATETIME": "TIMESTAMP"})),
    # sqlite json_extract returns string leaves UNQUOTED (unlike
    # mysql's), get_json_object's exact contract; -> / ->> accept both
    # raw keys and '$' paths
    ({"sqlite"}, partial(_rewrite_json_arrow_ops, style="both")),
    (
        {"sqlite"},
        partial(_rewrite_func_names, mapping={"JSON_EXTRACT": "GET_JSON_OBJECT"}),
    ),
    ({"sqlite"}, _sqlite_like_to_ilike),
    # like(PATTERN, string) is arg-reversed vs Spark's like(str, pattern)
    *_refuse_swap_rename(
        "sqlite", "LIKE", "ILIKE",
        "sqlite's 3-arg like(pattern, string, escape) has no "
        "Spark function spelling; use string ILIKE pattern "
        "ESCAPE char instead.",
    ),
    # 2-arg TRIM/LTRIM/RTRIM are (string, trim_chars) here; Spark kept
    # Hive's REVERSED comma form, so TRIM('xyx', 'x') runs on both and
    # trims the wrong operand. 1-arg and TRIM(BOTH c FROM s) agree and
    # pass through. oracle TRIM is FROM-form only; its LTRIM/RTRIM(s,
    # set) are real 2-arg spellings.
    *(
        (
            {
                "postgres", "redshift", "duckdb", "sqlite", "snowflake",
                "tsql", "bigquery", "oracle",
            },
            partial(_swap_first_two_args, fname=fname, min_args=2, max_args=2),
        )
        for fname in ("TRIM", "LTRIM", "RTRIM")
    ),
    ({"teradata"}, partial(_for_each_scope, fn=_rewrite_top)),
    ({"snowflake"}, _rewrite_dateadd_datediff),  # Monday weeks
    # T-SQL DATEDIFF(week) counts Sunday boundaries regardless of DATEFIRST
    ({"tsql"}, partial(_rewrite_dateadd_datediff, week_start="sunday")),
    # IFF(c,a,b) → IF; NVL/NVL2/IFNULL/COALESCE parse natively
    (
        {"snowflake"},
        partial(_rewrite_func_names, mapping={"IFF": "IF", "ARRAY_CONSTRUCT": "ARRAY"}),
    ),
    # DAYOFWEEK is Sunday=0..6 under the default WEEK_START=0 (session
    # parameters are invisible here), DAYOFWEEKISO is Spark's DOW_ISO.
    # The EXTRACT/DATE_PART spellings first: _rewrite_fn_to_extract
    # emits EXTRACT(DOW ...) terms that this pass would shift again.
    (
        {"snowflake"},
        partial(
            _rewrite_extract_dow,
            fields=_SNOWFLAKE_DOW_FIELDS,
            allow_word_field=True,
        ),
    ),
    (
        {"snowflake"},
        partial(
            _rewrite_fn_to_extract,
            fn_to_field={"DAYOFWEEK": "DOW", "DAYOFWEEKISO": "DOW_ISO"},
            minus_one=frozenset({"DAYOFWEEK"}),
        ),
    ),
    ({"snowflake"}, _rewrite_to_number),
    ({"snowflake"}, partial(_rewrite_literal_split, fname="SPLIT", max_args=2)),
    ({"snowflake"}, _rewrite_object_construct),
    ({"snowflake"}, _rewrite_snowflake_flatten),
    ({"snowflake"}, _rewrite_snowflake_pivot_names),
    (
        {"bigquery"},
        partial(_rewrite_literal_split, fname="SPLIT", default_delim=",", max_args=2),
    ),
    # LOG(x, base) is the REVERSE of Spark's LOG(base, x); 1-arg LOG is
    # ln on both
    ({"bigquery"}, partial(_swap_first_two_args, fname="LOG", min_args=2, max_args=2)),
    ({"bigquery"}, _rewrite_bq_safe_prefix),
    ({"bigquery"}, partial(_rewrite_func_names, mapping=_BIGQUERY_FUNC_NAMES)),
    ({"bigquery"}, _rewrite_bq_generate_array),
    ({"bigquery"}, _rewrite_bare_array_literal),
    ({"bigquery"}, _rewrite_bq_datetime),
    ({"bigquery"}, _rewrite_bq_format),
    ({"bigquery"}, partial(_rewrite_unnest, trino=False)),
    ({"bigquery"}, partial(_rewrite_words, mapping=_BIGQUERY_TYPE_WORDS)),
    (
        {"duckdb", "snowflake", "bigquery", "clickhouse", "teradata"},
        partial(_for_each_scope, fn=_rewrite_qualify),
    ),
    # `expr::type` cast shorthand (postgres/duckdb) parses natively in
    # Spark 4, so no row rewrites it.
)


def transpile(sql: str, dialect: str | None = None) -> str:
    """Translate ``sql`` from ``dialect`` into Spark SQL.

    Unknown dialect names raise ``UnsupportedError`` instead of passing
    tokens through untranslated: a typo ('postgre') or an uncovered
    dialect would otherwise silently mistranslate quoting — e.g.
    double-quoted identifiers staying string literals.
    """
    d = (dialect or "").lower() or None
    if d not in KNOWN_DIALECTS:
        raise UnsupportedError(
            f"unknown dialect {dialect!r}; supported: "
            + ", ".join(sorted(x for x in KNOWN_DIALECTS if x))
        )
    if d in _SPARK_DIALECTS:
        return sql
    d = _DIALECT_FAMILY.get(d, d)
    tokens = tokenize_dialect(sql, d)
    # The structural rewrites (TOP/ROWNUM/QUALIFY/LIMIT) assume ONE
    # statement: applied across a top-level ';' they relocate clauses
    # between statements (a trailing LIMIT lands on the LAST statement,
    # a QUALIFY wrap anchors to the FIRST SELECT). Split at depth-0 ';'
    # and normalize each statement independently.
    stmts: list[list[tuple[str, str]]] = []
    depth, start = 0, 0
    for i, (k, t) in enumerate(tokens):
        if (k, t) == ("op", "("):
            depth += 1
        elif (k, t) == ("op", ")"):
            depth -= 1
        elif (k, t) == ("op", ";") and depth == 0:
            stmts.append(tokens[start:i])
            start = i + 1
    stmts.append(tokens[start:])
    return ";".join(_normalize_stmt(s, d) for s in stmts)


def _normalize_stmt(tokens: list[tuple[str, str]], dialect: str) -> str:
    for dialects, rewrite in _PASSES:
        if dialect in dialects:
            tokens = rewrite(tokens)
    return "".join(t for _, t in tokens)
