"""exosql SQL dialect → Spark SQL, in one literal-masked pass.

The reference parses its own SQL dialect (leex/yecc grammar in
``src/``); Catalyst replaces that parser, and what remains of it is
this textual rewrite.  :func:`rewrite` masks every string literal
once, rewrites the masked text in order, then unmasks once:

- ``db.table`` → ``db_table`` view names, for the databases the query
  mentions (a database's table names are asked for only then, so
  resolution stays lazy).
- ``$var`` → ``:var`` named parameters; ``$$`` escapes a literal ``$``.
- ``strftime(x, '<c-pattern>')`` → ``date_format(x, '<java-pattern>')``
  (literal pattern translated at rewrite time — stays JVM-native,
  no UDF; ``%s`` splices epoch seconds as the Column builder does).
- ``jp(x, '/a/b/0')`` → ``get_json_object(x, '$.a.b[0]')``.
- ``to_datetime(x)`` / ``to_datetime(x, '<duration>')`` → timestamp
  dispatch + interval arithmetic.
- ``* EXCLUDE (cols)`` (DuckDB/Snowflake) → Spark's ``* EXCEPT (cols)``.
- ``… QUALIFY <pred>`` (DuckDB/Snowflake/BigQuery window filter;
  Spark has no QUALIFY) → subquery-with-flag desugar, at top level and
  inside any parenthesized subquery.
- ``SELECT DISTINCT ON (keys) …`` (Postgres-style, used by the
  reference — SURVEY.md §2.7 U3) → window ``row_number`` desugar, same
  recursion.

Content of string literals — single- or double-quoted (exosql accepts
both), with doubled-quote and backslash escapes — is never rewritten;
literals a rewrite emits are registered as placeholders too.  Function
rewrites nest to arbitrary depth (``strftime(to_datetime(jp(js,'/t')),
'%Y')`` resolves inside-out).  A top-level ``WITH`` clause stays
outside the QUALIFY / DISTINCT ON desugar of the main query; its CTE
bodies are parenthesized levels of their own.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Mapping

from exosql_spark.functions.datetime_compat import parse_duration, strftime_pieces
from exosql_spark.functions.json_compat import jp_to_jsonpath

# --------------------------------------------------------------------
# Literal masking
# --------------------------------------------------------------------

_PLACEHOLDER_RE = re.compile(r"\x00(\d+)\x01")

#: Characters that open a string literal. exosql's own dialect (and
#: Spark SQL's default parser) accept BOTH single- and double-quoted
#: strings, so a reference user's ``LIKE "%x%"`` must be treated as
#: literal content too.
_QUOTES = ("'", '"')


def _skip_literal(sql: str, i: int) -> int:
    """``sql[i]`` is an opening quote — return the index just past the
    closing quote. Handles doubled-quote escapes (``''`` / ``""``) and
    backslash escapes (``\\'`` — Spark's default parser honors both)."""
    q = sql[i]
    i += 1
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "\\":
            i += 2
            continue
        if c == q:
            if i + 1 < n and sql[i + 1] == q:
                i += 2
                continue
            return i + 1
        i += 1
    return n  # unterminated — treat rest as literal


def mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace every quoted literal with a ``\\x00<idx>\\x01``
    placeholder so regex-based rewrites can't touch literal content.
    Control characters can't appear in valid SQL text, so placeholders
    never collide and never form identifier characters (``\\b`` regexes
    keep working around them)."""
    out: list[str] = []
    lits: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        if sql[i] in _QUOTES:
            j = _skip_literal(sql, i)
            out.append(f"\x00{len(lits)}\x01")
            lits.append(sql[i:j])
            i = j
        else:
            out.append(sql[i])
            i += 1
    return "".join(out), lits


def unmask_literals(sql: str, lits: list[str]) -> str:
    return _PLACEHOLDER_RE.sub(lambda m: lits[int(m.group(1))], sql)


def _emit(lits: list[str], value: str) -> str:
    """Register ``value`` as a new single-quoted literal and return its
    placeholder."""
    lits.append("'" + value.replace("'", "''") + "'")
    return f"\x00{len(lits) - 1}\x01"


def _literal(arg: str, lits: list[str]) -> str | None:
    """The python value of ``arg`` if it is a bare literal (either quote
    style — exosql queries write both ``'%Y'`` and ``"%Y"``)."""
    m = _PLACEHOLDER_RE.fullmatch(arg.strip())
    if m is None:
        return None
    a = lits[int(m.group(1))]
    q = a[0]
    return a[1:-1].replace(q + q, q).replace("\\" + q, q)


# --------------------------------------------------------------------
# Scanning primitives (masked text only: no quotes left to skip)
# --------------------------------------------------------------------


def _matching_paren(sql: str, i: int) -> int | None:
    """``sql[i]`` is ``(`` — index of its matching ``)``."""
    depth = 0
    for j in range(i, len(sql)):
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    return None


def _split_args(body: str) -> list[str]:
    """Split a call's argument text at top-level commas."""
    args: list[str] = []
    depth = 0
    start = 0
    for i, c in enumerate(body):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(body[start:i].strip())
            start = i + 1
    tail = body[start:].strip()
    if tail or args:
        args.append(tail)
    return args


def _top_level(sql: str, keyword: str) -> list[re.Match]:
    """Paren-depth-0 whole-word matches of ``keyword`` in ``sql``, in
    order, case-insensitive; a multi-word keyword (``order by``)
    matches across any whitespace run."""
    pat = r"(?<!\w)" + r"\s+".join(keyword.split()) + r"(?!\w)"
    return [
        m
        for m in re.finditer(pat, sql, re.IGNORECASE)
        if sql.count("(", 0, m.start()) == sql.count(")", 0, m.start())
    ]


def _split_last(sql: str, keyword: str) -> tuple[str, str | None]:
    """Split off a trailing top-level clause (ORDER BY / LIMIT /
    QUALIFY) — last occurrence wins."""
    found = _top_level(sql, keyword)
    if not found:
        return sql, None
    return sql[: found[-1].start()].rstrip(), sql[found[-1].end() :].strip()


# --------------------------------------------------------------------
# Function rewrites: strftime / jp / to_datetime
# --------------------------------------------------------------------

#: handler(args, lits) → replacement SQL, or None to keep the call (with
#: already-rewritten args) as-is.  Literal arguments are read from, and
#: emitted literals registered in, the placeholder list ``lits``.
Handler = Callable[[list[str], list[str]], "str | None"]

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _rewrite_calls(sql: str, lits: list[str]) -> str:
    """Rewrite ``name(args…)`` calls for every name in ``_HANDLERS``,
    left-to-right, recursing into argument lists first so nesting
    resolves inside-out at any depth."""
    out: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        m = _NAME_RE.match(sql, i)
        if not m:
            out.append(sql[i])
            i += 1
            continue
        name, j = m.group(0), m.end()
        k = j
        while k < n and sql[k].isspace():
            k += 1
        if name.lower() in _HANDLERS and k < n and sql[k] == "(":
            close = _matching_paren(sql, k)
            if close is not None:
                args = [_rewrite_calls(a, lits) for a in _split_args(sql[k + 1 : close])]
                repl = _HANDLERS[name.lower()](args, lits)
                if repl is None:
                    repl = f"{name}({', '.join(args)})"
                out.append(repl)
                i = close + 1
                continue
        out.append(sql[i:j])
        i = j
    return "".join(out)


def _duration_to_interval_sql(dur: str, lits: list[str]) -> str:
    u = parse_duration(dur)
    parts = [
        f"INTERVAL {_emit(lits, str(u[unit]))} {name}"
        for unit, name in (
            ("Y", "YEAR"), ("M", "MONTH"), ("w", "WEEK"), ("d", "DAY"),
            ("h", "HOUR"), ("m", "MINUTE"), ("s", "SECOND"),
        )
        if u[unit]
    ]
    return " + ".join(parts) if parts else f"INTERVAL {_emit(lits, '0')} SECOND"


def _todt_base(arg: str) -> str:
    """Numeric-looking values are epoch seconds, else timestamp cast —
    the reference's dynamic dispatch (builtins.ex to_datetime/1)."""
    a = arg.strip()
    return (
        f"coalesce(timestamp_seconds(try_cast(cast(({a}) AS string) AS double)), "
        f"try_cast(cast(({a}) AS string) AS timestamp))"
    )


def _h_strftime(args: list[str], lits: list[str]) -> str | None:
    if len(args) != 2:
        return None
    pat = _literal(args[1], lits)
    if pat is None:
        return None  # non-literal pattern: can't translate at rewrite time
    parts = [
        f"date_format({args[0]}, {_emit(lits, p)})"
        if p is not None
        else f"cast(unix_timestamp({args[0]}) AS string)"
        for p in strftime_pieces(pat)
    ]
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def _h_jp(args: list[str], lits: list[str]) -> str | None:
    if len(args) != 2:
        return None
    ptr = _literal(args[1], lits)
    if ptr is None:
        return None
    return f"get_json_object({args[0]}, {_emit(lits, jp_to_jsonpath(ptr))})"


def _h_to_datetime(args: list[str], lits: list[str]) -> str | None:
    if len(args) == 1:
        return f"({_todt_base(args[0])})"
    if len(args) == 2:
        dur = _literal(args[1], lits)
        if dur is not None:
            return f"({_todt_base(args[0])} + {_duration_to_interval_sql(dur, lits)})"
    return None


_HANDLERS: dict[str, Handler] = {
    "strftime": _h_strftime,
    "jp": _h_jp,
    "to_datetime": _h_to_datetime,
}


# --------------------------------------------------------------------
# star EXCLUDE / QUALIFY / DISTINCT ON desugars
# --------------------------------------------------------------------

# DuckDB/Snowflake spell column subtraction ``* EXCLUDE (c, ...)``;
# Spark spells the same thing ``* EXCEPT (c, ...)``.  The token is
# only rewritten after a star IN PROJECTION POSITION — ``*`` preceded
# by SELECT [DISTINCT|ALL], a comma, or ``ident.`` (the ``t.*`` form) —
# so a column or alias literally named exclude is untouched, and so is
# a MULTIPLICATION followed by a function named exclude
# (``price * exclude(x)``: that ``*`` is an operator, not a star
# projection — ADVICE r13).
_STAR_EXCLUDE_RE = re.compile(
    r"(?i)((?:\bselect\s+(?:distinct\s+|all\s+)?|,\s*|\w\.)\*\s*)exclude(\s*\()"
)

_WITH_RE = re.compile(r"\s*WITH\b", re.IGNORECASE)
_DISTINCT_ON_RE = re.compile(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)

# ``qualify`` is a NON-reserved word: ``... WHERE qualify = 1`` uses it
# as a column and must not desugar (ADVICE r12 — the token-only trigger
# rewrote such queries into malformed SQL).  A real QUALIFY clause is
# followed by a predicate EXPRESSION; a column usage is followed by an
# operator / RHS keyword or ends the statement.  Bare ``QUALIFY NOT
# pred`` still desugars, but ``NOT`` immediately followed by an RHS
# keyword (``qualify NOT IN (...)``, ``NOT LIKE ...``) is a negated
# predicate over a column named qualify, not a clause (ADVICE r13).
_QUALIFY_COLUMN_RE = re.compile(
    r"(?i)^(?:[=<>!+\-*/%|,)\]]|is\b|in\b|like\b|ilike\b"
    r"|rlike\b|between\b|and\b|or\b|asc\b|desc\b"
    r"|not\s+(?:in|like|ilike|rlike|between)\b)"
)


def _each_level(masked: str, desugar: Callable[[str], str]) -> str:
    """Apply ``desugar`` to every parenthesized level of ``masked``,
    innermost first, then to this level.  A leading ``WITH`` clause
    stays outside: CTE bodies are parenthesized, so the first depth-0
    ``SELECT`` starts the main query."""
    out: list[str] = []
    i = 0
    while (j := masked.find("(", i)) != -1:
        close = _matching_paren(masked, j)
        if close is None:
            break
        out.append(masked[i : j + 1] + _each_level(masked[j + 1 : close], desugar) + ")")
        i = close + 1
    out.append(masked[i:])
    level = "".join(out)
    head = 0
    if _WITH_RE.match(level):
        selects = _top_level(level, "select")
        head = selects[0].start() if selects else 0
    return level[:head] + desugar(level[head:])


def _with_order_limit(sql: str, order: str | None, limit: str | None) -> str:
    if order:
        sql += f" ORDER BY {order}"
    if limit:
        sql += f" LIMIT {limit}"
    return sql


def _desugar_qualify(q: str) -> str:
    """``SELECT sel FROM rest QUALIFY pred [ORDER BY o] [LIMIT n]`` →

        SELECT * EXCEPT (__exo_q) FROM (
          SELECT sel, (pred) AS __exo_q FROM rest
        ) WHERE __exo_q [ORDER BY o] [LIMIT n]

    The predicate is evaluated in the SAME select scope as the
    original projection, so window functions in it see the query's
    partitioning (Catalyst merges textually-identical window
    expressions into one Window node — repeating the expression in
    QUALIFY costs nothing).  Referencing a select alias inside the
    predicate resolves through Spark's lateral column alias rules;
    a self-contained window expression always works."""
    body, limit = _split_last(q, "limit")
    body, order = _split_last(body, "order by")
    body, qual = _split_last(body, "qualify")
    if not qual or _QUALIFY_COLUMN_RE.match(qual):
        return q
    froms = _top_level(body, "from")
    if not froms:
        return q  # can't parse — leave for Spark to error on
    sel, rest = body[: froms[0].start()].strip(), body[froms[0].end() :].strip()
    return _with_order_limit(
        f"SELECT * EXCEPT (__exo_q) FROM ("
        f"{sel}, ({qual}) AS __exo_q FROM {rest}"
        f") WHERE __exo_q",
        order,
        limit,
    )


def _desugar_distinct_on(q: str) -> str:
    """``SELECT DISTINCT ON (keys) sel FROM rest [ORDER BY o] [LIMIT n]``
    → row_number window pattern.  A bare ``*`` select list projects
    ``* EXCEPT (__exo_rn)`` so the helper column never leaks into the
    result schema."""
    m = _DISTINCT_ON_RE.match(q)
    if not m:
        return q
    close = _matching_paren(q, m.end() - 1)
    if close is None:
        return q
    keys = q[m.end() : close].strip()
    body, limit = _split_last(q[close + 1 :], "limit")
    body, order = _split_last(body, "order by")
    froms = _top_level(body, "from")
    if not froms:
        return q  # can't parse — leave for Spark to error on
    sel, rest = body[: froms[0].start()].strip(), body[froms[0].end() :].strip()
    if sel == "*":
        sel = "* EXCEPT (__exo_rn)"
    return _with_order_limit(
        f"SELECT {sel} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order or keys}) AS __exo_rn "
        f"FROM {rest}"
        f") WHERE __exo_rn = 1",
        order,
        limit,
    )


# --------------------------------------------------------------------
# The pass
# --------------------------------------------------------------------


def rewrite(
    sql: str, databases: Mapping[str, Callable[[], Iterable[str]]] | None = None
) -> tuple[str, list[tuple[str, str]]]:
    """Translate exosql SQL to Spark SQL.  ``databases`` maps each
    database name to a callable returning its table names, called only
    when the query mentions ``name.``.  Returns the Spark SQL and the
    ``(db, table)`` pairs it references (now spelled ``db_table``)."""
    masked, lits = mask_literals(sql)
    refs: list[tuple[str, str]] = []
    for db, table_names in (databases or {}).items():
        if not re.search(rf"\b{re.escape(db)}\s*\.", masked):
            continue
        for t in table_names():
            masked, n = re.subn(
                rf"\b{re.escape(db)}\s*\.\s*{re.escape(t)}\b", f"{db}_{t}", masked
            )
            if n:
                refs.append((db, t))
    # $$ → literal $; $var → :var (named parameter marker)
    masked = masked.replace("$$", "\x02")
    masked = re.sub(r"\$([A-Za-z_][A-Za-z_0-9]*)", r":\1", masked).replace("\x02", "$")
    masked = _rewrite_calls(masked, lits)
    masked = _STAR_EXCLUDE_RE.sub(r"\1EXCEPT\2", masked)
    masked = _each_level(masked, _desugar_qualify)
    masked = _each_level(masked, _desugar_distinct_on)
    return unmask_literals(masked, lits), refs
