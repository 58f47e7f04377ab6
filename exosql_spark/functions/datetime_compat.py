"""Datetime compat: strftime patterns, duration strings, permissive
to_datetime, unit-aware datediff.

Reference: ``lib/exosql/datetime.ex :: ExoSQL.DateTime`` (strftime,
duration parsing) and ``lib/exosql/builtins.ex :: to_datetime/2,
datediff/2``.

Everything here compiles to native Column expressions (date_format,
make_interval, unix_timestamp …) — no Python per-row execution.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# C strftime → Java DateTimeFormatter pattern fragments.
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%A": "EEEE",
    "%a": "EEE",
    "%B": "MMMM",
    "%b": "MMM",
    "%p": "a",
    "%Z": "zzz",
    "%z": "xx",
    "%V": "ww",
    "%%": "'%'",
}


def strftime_to_java(fmt: str) -> str:
    """Translate a C strftime pattern to a Java DateTimeFormatter pattern
    (letters outside tokens are quoted so e.g. ``T`` isn't a pattern).

    Known limitation: two ADJACENT tokens that map to the same Java
    pattern letter with no separator between them (``"%a%a"``,
    ``"%b%B"``) concatenate into one longer Java field and change
    meaning — Java has no zero-width field separator. Real dashboard
    patterns always separate fields; property tests cover every
    non-degenerate combination."""
    out: list[str] = []
    i = 0
    literal: list[str] = []

    def flush() -> None:
        if literal:
            text = "".join(literal).replace("'", "''")
            out.append(f"'{text}'" if re.search(r"[A-Za-z']", text) else text)
            literal.clear()

    while i < len(fmt):
        tok = fmt[i : i + 2]
        if tok in _STRFTIME_MAP:
            flush()
            out.append(_STRFTIME_MAP[tok])
            i += 2
        elif tok == "%s":  # epoch seconds — see strftime_pieces()
            flush()
            out.append("%s")
            i += 2
        else:
            literal.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


def strftime_pieces(fmt: str) -> list[str | None]:
    """The Java patterns whose formatted values, concatenated, give
    ``strftime(x, fmt)``; ``None`` stands for the epoch seconds of
    ``%s``, which Java has no pattern letter for.  The one place the
    ``%s`` splice is decided: the Column builder below and the SQL
    dialect rewrite both build from these pieces."""
    java = strftime_to_java(fmt)
    if "%s" not in java:
        return [java]
    pieces: list[str | None] = []
    for piece in java.split("%s"):
        if piece:
            pieces.append(piece)
        pieces.append(None)
    return pieces[:-1]


def strftime(col: Column | str, fmt: str) -> Column:
    """``strftime(datetime, "%Y-%m-%d")`` → Column. ``%s`` (epoch
    seconds) is spliced via unix_timestamp since Java has no token."""
    c = F.col(col) if isinstance(col, str) else col
    parts = [
        F.date_format(c, p) if p is not None else F.unix_timestamp(c).cast("string")
        for p in strftime_pieces(fmt)
    ]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


_DURATION_RE = re.compile(r"^\s*([+-]?)\s*(\d+)\s*([YMwdhms])\s*$")
# exosql duration letters: Y=year M=month w=week d=day h=hour m=minute
# s=second; uppercase D also accepted for day (reference examples use
# "1D" and "-30m" — minutes lowercase, days either case).
_UNIT_CANON = {"Y": "Y", "M": "M", "w": "w", "D": "d", "d": "d", "h": "h", "m": "m", "s": "s"}


def parse_duration(dur: str) -> dict[str, int]:
    """Parse ``"-30m"`` / ``"1D"`` / ``"2h"`` → unit dict. Compound forms
    like ``"1d 2h"`` are accepted too."""
    units = dict.fromkeys("YMwdhms", 0)
    s = dur.strip()
    sign = 1
    if s.startswith(("-", "+")):
        sign = -1 if s[0] == "-" else 1
        s = s[1:]
    matched = False
    for m in re.finditer(r"(\d+)\s*([YMwWDdhms])", s):
        n, u = int(m.group(1)), m.group(2)
        u = _UNIT_CANON.get(u, _UNIT_CANON.get(u.lower(), None))
        if u is None:
            continue
        units[u] += sign * n
        matched = True
    if not matched:
        raise ValueError(f"unparseable duration {dur!r}")
    return units


def duration_interval(dur: str) -> Column:
    """Duration string → INTERVAL Column (make_interval — ANSI-safe)."""
    u = parse_duration(dur)
    return F.make_interval(
        F.lit(u["Y"]), F.lit(u["M"]), F.lit(u["w"]), F.lit(u["d"]),
        F.lit(u["h"]), F.lit(u["m"]), F.lit(u["s"]).cast("double"),
    )


def exo_to_datetime(value, modifier: str | None = None) -> Column:
    """Permissive ``to_datetime`` (reference ``builtins.ex ::
    to_datetime/1,2``): accepts a Column (string ISO / numeric epoch), a
    Python number (epoch seconds), ``"now"``, or a relative duration
    string; optional second arg shifts by a duration."""
    if isinstance(value, str):
        if value == "now":
            base = F.current_timestamp()
        else:
            try:
                base = F.current_timestamp() + duration_interval(value)
            except ValueError:
                base = F.lit(value).cast("timestamp")
    elif isinstance(value, (int, float)):
        base = F.timestamp_seconds(F.lit(value))
    else:
        c: Column = value
        # dynamic dispatch at the expression level: numeric-looking →
        # epoch seconds, else cast to timestamp
        num = c.cast("string").try_cast("double")
        base = F.when(num.isNotNull(), F.timestamp_seconds(num)).otherwise(
            c.cast("string").try_cast("timestamp")
        )
    if modifier:
        base = base + duration_interval(modifier)
    return base


_DATEDIFF_SECONDS = {
    "seconds": 1, "minutes": 60, "hours": 3600, "days": 86400,
}


def exo_datediff(a: Column, b: Column, unit: str = "days") -> Column:
    """``datediff(a, b[, unit])`` — difference a-b in the given unit
    (seconds/minutes/hours/days exact; months/years calendar-based)."""
    if unit in _DATEDIFF_SECONDS:
        secs = F.unix_timestamp(a) - F.unix_timestamp(b)
        return (secs / F.lit(_DATEDIFF_SECONDS[unit])).cast("long")
    if unit == "months":
        return F.floor(F.months_between(a, b)).cast("long")
    if unit == "years":
        return F.floor(F.months_between(a, b) / 12).cast("long")
    raise ValueError(f"unknown datediff unit {unit!r}")
