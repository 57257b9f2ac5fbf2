"""Human-readable formatting as Spark SQL text (SURVEY §2 F1-F3;
reference: icebergdiag/metrics/table_metric.py:62-65,134-176).

These are display-layer concerns, but implemented as JVM expressions
(CASE ladders over log-scaled units) rather than Python UDFs so a
formatted export of a billion-row result is still a codegen'd scan.
Each builder returns SQL text over the SQL expression it is given and
makes no JVM call: callers assemble their projections once, at import,
and hand each stage to Spark as one ``selectExpr``, instead of paying
several py4j round trips for every Column method of a ladder.
"""

from __future__ import annotations

_SIZE_UNITS = ["B", "KB", "MB", "GB", "TB", "PB"]


def format_size_sql(size: str) -> str:
    """bytes → '1.21 KB' (÷1024 ladder, 2 decimals, B..PB).

    Mirrors table_metric.py:164-176: unit advances while size >= 1024
    and a larger unit exists, i.e. PB is the terminal unit (no further
    division regardless of size).
    """
    branches = []
    for i, unit in enumerate(_SIZE_UNITS):
        scaled = f"CAST({size} AS DOUBLE) / {1024.0 ** i!r}D"
        value = f"format_string('%.2f {unit}', {scaled})"
        if i == len(_SIZE_UNITS) - 1:
            branches.append(f"ELSE {value}")
        else:
            branches.append(f"WHEN {scaled} < 1024.0D THEN {value}")
    return f"CASE {' '.join(branches)} END"


def format_duration_sql(ms: str) -> str:
    """milliseconds → '1h 0m 0s' / '2m 5s' / '5.5s' / '<0.01s'
    (table_metric.py:134-150, including trailing-zero stripping on
    the seconds-only form)."""
    total_seconds = f"(CAST({ms} AS DOUBLE) / 1000.0D)"
    hours = f"CAST(floor({total_seconds} / 3600) AS BIGINT)"
    minutes = f"CAST(floor(({total_seconds} % 3600) / 60) AS BIGINT)"
    seconds = f"({total_seconds} % 60)"
    whole_seconds = f"CAST(floor({seconds}) AS BIGINT)"
    # '\\\\' is one SQL-escaped backslash: the regex is \.$
    secs_str = (
        f"regexp_replace(regexp_replace(format_string('%.2f', {seconds}),"
        f" '0+$', ''), '\\\\.$', '')"
    )
    return (
        f"CASE WHEN {hours} > 0"
        f" THEN format_string('%dh %dm %ds', {hours}, {minutes}, {whole_seconds})"
        f" WHEN {minutes} > 0"
        f" THEN format_string('%dm %ds', {minutes}, {whole_seconds})"
        f" WHEN {seconds} > 0 AND {seconds} < 0.01D THEN '<0.01s'"
        f" ELSE concat({secs_str}, 's') END"
    )


def format_percent_sql(x: str) -> str:
    """float → '12.34%' (table_metric.py:62-65)."""
    return f"format_string('%.2f%%', CAST({x} AS DOUBLE))"


def glob_to_regex(pattern: str) -> str:
    """fnmatch-style glob → anchored Java regex (SURVEY §2 F4/P1):
    ``*`` → ``.*``, ``?`` → ``.``, everything else quoted."""
    special = set(r".^$+{}[]()|\\")
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in special:
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"
