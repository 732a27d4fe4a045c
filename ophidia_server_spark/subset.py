"""Subset-string algebra: parse `start:stride:end` index/coordinate filters
and render them as SQL predicates.

Reference semantics (studied, not copied): /root/reference/src/oph_subset_library.c
:64-190 — a subset string is a comma-separated list of clauses, each one of
  <value>                 single index/coordinate
  <start>:<end>           stride 1
  <start>:<stride>:<end>  explicit stride
The keyword `end` may stand for the maximum index, valid only when the extent is
known (oph_subset_library.c:116-122). Indexes are 1-based longs
(oph_subset_library.h:37-47). The server-side SQL rendering is
`mysql.oph_is_in_subset(id, start, stride, end)` per triplet, OR-combined
(/root/reference/src/oph_filters.c:173-243).

One SQL renderer per grammar, the only predicate builders: `subset_sql`
(triplets, `x >= s AND x <= e AND ((x - s) % st) = 0` OR-combined),
`values_sql` (non-numeric coordinates, `x IN ('a', 'b')`) and `time_sql`
(`start_end` date ranges). Spark callers parse the text with `F.expr`: one
py4j call, no UDF, pushdown-able by Catalyst.

Subset strings arrive from HTTP, so no unparsed or unescaped request text
reaches SQL: triplet bounds are rendered from parsed Python ints, time bounds
must be `YYYY[-MM[-DD[ HH:MM:SS]]]` naming a real date or time (else
ValueError), and string coordinates become Spark string literals with `\\`
and `'` backslash-escaped.
Column arguments are built from known dimension names (`quote_ident`).
"""

from __future__ import annotations

import calendar
import datetime
import re
from dataclasses import dataclass

from ophidia_server_spark.functions.lits import as_int, string_sql

END_KEYWORD = "end"


@dataclass(frozen=True)
class SubsetClause:
    start: int
    stride: int
    end: int | None  # None => 'end' keyword (max extent, resolved at apply time)

    def resolved(self, max_index: int | None) -> "SubsetClause":
        if self.end is not None:
            return self
        if max_index is None:
            raise ValueError("'end' keyword requires a known dimension extent")
        return SubsetClause(self.start, self.stride, max_index)


def parse_subset(subset: str) -> list[SubsetClause]:
    """Parse a subset string into clauses.

    >>> parse_subset("1:2:10,15")
    [SubsetClause(start=1, stride=2, end=10), SubsetClause(start=15, stride=1, end=15)]
    """
    clauses: list[SubsetClause] = []
    for raw in str(subset).split(","):
        raw = raw.strip()
        if not raw:
            raise ValueError(f"empty clause in subset string {subset!r}")
        parts = [p.strip() for p in raw.split(":")]
        if len(parts) == 1:
            s = _parse_bound(parts[0], allow_end=True)
            if s is None:  # bare 'end'
                clauses.append(SubsetClause(1, 1, None))
            else:
                clauses.append(SubsetClause(s, 1, s))
        elif len(parts) == 2:
            s = _parse_bound(parts[0], allow_end=False)
            e = _parse_bound(parts[1], allow_end=True)
            clauses.append(SubsetClause(s, 1, e))
        elif len(parts) == 3:
            s = _parse_bound(parts[0], allow_end=False)
            st = _parse_bound(parts[1], allow_end=False)
            e = _parse_bound(parts[2], allow_end=True)
            if st <= 0:
                raise ValueError(f"stride must be positive in {raw!r}")
            clauses.append(SubsetClause(s, st, e))
        else:
            raise ValueError(f"bad subset clause {raw!r}")
    return clauses


def _parse_bound(tok: str, allow_end: bool) -> int | None:
    if tok.lower() == END_KEYWORD:
        if not allow_end:
            raise ValueError("'end' keyword not valid as start/stride")
        return None
    return int(tok)


def quote_ident(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + str(name).replace("`", "``") + "`"


def subset_sql(colname: str, subset: str, max_index: int | None = None, offset: int = 0) -> str:
    """Render a subset string as a predicate over the integer SQL expression
    `colname`.

    OR across clauses (multivalue OR-combine, oph_filters.c:61-76); each clause
    is range + stride arithmetic. `offset` widens every clause to
    [start-offset, end+offset] (the reference's subset offset parameter;
    widened bounds ignore the stride); `offset` is an integer by the
    functions/lits.py rule, so 1.0 passes and 0.5 is a ValueError.
    """
    clauses = [c.resolved(max_index) for c in parse_subset(subset)]
    offset = as_int(offset)
    parts = []
    for c in clauses:
        p = f"({colname} >= {c.start - offset} AND {colname} <= {c.end + offset}"
        if c.stride != 1 and not offset:
            p += f" AND (({colname} - {c.start}) % {c.stride}) = 0"
        parts.append(p + ")")
    return "(" + " OR ".join(parts) + ")"


def values_sql(colname: str, subset: str) -> str:
    """Render non-numeric coordinates (`a,b` or `a|b`) as `colname IN (...)`
    of Spark string literals; no values matches nothing."""
    vals = [v for v in str(subset).replace("|", ",").split(",") if v]
    lits = ", ".join(map(string_sql, vals))
    return f"({colname} IN ({lits}))" if vals else "FALSE"


_TIME_BOUND = re.compile(r"\d{4}(-\d{2}(-\d{2}( \d{2}:\d{2}:\d{2})?)?)?", re.ASCII)


def _expand_bound(tok: str, end: bool) -> str:
    """A `YYYY[-MM[-DD]]` bound as a full date: start expands to the period
    floor, end to the period's last day. A full `YYYY-MM-DD HH:MM:SS`
    timestamp is returned as it is."""
    tok = tok.strip()
    if not _TIME_BOUND.fullmatch(tok):
        raise ValueError(f"time bound {tok!r} is not YYYY[-MM[-DD[ HH:MM:SS]]]")
    date, _, clock = tok.partition(" ")
    y, m, d = [*map(int, date.split("-")), None, None][:3]
    try:
        datetime.datetime(y, 1 if m is None else m, 1 if d is None else d,
                          *(map(int, clock.split(":")) if clock else ()))
    except ValueError as exc:
        raise ValueError(f"time bound {tok!r} names no date: {exc}") from None
    if clock:
        return tok
    if end and d is None:
        m = m or 12
        return f"{y:04d}-{m:02d}-{calendar.monthrange(y, m)[1]:02d}"
    return f"{y:04d}-{m or 1:02d}-{d or 1:02d}"


def time_sql(colname: str, subset: str) -> str:
    """time_filter=yes subsetting (oph_subset/oph_wait time filters; the
    reference parses '%Y-%m-%d %H:%M:%S' bounds,
    oph_flow_control_operators.c:2190): clauses are `start_end` date ranges
    over a date/timestamp dimension, comma-separated (OR).

    Bounds may be partial — '1997' (whole year), '1997-03' (whole month),
    '1997-03-15' (whole day) — and render as DATE literals; a full
    '1997-03-15 12:00:00' bound renders as a TIMESTAMP literal. A clause
    without '_' selects the whole period.
    """
    parts = []
    for raw in str(subset).split(","):
        raw = raw.strip()
        s, e = (raw.split("_", 1) if "_" in raw else (raw, raw))
        lo, hi = _expand_bound(s, False), _expand_bound(e, True)
        lo, hi = (("TIMESTAMP " if " " in b else "DATE ") + f"'{b}'" for b in (lo, hi))
        parts.append(f"({colname} >= {lo} AND {colname} <= {hi})")
    return "(" + " OR ".join(parts) + ")"
