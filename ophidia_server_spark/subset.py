"""Subset-string algebra: parse and apply `start:stride:end` index/coordinate
filters.

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

Spark mapping: each triplet becomes the pure Column predicate
  (id >= start) & (id <= end) & ((id - start) % stride == 0)
OR-combined across clauses — no UDF, fully pushdown-able by Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def subset_predicate(
    col: Column, subset: str, max_index: int | None = None, offset: int = 0
) -> Column:
    """Compile a subset string into a Column predicate over an integer index column.

    OR across clauses (multivalue OR-combine, oph_filters.c:61-76); each clause is
    range + stride arithmetic. Catalyst can push the range bounds to the scan.
    `offset` widens every clause to [start-offset, end+offset] (the reference's
    subset offset parameter; widened bounds ignore the stride).
    """
    clauses = [c.resolved(max_index) for c in parse_subset(subset)]
    pred = None
    for c in clauses:
        lo, hi = c.start - offset, c.end + offset
        p = (col >= F.lit(lo)) & (col <= F.lit(hi))
        if c.stride != 1 and not offset:
            p = p & (((col - F.lit(c.start)) % F.lit(c.stride)) == 0)
        pred = p if pred is None else (pred | p)
    return pred


def subset_sql(colname: str, subset: str, max_index: int | None = None, offset: int = 0) -> str:
    """ANSI-SQL rendering of the same predicate (for oracle parity checks)."""
    clauses = [c.resolved(max_index) for c in parse_subset(subset)]
    parts = []
    for c in clauses:
        p = f"({colname} >= {c.start - offset} AND {colname} <= {c.end + offset}"
        if c.stride != 1 and not offset:
            p += f" AND (({colname} - {c.start}) % {c.stride}) = 0"
        parts.append(p + ")")
    return "(" + " OR ".join(parts) + ")"


def time_predicate(col: Column, subset: str) -> Column:
    """time_filter=yes subsetting (oph_subset/oph_wait time filters; the
    reference parses '%Y-%m-%d %H:%M:%S' bounds,
    oph_flow_control_operators.c:2190): clauses are `start_end` date ranges
    over a date/timestamp dimension, comma-separated (OR).

    Bounds may be partial — '1997' (whole year), '1997-03' (whole month),
    '1997-03-15' (whole day) — start expands to the period floor, end to the
    period's last day. A clause without '_' selects the whole period.
    """
    pred = None
    for raw in str(subset).split(","):
        raw = raw.strip()
        if "_" in raw:
            s, e = raw.split("_", 1)
        else:
            s = e = raw
        lo = _expand_bound(s, end=False)
        hi = _expand_bound(e, end=True)
        p = (col >= F.lit(lo)) & (col <= F.lit(hi))
        pred = p if pred is None else (pred | p)
    return pred


def _expand_bound(tok: str, end: bool) -> str:
    tok = tok.strip()
    parts = tok.split("-")
    if len(parts) == 1:  # year
        return f"{tok}-12-31" if end else f"{tok}-01-01"
    if len(parts) == 2:  # year-month
        if not end:
            return f"{tok}-01"
        y, m = int(parts[0]), int(parts[1])
        days = [31, 29 if y % 4 == 0 and (y % 100 != 0 or y % 400 == 0) else 28,
                31, 30, 31, 30, 31, 31, 30, 31, 30, 31][m - 1]
        return f"{tok}-{days:02d}"
    return tok


def time_sql(colname: str, subset: str) -> str:
    """ANSI-SQL rendering of time_predicate for oracle parity."""
    parts = []
    for raw in str(subset).split(","):
        raw = raw.strip()
        s, e = (raw.split("_", 1) if "_" in raw else (raw, raw))
        lo, hi = _expand_bound(s, False), _expand_bound(e, True)
        parts.append(f"({colname} >= DATE '{lo}' AND {colname} <= DATE '{hi}')")
    return "(" + " OR ".join(parts) + ")"
