"""Typed field-parse expressions — reference parity for P2-P5.

Reference: /root/reference/src/commands/field_parser.go (schema-driven
per-field ParseFunc closures) and /root/reference/src/config/datetime.go
(multi-format datetime with unix-epoch auto-scaling). Everything here is a
pure Catalyst column expression (whole-stage codegen, zero Python on the hot
path); only IP normalization (P5) needs a vectorized pandas UDF because
Spark has no builtin IPv6 canonicalizer.

Parity details preserved:
- P2 number parse: strconv.Parse{Uint,Int,Float} -> ``try_cast`` (null on
  failure, no exception), field_parser.go:134-173.
- P3 boolean parse: trimmed, lowercased, only "true"/"false" accepted, with
  a 4..5-length fast-path guard, field_parser.go:175-205.
- P4 datetime: formats tried in declared order, first success wins; bare
  integers are unix epochs auto-scaled to s/ms/us/ns by magnitude range
  (datetime.go:21-47: seconds if |v| in [72_057_595, 8_589_934_591], else
  millis/micros/nanos by successive *1000 ranges).
- P5 ip: net.ParseIP + To16 -> canonical textual form, field_parser.go:217-241.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# datetime.go:21-47 epoch magnitude ranges (absolute value, seconds first).
_EPOCH_S_MIN, _EPOCH_S_MAX = 72_057_595, 8_589_934_591
_EPOCH_MS_MIN, _EPOCH_MS_MAX = _EPOCH_S_MIN * 1000, _EPOCH_S_MAX * 1000
_EPOCH_US_MIN, _EPOCH_US_MAX = _EPOCH_MS_MIN * 1000, _EPOCH_MS_MAX * 1000


def parse_number(col: Column, subtype: str = "f64") -> Column:
    """P2: string->number with null-on-failure (field_parser.go:134-173).

    u64 narrows to Spark LongType — Spark has no unsigned 64-bit type
    (SURVEY.md §1.2); values above 2^63-1 become null via try_cast.
    """
    target = {"u64": "long", "i64": "long", "f64": "double"}[subtype]
    out = col.try_cast(target)
    if subtype == "u64":
        # reference rejects negatives for u64 (strconv.ParseUint)
        out = F.when(out >= 0, out)
    return out


def parse_boolean(col: Column) -> Column:
    """P3: trim+lower, accept only 'true'/'false' (field_parser.go:175-205).

    The reference length-guards 4..5 chars before comparing; semantically
    equivalent to exact match on the trimmed lowercase value.
    """
    v = F.lower(F.trim(col))
    return F.when(v == "true", F.lit(True)).when(v == "false", F.lit(False))


def parse_epoch(col: Column) -> Column:
    """Unix-epoch auto-scaling (datetime.go:21-47): magnitude picks the unit."""
    n = col.try_cast("long")
    a = F.abs(n)
    return (
        F.when(a.between(_EPOCH_S_MIN, _EPOCH_S_MAX), F.timestamp_seconds(n))
        .when(a.between(_EPOCH_MS_MIN, _EPOCH_MS_MAX), F.timestamp_millis(n))
        .when(a.between(_EPOCH_US_MIN, _EPOCH_US_MAX), F.timestamp_micros(n))
        # nanos: anything larger; integer-divide to micros
        .when(a > _EPOCH_US_MAX, F.timestamp_micros((n / 1000).cast("long")))
    )


_FORMAT_PARSERS = {
    # iso8601/rfc3339 collapse to Spark's lenient ISO parser
    "iso8601": lambda c: F.try_to_timestamp(c),
    "rfc3339": lambda c: F.try_to_timestamp(c),
    "rfc2822": lambda c: F.try_to_timestamp(c, F.lit("EEE, dd MMM yyyy HH:mm:ss Z")),
    "timestamp": parse_epoch,
    "date": lambda c: F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
}

# datetime.go:90-96 default format order
DEFAULT_DATETIME_FORMATS = ("date", "rfc3339", "timestamp")


def parse_datetime(col: Column, formats: tuple[str, ...] = DEFAULT_DATETIME_FORMATS) -> Column:
    """P4: try formats in declared order, first success wins
    (datetime.go:50-106). Pure coalesce chain — no UDF."""
    parsed = [_FORMAT_PARSERS[f](col) for f in formats]
    return F.coalesce(*parsed) if len(parsed) > 1 else parsed[0]


def _canonical_ip(v):
    import ipaddress

    if v is None:
        return None
    try:
        return str(ipaddress.ip_address(v.strip()))
    except ValueError:
        return None


def _normalize_ip_impl(s: pd.Series) -> pd.Series:
    return s.map(_canonical_ip)


def _normalize_ip_array_impl(s: pd.Series) -> pd.Series:
    return s.map(lambda a: None if a is None else [_canonical_ip(v) for v in a])


def normalize_ip(col) -> Column:
    """P5: parse + canonicalize IP, IPv4 kept dotted-quad (the textual form
    of Go's IPv4-in-IPv6 To16 bytes), invalid -> null
    (field_parser.go:217-241). Vectorized pandas UDF over Arrow batches;
    built lazily because pandas_udf registration needs an active session."""
    return F.pandas_udf(_normalize_ip_impl, "string")(col)


def normalize_ip_array(col) -> Column:
    """``normalize_ip`` on each element of an array<string> column (a
    Python UDF cannot run inside a higher-order function's lambda)."""
    return F.pandas_udf(_normalize_ip_array_impl, "array<string>")(col)
