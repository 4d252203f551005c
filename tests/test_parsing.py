"""P2-P5 parse-cast parity edge cases (field_parser.go / datetime.go)."""

from datetime import datetime

from pyspark.sql import functions as F

from go_distributed_log_search_spark.functions import parsing


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_epoch_auto_scale_boundaries(spark):
    # datetime.go:21-47: seconds iff |v| in [72_057_595, 8_589_934_591]
    from datetime import timezone

    def utc(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    cases = {
        "72057595": utc(72_057_595),           # min seconds
        "8589934591": utc(8_589_934_591),      # max seconds
        "72057595000": utc(72_057_595),        # min millis
        "72057595000000": utc(72_057_595),     # min micros
    }
    for raw, expected in cases.items():
        got = _one(spark, parsing.parse_epoch(F.lit(raw)))
        assert got == expected, (raw, got)
    # below the seconds range: no unit matches -> null
    assert _one(spark, parsing.parse_epoch(F.lit("72057594"))) is None


def test_boolean_guard(spark):
    f = parsing.parse_boolean
    assert _one(spark, f(F.lit(" TRUE "))) is True
    assert _one(spark, f(F.lit("False"))) is False
    assert _one(spark, f(F.lit("yes"))) is None
    assert _one(spark, f(F.lit("truefalse"))) is None
    assert _one(spark, f(F.lit(""))) is None


def test_number_parse(spark):
    assert _one(spark, parsing.parse_number(F.lit("42"), "i64")) == 42
    assert _one(spark, parsing.parse_number(F.lit("4.5"), "f64")) == 4.5
    assert _one(spark, parsing.parse_number(F.lit("x"), "f64")) is None
    # u64: negatives rejected (strconv.ParseUint parity)
    assert _one(spark, parsing.parse_number(F.lit("-3"), "u64")) is None
    assert _one(spark, parsing.parse_number(F.lit("3"), "u64")) == 3


def test_datetime_format_order(spark):
    # date format wins for date-only; full timestamps via iso fallthrough
    c = parsing.parse_datetime(F.lit("2024-05-06"), ("date", "rfc3339"))
    assert _one(spark, c) == datetime(2024, 5, 6)
    c = parsing.parse_datetime(F.lit("2024-05-06 07:08:09"), ("date", "rfc3339"))
    assert _one(spark, c) == datetime(2024, 5, 6, 7, 8, 9)
    c = parsing.parse_datetime(F.lit("not a date"), ("date", "rfc3339", "timestamp"))
    assert _one(spark, c) is None


def test_ip_normalize(spark):
    df = spark.createDataFrame(
        [("8.8.8.8",), (" 1.2.3.4 ",), ("2001:0db8::0001",), ("garbage",), (None,)],
        ["ip"],
    )
    got = [r.n for r in df.select(parsing.normalize_ip("ip").alias("n")).collect()]
    assert got == ["8.8.8.8", "1.2.3.4", "2001:db8::1", None, None]
