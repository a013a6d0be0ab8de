"""Unit tests for the scalar function library (SURVEY §2.8).

The free-text date parser (F1) is checked against hand-computed expectations
including every required FIXTURES.md case: BCE dates, "1000 BC", German
day-first v-years, century phrases, masked years, and the >122y lifespan
veto. Epoch-seconds math is cross-checked against Python's datetime for the
CE range (datetime can't represent BCE — that's the point of our own math).
"""

from __future__ import annotations

import datetime as dt

import pytest

from data_pipeline_spark.functions.dates import epoch_seconds, parse_datetime


def _dt_epoch(y, mo=1, d=1, h=0, mi=0, s=0):
    return int(
        (
            dt.datetime(y, mo, d, h, mi, s, tzinfo=dt.timezone.utc)
            - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        ).total_seconds()
    )


@pytest.mark.parametrize(
    "ymd",
    [
        (1970, 1, 1),
        (2024, 2, 29),
        (1600, 3, 1),
        (1, 1, 1),
        (9999, 12, 31),
        (1903, 7, 13),
    ],
)
def test_epoch_seconds_matches_datetime_in_ce_range(ymd):
    assert epoch_seconds(*ymd) == _dt_epoch(*ymd)


def test_epoch_seconds_bce_is_monotonic_and_contiguous():
    # year 0 (1 BCE) is a leap year in the proleptic Gregorian calendar
    assert epoch_seconds(1, 1, 1) - epoch_seconds(0, 12, 31) == 86400
    assert epoch_seconds(0, 3, 1) - epoch_seconds(0, 2, 29) == 86400
    assert epoch_seconds(-449, 1, 1) < epoch_seconds(-448, 1, 1) < epoch_seconds(0, 1, 1)


CASES = {
    # ISO fast shapes
    "1984": ("1984-01-01T00:00:00", "1984-12-31T23:59:59"),
    "1984-07": ("1984-07-01T00:00:00", "1984-07-31T23:59:59"),
    "1984-07-13": ("1984-07-13T00:00:00", "1984-07-13T23:59:59"),
    "1984-07-13T12:30:05": ("1984-07-13T12:30:05", "1984-07-13T12:30:05"),
    # BCE ISO (astronomical year -0450)
    "-0450-01-01": ("-0450-01-01T00:00:00", "-0450-01-01T23:59:59"),
    # "1000 BC" == astronomical year -999
    "1000 BC": ("-0999-01-01T00:00:00", "-0999-12-31T23:59:59"),
    "450 BCE": ("-0449-01-01T00:00:00", "-0449-12-31T23:59:59"),
    # centuries
    "12th century": ("1101-01-01T00:00:00", "1200-12-31T23:59:59"),
    "early 12th century": ("1101-01-01T00:00:00", "1133-12-31T23:59:59"),
    "late 15th century": ("1468-01-01T00:00:00", "1500-12-31T23:59:59"),
    "5th century BCE": ("-0499-01-01T00:00:00", "-0400-12-31T23:59:59"),
    # masks
    "19XX": ("1900-01-01T00:00:00", "1999-12-31T23:59:59"),
    "17??": ("1700-01-01T00:00:00", "1799-12-31T23:59:59"),
    # bare numerics
    "198407": ("1984-07-01T00:00:00", "1984-07-31T23:59:59"),
    "19840713": ("1984-07-13T00:00:00", "1984-07-13T23:59:59"),
    # German day-first incl. v-prefix BCE years
    "13.07.1984": ("1984-07-13T00:00:00", "1984-07-13T23:59:59"),
    "13.07.v100": ("-0099-07-13T00:00:00", "-0099-07-13T23:59:59"),
    # uncertainty + ranges
    "1903?": ("1903-01-01T00:00:00", "1903-12-31T23:59:59"),
    "1900-1910": ("1900-01-01T00:00:00", "1910-12-31T23:59:59"),
    "1900/1910": ("1900-01-01T00:00:00", "1910-12-31T23:59:59"),
    # Hebrew-calendar tail: years > 4500 (mapper_utils.py:200-208);
    # anchors — 5730 = Rosh Hashanah 1969-09-13, Passover (Nissan 15)
    # 1970-04-21; Sivan 15 is 50+9 days after Passover
    "5730-03-15": ("1970-06-19T00:00:00", "1970-06-19T23:59:59"),
    "5730-01-15": ("1970-04-21T00:00:00", "1970-04-21T23:59:59"),
    "5730-07-01": ("1969-09-13T00:00:00", "1969-09-13T23:59:59"),
    "5730": ("1969-09-13T00:00:00", "1970-09-30T23:59:59"),
    "5785-07": ("2024-10-03T00:00:00", "2024-11-01T23:59:59"),
    # the Hebrew reinterpretation reaches EVERY surface form, not just
    # ISO: ranges, masks, German day-first, bare numerics; time-of-day
    # is validated but the interval stays day-precision (the reference
    # resets converted dates to midnight)
    "5730-5735": ("1969-09-13T00:00:00", "1975-09-05T23:59:59"),
    "57??": ("1939-09-14T00:00:00", "2039-09-18T23:59:59"),
    "13.07.5730": ("1969-09-25T00:00:00", "1969-09-25T23:59:59"),
    "57300315": ("1970-06-19T00:00:00", "1970-06-19T23:59:59"),
    "5730-03-15t12:30": ("1970-06-19T00:00:00", "1970-06-19T23:59:59"),
}


@pytest.mark.parametrize("text", sorted(CASES))
def test_parse_datetime(text):
    got = parse_datetime(text)
    assert got is not None, text
    b, e, bs, es = got
    assert (b, e) == CASES[text]
    assert bs <= es
    # epoch seconds agree with the ISO strings they accompany
    year = int(b.split("-0" if b.startswith("-") else "-", 1)[0] or b[:5])


@pytest.mark.parametrize(
    "text",
    [None, "", "unknown", "not a date", "13.13.1984", "99999999",
     # invalid Hebrew dates: Adar II in a non-leap year, day 30 of Iyar,
     # and an out-of-range time on a valid Hebrew day
     "5731-13-01", "5730-02-30", "5730-03-15t99:99"],
)
def test_parse_datetime_rejects(text):
    assert parse_datetime(text) is None


def test_interval_seconds_match_iso():
    b, e, bs, es = parse_datetime("1984-07-13")
    assert bs == _dt_epoch(1984, 7, 13)
    assert es == _dt_epoch(1984, 7, 13, 23, 59, 59)


def test_lifespan_precheck_math():
    # 122-year rule on epoch seconds: a 120y lifespan passes, 150y fails
    born = epoch_seconds(1880, 2, 21)
    died = epoch_seconds(2000, 8, 4)
    assert died - born <= 122 * 365.25 * 86400
    assert epoch_seconds(2025, 1, 1) - epoch_seconds(1875, 1, 1) > 122 * 365.25 * 86400


def test_lifespan_rule_boundary_both_twins(spark):
    """F5's one rule, Column and Python twin alike: exactly 122 years
    passes, one second more fails, and so does a death before birth; the
    Column form passes a row with either date unknown."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.functions.dates import (
        MAX_LIFESPAN_SEC,
        lifespan_ok,
        lifespan_ok_py,
    )

    born = epoch_seconds(1880, 2, 21)
    cases = [
        (born, born + MAX_LIFESPAN_SEC, True),
        (born, born + MAX_LIFESPAN_SEC + 1, False),
        (born, born - 1, False),
        (born, born, True),
    ]
    for b, d, want in cases:
        assert lifespan_ok_py(b, d) is want, (b, d)
    rows = [(b, d) for b, d, _ in cases] + [(None, born), (born, None)]
    df = spark.createDataFrame(rows, "b bigint, d bigint")
    got = [r.ok for r in df.select(lifespan_ok(F.col("b"), F.col("d")).alias("ok")).collect()]
    assert got == [want for _, _, want in cases] + [True, True]


def test_spark_string_functions(spark):
    from pyspark.sql import functions as F

    from data_pipeline_spark.functions import (
        clean_name,
        fix_identifier,
        make_qua,
        normalize_url,
        split_qua,
        strip_html,
    )

    df = spark.createDataFrame(
        [("  Rem​brandt  van RIJN ",)], ["name"]
    ).select(clean_name(F.col("name")).alias("c"))
    assert df.first().c == "rembrandt van rijn"

    df = spark.createDataFrame(
        [("http://www.example.org/a/",), ("example.org/a",), ("https://example.org/a",)],
        ["u"],
    ).select(normalize_url(F.col("u")).alias("n"))
    assert {r.n for r in df.collect()} == {"https://example.org/a"}

    df = spark.createDataFrame([(" 'abc'/x.html ",)], ["i"]).select(
        fix_identifier(F.col("i")).alias("f")
    )
    assert df.first().f == "abc/x"

    df = spark.createDataFrame([("http://x.org/1", "Person")], ["u", "t"])
    qua = df.select(make_qua(F.col("u"), F.col("t")).alias("q"))
    assert qua.first().q == "http://x.org/1##quaPerson"
    uri, typ = split_qua(F.col("q"))
    back = qua.select(uri.alias("u"), typ.alias("t")).first()
    assert (back.u, back.t) == ("http://x.org/1", "Person")

    df = spark.createDataFrame(
        [("<p>Hello &amp; <b>world</b>&nbsp;!</p>",)], ["h"]
    ).select(strip_html(F.col("h")).alias("s"))
    assert df.first().s == "Hello & world !"


def test_spark_make_datetime_udf(spark):
    from pyspark.sql import functions as F

    from data_pipeline_spark.functions import make_datetime

    df = spark.createDataFrame(
        [("1984-07-13",), ("1000 BC",), ("early 12th century",), ("gibberish",)],
        ["txt"],
    ).select("txt", make_datetime(F.col("txt")).alias("ts"))
    rows = {r.txt: r.ts for r in df.collect()}
    assert rows["1984-07-13"].begin_iso == "1984-07-13T00:00:00"
    assert rows["1000 BC"].begin_iso == "-0999-01-01T00:00:00"
    assert rows["1000 BC"].begin_sec < 0
    assert rows["early 12th century"].end_iso == "1133-12-31T23:59:59"
    assert rows["gibberish"].begin_iso is None
