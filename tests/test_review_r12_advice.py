"""streaming/incremental._parse_watermark treats unusable stored state
(legacy 'None', type changes, tz-aware vs naive) as ABSENT instead of
raising inside foreachBatch and dead-locking the stream; Decimal and
other constructible types parse via the sample's constructor. (The memo
cases of the same review round live in test_memo.py.)
"""

from __future__ import annotations

import datetime as dt
import decimal

from data_ingestion_auto_spark.streaming.incremental import _parse_watermark


def test_parse_watermark_decimal_parses_in_domain():
    sample = decimal.Decimal("10.5")
    assert _parse_watermark("9.25", sample) == decimal.Decimal("9.25")
    # and the classic lexicographic trap stays closed for Decimal too
    assert _parse_watermark("9", decimal.Decimal("10")) < decimal.Decimal("10")


def test_parse_watermark_unusable_state_is_absent_not_fatal():
    # legacy literal 'None' committed by the pre-r12 code against an int key
    assert _parse_watermark("None", 10) is None
    # garbage against a date key
    assert _parse_watermark("not-a-date", dt.date(2024, 1, 2)) is None
    # tz-aware batch vs naive stored state: comparison would raise
    aware = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    assert _parse_watermark("2024-01-01T00:00:00", aware) is None
    # unparseable Decimal
    assert _parse_watermark("None", decimal.Decimal("1")) is None


def test_parse_watermark_happy_paths_unchanged():
    assert _parse_watermark("9", 10) == 9
    assert _parse_watermark("1.5", 2.0) == 1.5
    assert _parse_watermark("2024-01-01", dt.date(2024, 1, 2)) == dt.date(2024, 1, 1)
    assert _parse_watermark("abc", "abd") == "abc"
    assert (
        _parse_watermark("2024-01-01T03:00:00", dt.datetime(2024, 1, 2))
        == dt.datetime(2024, 1, 1, 3)
    )
