"""As-of join semantics (operators/asof.py)."""

import pytest

from tests.conftest import rows_set


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 5, 50.0), ("B", 1, 49.0)],
        ["sym", "t", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", 2, 99.5), ("A", 6, 100.5), ("B", 5, 49.9)],
        ["sym", "t", "quote"],
    )
    return trades, quotes


def test_asof_backward(spark, trades_quotes):
    from datamancer_spark.operators.asof import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="t", by=["sym"])
    got = rows_set(out.select("sym", "t", "quote_right").df if hasattr(out, "df") else out.select("sym", "t", "quote_right"))
    assert got == [
        ("A", 3, 99.5),   # latest quote at t<=3 is t=2
        ("A", 7, 100.5),  # t=6
        ("B", 1, None),   # no quote yet
        ("B", 5, 49.9),   # tie at same instant is inclusive
    ]


def test_asof_forward(spark, trades_quotes):
    from datamancer_spark.operators.asof import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="t", by=["sym"], direction="forward")
    got = rows_set(out.select("sym", "t", "quote_right"))
    assert got == [
        ("A", 3, 100.5),  # next quote at t>=3 is t=6
        ("A", 7, None),
        ("B", 1, 49.9),
        ("B", 5, 49.9),   # inclusive tie
    ]


def test_asof_null_payload_and_row_integrity(spark):
    """The latest right row must arrive ATOMICALLY: its NULL fields are
    real values, not gaps to fill from older rows."""
    from datamancer_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("A", 1, 5.0, 6.0), ("A", 2, None, 7.0)],
        ["sym", "t", "bid", "ask"],
    )
    trades = spark.createDataFrame([("A", 3, 100.0)], ["sym", "t", "price"])
    out = asof_join(trades, quotes, on="t", by=["sym"]).collect()[0]
    # latest quote (t=2) carried whole: bid is ITS NULL, not t=1's 5.0
    assert out["bid_right"] is None and out["ask_right"] == 7.0
