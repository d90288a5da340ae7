from datetime import datetime
from decimal import Decimal

from perfbench import check


def test_digest_is_order_insensitive_and_counts_rows():
    rows = [(1, "a", 2.5), (2, "b", 3.5), (2, "b", 3.5)]
    a = check.digest(["k", "s", "x"], rows)
    b = check.digest(["k", "s", "x"], list(reversed(rows)))
    assert a == b and check.rows_of(a) == 3
    assert check.digest(["k", "s", "x"], rows[:2]) != a


def test_digest_orders_columns_by_name():
    assert check.digest(["b", "a"], [(1, 2)]) == check.digest(["a", "b"], [(2, 1)])


def test_canon_unifies_engine_value_types():
    assert check.canon(1.0) == check.canon(1) == check.canon(Decimal("1.00"))
    assert check.canon(-0.0) == check.canon(0)
    assert check.canon(True) == 1
    assert check.canon(datetime(2024, 1, 2, 3)) == "2024-01-02T03:00:00"
    assert check.canon(float("nan")) == "nan"


def test_summation_order_noise_is_absorbed():
    # ROUND(SUM, 2) of a ~1e9 sum can differ by 0.01 between engines
    a = check.digest(["r"], [(1234567891.23,)])
    assert a == check.digest(["r"], [(1234567891.24,)])
    # a real difference in the value is not
    assert a != check.digest(["r"], [(1234600000.0,)])


def test_warmup_ok_by_digest_or_row_count():
    d = check.digest(["x"], [(1,), (2,)])
    assert check.warmup_ok("digest", d, d)
    assert not check.warmup_ok("digest", "2:0000000000000000", d)
    assert check.warmup_ok("rows", 2, d)
    assert not check.warmup_ok("rows", 3, d)
    assert not check.warmup_ok("rows", 2, None)


def _op(key, digest, error=None):
    return {"key": key, "digest": digest, "error": error}


def test_failure_counting():
    warm = {"a": "1:aa", "b": "1:bb"}
    ops = [_op("a", "1:aa"), _op("b", "1:bb"), _op("a", "1:aa")]
    assert check.count_failures(ops, warm, {"a": True, "b": True}) == 0
    # an op whose digest differs from its key's warm-up
    assert check.count_failures(ops + [_op("b", "1:cc")], warm,
                                {"a": True, "b": True}) == 1
    # an op that raised
    assert check.count_failures(ops + [_op("a", None, "boom")], warm,
                                {"a": True, "b": True}) == 1
    # a wrong expected checksum: the warm-up fails its reference, so
    # every op of that key fails
    assert check.count_failures(ops, warm, {"a": False, "b": True}) == 2
