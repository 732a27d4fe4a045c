"""Subset-string algebra unit tests.

Mirrors the reference's golden style for subset semantics
(/root/reference/src/oph_subset_library.c) without copying cases: triplet
parsing, 'end' keyword, multivalue clauses, error paths.
"""

import pytest

from ophidia_server_spark.subset import SubsetClause, parse_subset, subset_sql


def test_single_value():
    assert parse_subset("5") == [SubsetClause(5, 1, 5)]


def test_range():
    assert parse_subset("2:9") == [SubsetClause(2, 1, 9)]


def test_triplet():
    assert parse_subset("1:3:10") == [SubsetClause(1, 3, 10)]


def test_multivalue():
    assert parse_subset("1:2,5,7:2:11") == [
        SubsetClause(1, 1, 2),
        SubsetClause(5, 1, 5),
        SubsetClause(7, 2, 11),
    ]


def test_end_keyword_resolution():
    (c,) = parse_subset("3:end")
    assert c.end is None
    assert c.resolved(12) == SubsetClause(3, 1, 12)


def test_end_requires_extent():
    with pytest.raises(ValueError):
        parse_subset("3:end")[0].resolved(None)


def test_end_not_valid_as_start():
    with pytest.raises(ValueError):
        parse_subset("end:5")


def test_zero_stride_rejected():
    with pytest.raises(ValueError):
        parse_subset("1:0:10")


def test_empty_clause_rejected():
    with pytest.raises(ValueError):
        parse_subset("1,,3")


def test_sql_rendering():
    s = subset_sql("id", "2:2:10,15")
    assert "id >= 2" in s and "% 2" in s and "id >= 15" in s


def test_offset_widens_bounds():
    assert subset_sql("x", "5:6", offset=1) == "((x >= 4 AND x <= 7))"
    # offset disables stride arithmetic (widened window is contiguous)
    assert "%" not in subset_sql("x", "2:2:8", offset=1)
    assert subset_sql("x", "2:2:8") == "((x >= 2 AND x <= 8 AND ((x - 2) % 2) = 0))"
