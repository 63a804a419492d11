"""Portability of the DuckDB oracle SQL (liresolr_spark.entry_queries).

Python-style list comprehensions (`[f(x) for x in l]`) are DuckDB syntax
whose parsing has changed across releases; the oracles spell every list
map as `list_transform(l, x -> f(x))` instead."""

from __future__ import annotations

import re

from liresolr_spark.entry_queries import oracle_sql

COMPREHENSION = re.compile(r"\bfor\s+\w+\s+in\b")


def test_oracle_sql_has_no_list_comprehension():
    offenders = sorted(name for name, sql in oracle_sql().items()
                       if COMPREHENSION.search(sql))
    assert not offenders, offenders
