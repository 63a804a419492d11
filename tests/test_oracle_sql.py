"""Portability of the DuckDB oracle SQL (liresolr_spark.entry_queries)
and coverage of the registry's driver window.

Python-style list comprehensions (`[f(x) for x in l]`) are DuckDB syntax
whose parsing has changed across releases; the oracles spell every list
map as `list_transform(l, x -> f(x))` instead."""

from __future__ import annotations

import re

from liresolr_spark.entry_queries import DRIVER_WINDOW, REGISTRY, oracle_sql

COMPREHENSION = re.compile(r"\bfor\s+\w+\s+in\b")


def test_oracle_sql_has_no_list_comprehension():
    offenders = sorted(name for name, sql in oracle_sql().items()
                       if COMPREHENSION.search(sql))
    assert not offenders, offenders


def test_every_index_serving_entry_in_driver_window():
    """Every persisted-index serving entry (`w*`) is inside the 50-entry
    window the driver gates on; twins of other families may sit past it,
    a served operator may not. Every registry family (the name's first
    letter) keeps at least one entry inside the window."""
    outside = sorted(n for n in REGISTRY
                     if n.startswith("w") and n not in DRIVER_WINDOW)
    assert not outside, outside
    families = {n[0] for n in REGISTRY}
    assert families >= set("qrdevtmwspi"), families
    absent = sorted(families - {n[0] for n in DRIVER_WINDOW})
    assert not absent, absent
