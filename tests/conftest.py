from __future__ import annotations

import pytest

from liresolr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("liresolr-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus200(spark):
    """sf-unit synthetic code corpus (FIXTURES.md §1: 200 rows)."""
    from liresolr_spark.sources.corpus import synthetic_code_corpus

    df = synthetic_code_corpus(spark, 200, seed=42, partitions=4)
    df.persist()
    df.count()
    return df


@pytest.fixture(params=["driver", "spark"])
def write_leg(request, monkeypatch):
    """Runs a write test on both segment-write paths: 'driver' keeps the
    default DRIVER_MAX_POSTINGS (small appends and merges are written from
    the driver), 'spark' sets it to 0 (every write runs Spark stages)."""
    import liresolr_spark.operators.wand as wand

    if request.param == "spark":
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
    return request.param
