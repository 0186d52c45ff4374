"""Shared fixtures: one local SparkSession + a small deterministic corpus."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_processing_pipeline_spark.session import get_spark          # noqa: E402
from ocr_processing_pipeline_spark.sources.corpus import (           # noqa: E402
    ensure_corpus, make_gazetteers, make_pages)

SMOKE_ROWS = 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    ensure_corpus(str(d), SMOKE_ROWS)
    return str(d)


@pytest.fixture(scope="session")
def corpus_rows():
    """The same rows the parquet corpus holds, as Python dicts (oracle side)."""
    rows, gaz = make_pages(SMOKE_ROWS)
    return rows, gaz


@pytest.fixture(scope="session")
def gazetteers():
    import random
    return make_gazetteers(random.Random(43))
