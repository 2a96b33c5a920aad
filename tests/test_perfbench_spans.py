"""The traced benchmark wraps engine and catalog methods by name
(``perfbench.spans``); a rename would only fail there, at run time.
Every wrapped name must be defined on its class."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import CATALOG_METHODS, CRAWLER_METHODS  # noqa: E402

from meilisearchcrawler_spark.engine.catalog import CheckpointCatalog  # noqa: E402
from meilisearchcrawler_spark.engine.crawler import CrawlEngine  # noqa: E402


def test_traced_methods_exist():
    missing = ([m for m in CRAWLER_METHODS if m not in CrawlEngine.__dict__]
               + [m for m in CATALOG_METHODS
                  if m not in CheckpointCatalog.__dict__])
    assert not missing
