"""Driver contract for the PySpark extraction engine.

``entry`` runs the flagship extraction pipeline (span-ified documents ->
archive fan-out -> Arrow-batched extraction kernel) at
sf0.001. ``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 plus the training-pipeline operators (dedup / similarity /
text analysis / multimodal) with exact DuckDB oracles where the semantics
are SQL-expressible (see extract_text_spark/queries.py for the pairing
conventions that make the oracles exact).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Import the engine package regardless of the harness's working directory.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full extraction pipeline."""
    from extract_text_spark.queries import extract_flagship

    return extract_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from extract_text_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from extract_text_spark.queries import ORACLES

    return dict(ORACLES)
