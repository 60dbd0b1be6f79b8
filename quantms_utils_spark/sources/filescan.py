"""Range-indexed file scan: one Spark task per input file.

The mzML and idXML readers parse whole files in Python workers. The scan
that feeds them is ``spark.range(0, n, 1, n)``: ``n`` partitions holding one
id each, so partition ``i`` is exactly one task and that task parses
``paths[i]`` inside ``mapInPandas``. The path list travels with the parse
function; no row of paths is built, converted or shuffled, so the plan is
``MapInPandas <- Range`` with no exchange and no second pool of Python
workers, and no hash of a path can put two files in one task while another
core idles.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def scan_files(
    spark: SparkSession,
    paths: Sequence[str],
    parse_one: Callable[[str], pd.DataFrame],
    schema: StructType,
) -> DataFrame:
    """``parse_one(path)`` for every path, one task (and one partition) per
    path, in ``paths`` order."""
    paths = list(paths)
    if not paths:
        raise ValueError(
            "paths must be non-empty (an empty run list is a caller bug, "
            "not an empty result)"
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                yield parse_one(paths[int(i)])

    n = len(paths)
    return spark.range(0, n, 1, n).mapInPandas(parse, schema=schema)
