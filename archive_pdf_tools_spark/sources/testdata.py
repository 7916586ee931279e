"""Driver testdata parquet loaders (TESTDATA.md).

``load_table`` is a plain ``spark.read.parquet`` of
``<sf_dir>/<name>.parquet``: it leaves the caller's session conf as it
found it.  Spark sizes the file splits from the data
(``min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))``),
and a one-row-group file is read by one task whatever the split size.
"""

from __future__ import annotations

import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load_table(spark, sf_dir: str, name: str):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark, sf_dir: str, names=TABLES) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in names}
