"""Driver testdata parquet loaders (TESTDATA.md)."""

from __future__ import annotations

import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Scan split-size floor: the testdata tables arrive as ONE parquet file
# each (lineitem at sf1 is ~130 MB), so the default 128 MB
# spark.sql.files.maxPartitionBytes plans the whole scan as 1-2 tasks
# and every scan-dominated query runs on 1-2 cores.  A smaller split
# size recovers scan parallelism on few-file inputs while leaving
# many-file warehouse layouts unaffected (their files already outnumber
# cores; a file smaller than the split is never split further...  i.e.
# only files BIGGER than this value are cut).  Only these testdata
# loaders set it; ``job.py`` reads its input without them.
_MAX_PARTITION_BYTES = "16m"


def load_table(spark, sf_dir: str, name: str):
    if spark.conf.get("spark.sql.files.maxPartitionBytes",
                      None) != _MAX_PARTITION_BYTES:
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       _MAX_PARTITION_BYTES)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark, sf_dir: str, names=TABLES) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in names}
