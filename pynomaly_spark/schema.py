"""The canonical schema of the engine's source table.

The source is the Iceberg-style code-repository table
(``BASELINE.json`` input_hint)::

    repo:string, path:string, commit:string, lang:string, content:string

The reference's row identity is an implicit positional index
(``loop.py:627-628``); at Spark scale positional ids are unstable across
shuffles, so :func:`pynomaly_spark.checks.run_suite` derives a
deterministic 64-bit ``row_id`` from the natural key with
``xxhash64(repo, path, commit)``.  Within a drift group the kernel only
needs ids that are unique and stable — both hold.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

CODE_TABLE_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)
