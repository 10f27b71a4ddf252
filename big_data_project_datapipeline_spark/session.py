"""SparkSession factory.

The reference pipeline is eager single-threaded pandas; our engine is a lazy
Catalyst-optimized plan (SURVEY.md §3.4). Session-level invariants that the
reference manages by hand are pinned here once:

- ``spark.sql.session.timeZone=UTC`` — the reference coerces every timestamp
  to UTC at every boundary (reference raw_data.py:46,67,129-131,144,199,247);
  with the session TZ pinned, `hour()`/`weekday()`-derived features match.
- AQE on — runtime shuffle-partition coalescing + skew-join splitting; this is
  what makes the same plan survive sf0.001 → 100 TB without retuning.
- Arrow on — vectorized pandas interchange for the few pandas_udf extension ops.

Every driver-side row set (the parsed payloads, the empty bootstrap gram
index, registry literals such as q52's dimension, rows computed on the
driver such as q180's attribution) enters a plan through
:func:`local_frame`, the package's one ``createDataFrame`` call.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "big_data_project_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a test harness; the config choices (AQE, broadcast
    threshold, partition sizing) are made for a real multi-executor cluster
    and merely *also work* on local[N].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): with local
        # threads and kilobyte partitions extra tasks are nearly free,
        # while honoring the 64 MB advisory size coalesces the
        # CPU-heavy collapsed stages (wedge joins, percentile sorts) to
        # 1-2 tasks and serializes them (q121, q132, q87 and q126 ran
        # 1.8-2.7x slower solo at sf0.1 with it off). On a real
        # multi-executor cluster the trade can flip; re-measure there
        # before changing it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims like region/nation/supplier stay broadcast even at 100 TB fact scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: one JVM; give it room so sf0.1 bench never spills to GC death
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark call-site capture is off: with dataFrameDebugging on
        # (the default), EVERY Python DataFrame/Column API call walks
        # the Python stack and ships the call site to the JVM for error
        # enrichment — measured 5–16 ms per F.col and 230 ms per
        # groupBy().agg(), against 1.4 / 72 ms with it off. Across the
        # 237-query registry one full construction pass costs ~240 s
        # with capture on, pure driver-side fixed cost repeated per
        # run. The trade is error messages without user-code line
        # numbers; operators raise their own typed errors, so the loss
        # is small. To debug, pass it as ``extra_conf``. Caveat: PySpark
        # reads the flag once per process, from the session active at
        # the first DataFrame API call, and caches it; a conf set or a
        # session built after that call does not change it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Scan-split sizing: Spark sizes file splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)).
        # A smaller openCost splits single-file scans to the core count
        # — but a parquet file splits only at row-group granularity, so
        # on single-row-group inputs every extra split is an EMPTY task:
        # pure scheduler tax (64 KB cost ~30 s across the 237-query
        # bench against 4 MB). Scan parallelism for unsplittable inputs
        # comes from the opt-in fan-out repartition
        # (tables._fan_out_unsplittable) instead. Pinned at the stock
        # 4 MB.
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    rows: Sequence[Mapping[str, Any] | Sequence[Any]],
    schema: T.StructType | str,
) -> DataFrame:
    """Driver-side ``rows`` as a frame over a ``LocalRelation``.

    A row is a dict keyed by field name (a missing key is NULL) or a
    tuple in field order; ``schema`` is a ``StructType`` or a DDL string
    such as ``"k string, v double"``. The schema is never inferred from
    the data.

    ``createDataFrame`` of a Python list plans a Python-RDD scan: every
    job that reads it runs Python worker tasks, and its size estimate
    is unknown, so no join against it broadcasts. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` instead: the rows travel inside the plan, with an
    exact size estimate, and no Python worker starts. Arrow casts JSON
    integers to double columns."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, Mapping) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
