"""Relational operators the reference uses but Spark lacks as single calls.

Each is a DataFrame→DataFrame composition of built-in ops — no Python UDFs,
no custom Catalyst rules (SURVEY.md §4.1: none are required). They stay fully
inside whole-stage codegen and scale with ordinary shuffle semantics.
"""

from big_data_project_datapipeline_spark.operators.asof import asof_join
from big_data_project_datapipeline_spark.operators.incremental import anti_join_delta
from big_data_project_datapipeline_spark.operators.merge import (
    upsert_keep_last,
    upsert_keep_first,
)
from big_data_project_datapipeline_spark.operators.pivot import pivot_records
from big_data_project_datapipeline_spark.operators.scale import zscore_scale

__all__ = [
    "asof_join",
    "anti_join_delta",
    "upsert_keep_last",
    "upsert_keep_first",
    "pivot_records",
    "zscore_scale",
]
