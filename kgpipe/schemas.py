"""Normative table schemas (SURVEY.md §1.2).

transcripts is the primary input (BASELINE.json input_hint):
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

DICTIONARY = T.StructType(
    [
        T.StructField("ontology", T.StringType(), False),
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("canonical", T.StringType(), True),
        T.StructField("variant", T.StringType(), True),
        T.StructField("is_official", T.BooleanType(), True),
        T.StructField("variant_norm", T.StringType(), True),
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ontology", T.StringType(), True),
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("covered_text", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField(
            "evidence",
            T.StructType(
                [
                    T.StructField("begin", T.IntegerType(), True),
                    T.StructField("end", T.IntegerType(), True),
                    T.StructField("text", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

#: concept → component representative (canon's broadcast side)
COMPONENTS = T.StructType(
    [
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("component", T.StringType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_key", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("n_triples", T.LongType(), True),
        T.StructField("run_date", T.TimestampType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("component_at_fault", T.StringType(), True),
    ]
)

EVAL = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("outcome", T.StringType(), False),
        T.StructField("concept_id", T.StringType(), True),
        T.StructField("begin", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)


def local_frame(
    spark: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    """DataFrame over driver-side *rows*, built through a pyarrow Table.

    Spark turns the Arrow table into a ``LocalRelation`` held by the JVM,
    so no Python worker ever reads the frame.  ``createDataFrame(list)``
    would instead store a pickled Python RDD that every consuming stage
    unpickles in Python worker tasks, each with a fixed per-task cost.
    The pyarrow route has no silent fallback (the pandas route drops to
    the pickled path when Arrow conversion fails): a value that does not
    fit *schema*, e.g. a None in a non-nullable column, raises.  Pass
    timestamps timezone-aware: pyarrow reads a naive one as UTC."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
