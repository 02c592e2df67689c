"""The reference's UDF surface (SURVEY.md §2.3) on public PySpark.

- ``ots_col_parser`` — re-exported from sources.cdc (pure Column
  expression; the reference ships five Hive-UDF type overloads,
  ResolveTableStoreBinlogUDF.scala:29-91 — Spark needs one).
- ``from_dts_record`` — the FromDTSAvroUDF UDTF equivalent
  (FromDTSAvroUDF.scala:42-120): decodes a CDC wire record into
  (recordID, source, dbTable, recordType, recordTimestamp, extraTags,
  fields, beforeImages, afterImages). The reference's wire format is
  DTS Avro; this container has no spark-avro jar, so the wire here is
  JSON with the same logical schema — the decode surface (one binary/
  string column in, 9 typed columns out) is identical, and from_avro
  slots in where available.
- ``logistic_regression_score`` — LogisticRegressionUDF.scala:36-130
  scores rows with a Spark-ML LR model loaded from parquet; here a
  vectorized pandas UDF over the embedding column with explicit
  (coefficients, intercept) — the Arrow-batched scoring path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from aliyun_emapreduce_datasources_spark.similarity.score import _matrix
from aliyun_emapreduce_datasources_spark.sources.cdc import ots_col_parser  # noqa: F401

__all__ = ["ots_col_parser", "DTS_RECORD_SCHEMA", "from_dts_record", "make_lr_scorer", "load_lr_model"]


DTS_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("recordID", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("dbTable", T.StringType()),
        T.StructField("recordType", T.StringType()),
        T.StructField("recordTimestamp", T.TimestampType()),
        T.StructField("extraTags", T.StringType()),
        T.StructField("fields", T.StringType()),
        T.StructField("beforeImages", T.StringType()),
        T.StructField("afterImages", T.StringType()),
    ]
)


def from_dts_record(value: str | Column) -> Column:
    """Decode one CDC wire record (JSON transport) into the 9-field
    DTS record struct — select `decoded.*` to explode it, matching the
    UDTF's multi-column output (FromDTSAvroUDF.scala:76-97)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.from_json(v, DTS_RECORD_SCHEMA)


def load_lr_model(spark, model_path: str) -> tuple[list[float], float]:
    """Load (coefficients, intercept) from a one-row parquet model dir
    (the ParquetFormatModelLoader shape: Spark-ML LR models persist
    coefficients+intercept in a parquet data file)."""
    row = spark.read.parquet(model_path).head()
    if row is None:
        raise ValueError(
            f"LR model at {model_path!r} is empty — expected one row "
            "with (coefficients, intercept)"
        )
    return list(row["coefficients"]), float(row["intercept"])


def make_lr_scorer(coefficients: list[float], intercept: float):
    """Vectorized LR scorer: array<float|double> features -> prob.

    Arrow-batched pandas UDF (the 10-100x-over-row-UDF path); the
    per-batch work is one numpy matmul.
    """
    coef = np.asarray(coefficients, dtype=np.float64)

    @pandas_udf(T.DoubleType())
    def score(features: pd.Series) -> pd.Series:
        # null feature arrays score as NaN instead of crashing the
        # whole task inside np.vstack with an opaque error
        mask = features.notna()
        out = np.full(len(features), np.nan)
        if mask.any():
            mat = _matrix(features[mask])
            z = mat @ coef + intercept
            out[mask.to_numpy()] = 1.0 / (1.0 + np.exp(-z))
        return pd.Series(out)

    return score


def score_dataframe(df: DataFrame, features_col: str, coefficients: list[float], intercept: float) -> DataFrame:
    """(df + prob + pred_class) — the Logistic_Regression UDF call shape."""
    scorer = make_lr_scorer(coefficients, intercept)
    return df.withColumn("prob", scorer(F.col(features_col))).withColumn(
        "pred_class", (F.col("prob") >= 0.5).cast("long")
    )
