"""Batch and single-row inference (SURVEY.md §2.9 M13; reference:
src/inference/predict.py:14-62, src/webapp/app.py:68-112).

Composition: FeatureEngineering.transform (permissive mode) → model
transform → smearing inverse → (id, predicted price). Single-row
prediction runs the same plan over a 1-row driver-local frame
(``listing_frame``) — no separate code path to drift."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.features import FeatureEngineering
from realestate_engine.schemas import LISTINGS_SCHEMA
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer


def predict_batch(
    df: DataFrame,
    fe: FeatureEngineering,
    trainer: ModelTrainer,
    tt: TargetTransformer,
    id_col: str = "id_annonce",
) -> DataFrame:
    """df(listings) → (id, predicted_price). Fully lazy: one plan, no
    intermediate actions (the reference ran 4 audit count() jobs per
    upload, src/webapp/app.py:74-101)."""
    feats = fe.transform(df)
    preds = trainer.predict(feats)
    out = tt.inverse_transform(preds, prediction_col="prediction")
    return out.select(F.col(id_col), F.col("prediction_price").alias("predicted_price"))


def listing_frame(spark: SparkSession, record: dict) -> DataFrame:
    """One listing (missing fields null) as a 1-row ``LocalRelation``. Arrow
    casts each value to its field type only when lossless: JSON ``50`` is
    50.0 for a double, ``2.5`` for an integer is an error."""
    import pyarrow as pa

    table = pa.Table.from_pylist([{f.name: record.get(f.name) for f in LISTINGS_SCHEMA.fields}])
    return spark.createDataFrame(table, LISTINGS_SCHEMA)


def predict_single(
    spark: SparkSession,
    record: dict,
    fe: FeatureEngineering,
    trainer: ModelTrainer,
    tt: TargetTransformer,
) -> DataFrame:
    """Single-row prediction through the batch path (reference:
    src/inference/predict.py:62 createDataFrame([dict], schema))."""
    return predict_batch(listing_frame(spark, record), fe, trainer, tt)
