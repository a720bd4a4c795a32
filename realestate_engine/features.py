"""Feature engineering for the real-estate domain (SURVEY.md §2.9 M1-M5,
§2.8 F1-F8; reference: src/features/feature_engineering.py).

Semantics reproduced, scale bugs fixed:

- strict/permissive imputation defaults (reference :49-67,83-91);
- haversine distance-to-Eiffel, guarded rooms_per_m2, is_house flag,
  log features (reference :94-148);
- quantile capping — ONE multi-column approxQuantile call instead of
  the reference's 11 sequential per-column jobs (:217-220);
- capping clamp via least/greatest instead of a when-chain (:171-180);
- StringIndexer → OneHotEncoder → VectorAssembler pipeline (:226-268),
  as one multi-column stage each instead of a pair per column;
- fit-state persistence as JSON + Spark ML pipeline save/load
  (:295-340).

Deviation B2 (SURVEY §8): ``price_per_m2`` is added as an explicit
train-only analytics column (the reference checks for it but never
builds it).

Deviation B3 (documented, intentional): ``is_house`` counts
``property_type`` in {'house', 'villa', 'maison'} — the reference
(src/features/feature_engineering.py:125) uses only {'house',
'villa'}. The synthetic and the reference's French-market data both
carry 'maison' rows; the reference flags them 0.0, which its own
notebook (notebooks/02) treats as a data-quality wart. We keep the
broader set and pin it in tests/test_features.py.

Deviation B4 (documented, intentional): categorical nulls fill with
'missing' — the reference (:91) fills 'unknown'. A constant sentinel
is semantically equivalent through StringIndexer/OneHotEncoder (it
becomes one category either way); 'missing' is kept because it cannot
collide with a real 'unknown' category value in the wild. Pinned in
tests/test_features.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler

from realestate_engine.queries_functions import EIFFEL_LAT, EIFFEL_LON, haversine_km

CATEGORICAL_FEATURES = ["property_type", "energy_performance_category", "ghg_category", "exposition"]
NUMERIC_FEATURES = [
    "approximate_latitude",
    "approximate_longitude",
    "size",
    "floor",
    "land_size",
    "energy_performance_value",
    "ghg_value",
    "nb_rooms",
    "nb_bedrooms",
    "nb_bathrooms",
    "nb_parking_places",
    "nb_boxes",
    "nb_photos",
]
DERIVED_FEATURES = ["distance_to_eiffel", "rooms_per_m2", "is_house", "log_size", "log_land_size"]
CAPPED_COLUMNS = ["size", "land_size", "nb_rooms", "nb_bedrooms", "nb_bathrooms", "floor", "nb_photos"]

# Imputation defaults (reference :49-67): strict mode fills numerics
# with 0 and categoricals with 'missing'; permissive (inference) mode
# additionally tolerates unseen categories via handleInvalid='keep'.
_NUMERIC_FILL = 0.0
_CATEGORICAL_FILL = "missing"


def add_derived_features(df: DataFrame) -> DataFrame:
    """All derived columns as native expressions in one projection."""
    size_ok = F.col("size").isNotNull() & (F.col("size") > 0)
    land_ok = F.col("land_size").isNotNull() & (F.col("land_size") > 0)
    rooms_ok = size_ok & F.col("nb_rooms").isNotNull()
    has_geo = F.col("approximate_latitude").isNotNull() & F.col("approximate_longitude").isNotNull()
    eiffel_km = haversine_km(F.col("approximate_latitude"), F.col("approximate_longitude"), EIFFEL_LAT, EIFFEL_LON)
    return df.withColumns({
        "distance_to_eiffel": F.when(has_geo, eiffel_km).otherwise(F.lit(0.0)),
        "rooms_per_m2": F.when(rooms_ok, F.col("nb_rooms") / F.col("size")).otherwise(F.lit(0.0)),
        "is_house": F.when(F.col("property_type").isin("house", "villa", "maison"), 1.0).otherwise(0.0),
        "log_size": F.when(size_ok, F.log(F.col("size"))).otherwise(F.lit(0.0)),
        "log_land_size": F.when(land_ok, F.log(F.col("land_size"))).otherwise(F.lit(0.0)),
    })


def add_price_per_m2(df: DataFrame) -> DataFrame:
    """Train-only analytics column (deviation B2 — intended but never
    built in the reference, notebooks/02:111)."""
    ok = F.col("size").isNotNull() & (F.col("size") > 0) & F.col("price").isNotNull()
    return df.withColumn("price_per_m2", F.when(ok, F.col("price") / F.col("size")).otherwise(F.lit(None)))


class FeatureEngineering:
    """Fit/transform feature pipeline with persisted fit state.

    strict_mode=True  → training: unseen categories error-skip.
    strict_mode=False → inference: unseen categories kept (reference
    src/models/train.py:210 reconstructs in permissive mode).
    """

    def __init__(self, strict_mode: bool = True):
        self.strict_mode = strict_mode
        self.capping_values: dict[str, tuple[float, float]] = {}
        self.pipeline_model: PipelineModel | None = None

    # -- imputation (reference :83-91) ------------------------------------
    def impute(self, df: DataFrame) -> DataFrame:
        fills = {c: _NUMERIC_FILL for c in NUMERIC_FEATURES if c in df.columns}
        fills.update({c: _CATEGORICAL_FILL for c in CATEGORICAL_FEATURES if c in df.columns})
        return df.na.fill(fills)

    # -- capping (reference :152-180; fixed to ONE quantile job) ----------
    def fit_capping(self, df: DataFrame, cols: list[str] | None = None) -> None:
        cols = [c for c in (cols or CAPPED_COLUMNS) if c in df.columns]
        # one multi-column GK-sketch job, not len(cols) sequential jobs
        quantiles = df.approxQuantile(cols, [0.01, 0.99], 0.01)
        self.capping_values = {c: (q[0], q[1]) for c, q in zip(cols, quantiles)}

    def apply_capping(self, df: DataFrame) -> DataFrame:
        return df.withColumns({
            c: F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
            for c, (lo, hi) in self.capping_values.items()
            if c in df.columns
        })

    # -- encoder pipeline (reference :226-268) -----------------------------
    def _build_pipeline(self, df: DataFrame) -> Pipeline:
        """One multi-column indexer (one counting job at fit), one
        multi-column encoder, one assembler: the same vectors as a pair
        per column (labels by frequency, ties alphabetically, both ways)."""
        cats = [c for c in CATEGORICAL_FEATURES if c in df.columns]
        indexed = [f"{c}_indexed" for c in cats]
        encoded = [f"{c}_encoded" for c in cats]
        feature_cols = (
            [c for c in NUMERIC_FEATURES if c in df.columns]
            + [c for c in DERIVED_FEATURES if c in df.columns]
            + encoded
        )
        return Pipeline(stages=[
            StringIndexer(inputCols=cats, outputCols=indexed, handleInvalid="skip" if self.strict_mode else "keep"),
            OneHotEncoder(
                inputCols=indexed,
                outputCols=encoded,
                dropLast=True,
                handleInvalid="error" if self.strict_mode else "keep",
            ),
            VectorAssembler(inputCols=feature_cols, outputCol="features", handleInvalid="keep"),
        ])

    def fit_transform(self, df: DataFrame) -> DataFrame:
        df = self.impute(df)
        df = add_derived_features(df)
        self.fit_capping(df)
        df = self.apply_capping(df)
        self.pipeline_model = self._build_pipeline(df).fit(df)
        return self.pipeline_model.transform(df)

    def transform(self, df: DataFrame) -> DataFrame:
        if self.pipeline_model is None:
            raise RuntimeError("FeatureEngineering is not fitted; call fit_transform first")
        df = self.impute(df)
        df = add_derived_features(df)
        df = self.apply_capping(df)
        return self.pipeline_model.transform(df)

    # -- persistence (reference :295-340) ----------------------------------
    def save(self, path: str) -> None:
        if self.pipeline_model is None:
            raise RuntimeError("nothing to save: not fitted")
        self.pipeline_model.write().overwrite().save(os.path.join(path, "pipeline"))
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump(
                {
                    "strict_mode": self.strict_mode,
                    "capping_values": {c: list(v) for c, v in self.capping_values.items()},
                },
                f,
                indent=2,
            )

    @classmethod
    def load(cls, path: str) -> "FeatureEngineering":
        with open(os.path.join(path, "params.json")) as f:
            params = json.load(f)
        fe = cls(strict_mode=params["strict_mode"])
        fe.capping_values = {c: (v[0], v[1]) for c, v in params["capping_values"].items()}
        fe.pipeline_model = PipelineModel.load(os.path.join(path, "pipeline"))
        return fe
