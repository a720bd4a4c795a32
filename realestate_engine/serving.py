"""Interactive prediction surface — the engine-side analogue of the
reference's Streamlit webapp (src/webapp/app.py:1-308), re-expressed
as a dependency-free service layer + stdlib HTTP JSON API + an
interactive HTML form page (GET /) with the same fields, option
lists, and defaults as the Streamlit form.

The reference ships a Streamlit UI with two modes: single prediction
(form → dict → price) and batch prediction (CSV upload → a
per-column null audit + (id_annonce, prediction_price) CSV). This
module provides the same two operations behind:

- ``PredictionService`` — artifact loading + request handling, usable
  from any UI or notebook;
- ``serve()`` — a zero-dependency ``http.server`` JSON API
  (GET /health, POST /predict, POST /predict_batch) for the
  container-without-streamlit case. The SparkSession, fitted
  features, target stats and model are loaded once per process, like
  the reference's ``@st.cache_resource`` ``init_resources``
  (app.py:28-45).

A single request launches NO Spark job: its ``LocalRelation`` row
(``predict.listing_frame``) lets Catalyst's ``ConvertToLocalRelation`` fold
the whole batch plan into one driver-side ``LocalTableScan``. With that rule
in ``spark.sql.optimizer.excludedRules`` each request runs a job instead.

Fidelity notes vs the reference webapp:
- the batch-mode data-quality report (app.py:74-101) ran ONE count()
  job per column in a Python loop; ``batch_audit`` computes the same
  numbers in a single aggregate pass (the 100 TB shape);
- predictions come back smearing-corrected in price space via the
  same inverse-transform path as the CLI/batch entry points — there
  is no webapp-only code path to drift.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any

from pyspark.ml.feature import StringIndexerModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_engine.features import _CATEGORICAL_FILL, FeatureEngineering
from realestate_engine.predict import listing_frame, predict_batch
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer


class PredictionService:
    """Loaded-once inference resources + the two webapp operations.

    ``artifact_dir`` layout is the one ``cli.py train`` writes:
    ``fe/`` (feature pipeline + params), ``tt.json`` (target stats),
    ``model/`` (Spark ML model). Features load in PERMISSIVE mode:
    unseen or null categories at serve time are clamped to the fitted
    vocabulary (see _clamp_unseen) so every request yields a
    prediction instead of a silently dropped row (reference app.py
    loads permissively via ModelTrainer.load_model)."""

    def __init__(
        self,
        spark: SparkSession,
        fe: FeatureEngineering,
        trainer: ModelTrainer,
        tt: TargetTransformer,
    ):
        self.spark = spark
        self.fe = fe
        self.trainer = trainer
        self.tt = tt
        self._clamps = self._clamp_exprs()

    @classmethod
    def load(cls, spark: SparkSession, artifact_dir: str) -> "PredictionService":
        fe = FeatureEngineering.load(os.path.join(artifact_dir, "fe"))
        fe.strict_mode = False  # permissive at serve time
        tt = TargetTransformer.load(os.path.join(artifact_dir, "tt.json"))
        trainer = ModelTrainer.load(os.path.join(artifact_dir, "model"))
        return cls(spark, fe, trainer, tt)

    # -- serve-time category clamp ---------------------------------------

    def _clamp_exprs(self) -> dict[str, Column]:
        """Serve-time guard: 'skip' (strict training) would DROP a row with
        an unseen category and 'keep' would widen the one-hot, so each
        categorical is clamped to its fitted labels (unseen or null → the
        imputation fill if fitted, else the most frequent label), read from
        ``inputCols`` and older per-column ``inputCol`` indexers alike.
        Clamped input is always in vocabulary, so 'skip' becomes 'error'
        (same width): its row filter repeated every clamp and pushed the
        batch stage's generated method past the JVM's 8000-byte JIT limit."""
        if self.fe.strict_mode or self.fe.pipeline_model is None:
            return {}
        clamps = {}
        for stage in self.fe.pipeline_model.stages:
            if isinstance(stage, StringIndexerModel):
                if stage.getHandleInvalid() == "skip":
                    stage.setHandleInvalid("error")
                cols = stage.getInputCols() if stage.isSet(stage.inputCols) else [stage.getInputCol()]
                for col, labels in zip(cols, stage.labelsArray):
                    fallback = _CATEGORICAL_FILL if _CATEGORICAL_FILL in labels else labels[0]
                    clamps[col] = F.when(F.col(col).isin(labels), F.col(col)).otherwise(F.lit(fallback))
        return clamps

    def _clamp_unseen(self, df: DataFrame) -> DataFrame:
        return df.withColumns({c: e for c, e in self._clamps.items() if c in df.columns})

    # -- single prediction (app.py predict_single, :52-66) --------------

    def single(self, record: dict[str, Any]) -> dict[str, Any]:
        row = self.batch_df(listing_frame(self.spark, record)).first()
        if row is None:
            raise ValueError("prediction pipeline produced no row for this record")
        return {
            "id_annonce": row["id_annonce"],
            "predicted_price": round(float(row["predicted_price"]), 2),
        }

    # -- batch prediction + audit (app.py predict_batch, :68-112) -------

    def batch_df(self, listings: DataFrame) -> DataFrame:
        return predict_batch(self._clamp_unseen(listings), self.fe, self.trainer, self.tt)

    def batch_audit(self, listings: DataFrame) -> dict[str, Any]:
        """The webapp's data-quality report as ONE aggregate job:
        row count + per-column null counts (the reference looped a
        count() job per column, app.py:89-92)."""
        aggs = [F.count(F.lit(1)).alias("_rows")] + [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(c)
            for c in listings.columns
        ]
        row = listings.agg(*aggs).first().asDict()
        n = row.pop("_rows")
        return {"n_rows": n, "null_counts": {c: v for c, v in row.items() if v}}

    def batch_csv(self, csv_path: str) -> tuple[list[dict[str, Any]], dict[str, Any]]:
        """CSV in → (predictions, audit), the full upload flow."""
        from realestate_engine.schemas import LISTINGS_SCHEMA

        listings = self.spark.read.schema(LISTINGS_SCHEMA).option("header", "true").csv(csv_path)
        audit = self.batch_audit(listings)
        preds = [
            {"id_annonce": r["id_annonce"], "predicted_price": round(float(r["predicted_price"]), 2)}
            for r in self.batch_df(listings).collect()
        ]
        return preds, audit


def serve(service: PredictionService, host: str = "127.0.0.1", port: int = 0):
    """Zero-dependency HTTP JSON API over a PredictionService.

    Routes:
    - ``GET  /`` (or /form)    → the interactive HTML form UI
    - ``GET  /health``         → {"status": "ok"}
    - ``POST /predict``        → body: one listing as a JSON object
    - ``POST /predict_batch``  → body: CSV text (same columns as
      X_test.csv, header row required) → {"predictions": [...],
      "audit": {...}}

    Returns the (not yet started) ``ThreadingHTTPServer``; call
    ``serve_forever()`` (or run it in a thread, as the tests do). Port
    0 binds an ephemeral port — read it from ``server.server_address``.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # quiet test logs
            pass

        def do_GET(self) -> None:
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            elif self.path in ("/", "/form"):
                body = render_form_page().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self._send(404, {"error": f"no route {self.path}"})

        def do_POST(self) -> None:
            length = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(length)
            try:
                if self.path == "/predict":
                    self._send(200, service.single(json.loads(raw)))
                elif self.path == "/predict_batch":
                    with tempfile.NamedTemporaryFile(
                        suffix=".csv", delete=False, mode="wb"
                    ) as f:
                        f.write(raw)
                        tmp = f.name
                    try:
                        preds, audit = service.batch_csv(tmp)
                    finally:
                        os.unlink(tmp)
                    self._send(200, {"predictions": preds, "audit": audit})
                else:
                    self._send(404, {"error": f"no route {self.path}"})
            except Exception as e:  # noqa: BLE001 - surface as HTTP 400, don't kill the server
                self._send(400, {"error": str(e)})

    return ThreadingHTTPServer((host, port), Handler)


# --- Interactive form UI (the reference webapp's single+batch modes) ---------

_CATS = {
    "property_type": ["maison", "appartement"],
    "energy_performance_category": ["A", "B", "C", "D", "E", "F", "G", "Unknown"],
    "ghg_category": ["A", "B", "C", "D", "E", "F", "G", "Unknown"],
    "exposition": [
        "Nord", "Sud", "Est", "Ouest", "Nord-Est", "Nord-Ouest",
        "Sud-Est", "Sud-Ouest", "Unknown",
    ],
}
# (field, label, default, step) — the reference form's numeric inputs
# with its defaults (app.py:187-265)
_NUMS = [
    ("size", "Surface (m²)", 50.0, "0.1"),
    ("nb_rooms", "Nombre de pièces", 2, "1"),
    ("nb_bedrooms", "Nombre de chambres", 1, "1"),
    ("floor", "Étage", 0, "1"),
    ("land_size", "Surface du terrain (m²)", 0.0, "0.1"),
    ("nb_bathrooms", "Nombre de salles de bain", 1, "1"),
    ("approximate_latitude", "Latitude", 48.8566, "0.0001"),
    ("approximate_longitude", "Longitude", 2.3522, "0.0001"),
]
_INT_FIELDS = {"floor", "nb_rooms", "nb_bedrooms", "nb_bathrooms", "nb_parking_places", "nb_boxes", "nb_photos"}


def render_form_page() -> str:
    """The single+batch prediction form as one dependency-free HTML
    page — the engine-side stand-in for the reference's Streamlit UI
    (app.py:175-300): same fields, same option lists, same defaults,
    same hidden defaults for the untyped extras; submits JSON to
    /predict and CSV text to /predict_batch with inline fetch()."""
    selects = "".join(
        f'<label>{name}<select name="{name}">'
        + "".join(f"<option>{o}</option>" for o in opts)
        + "</select></label>"
        for name, opts in _CATS.items()
    )
    nums = "".join(
        f'<label>{label}<input type="number" name="{name}" value="{default}" step="{step}"></label>'
        for name, label, default, step in _NUMS
    )
    int_fields = json.dumps(sorted(_INT_FIELDS))
    return f"""<!doctype html><html><head><meta charset="utf-8">
<title>realestate_engine — estimation</title>
<style>body{{font-family:sans-serif;max-width:42rem;margin:2rem auto}}
label{{display:block;margin:.4rem 0}}select,input,textarea{{margin-left:.5rem}}
#out,#bout{{font-weight:bold;margin-top:1rem;white-space:pre-wrap}}</style></head><body>
<h1>Estimation du prix</h1>
<form id="f" onsubmit="return false">{selects}{nums}
<button id="go">Calculer l'estimation</button></form><div id="out"></div>
<h2>Prédiction par lot (CSV)</h2>
<textarea id="csv" rows="6" cols="70" placeholder="colonnes de X_test.csv, en-tête requis"></textarea>
<br><button id="bgo">Prédire le lot</button><div id="bout"></div>
<script>
const INT_FIELDS = new Set({int_fields});
const EXTRA_DEFAULTS = {{energy_performance_value: null, ghg_value: null,
  nb_parking_places: 0, nb_boxes: 0, nb_photos: 0}};
document.getElementById("go").onclick = async () => {{
  const data = {{...EXTRA_DEFAULTS}};
  for (const el of document.getElementById("f").elements) {{
    if (!el.name) continue;
    data[el.name] = el.type === "number"
      ? (INT_FIELDS.has(el.name) ? parseInt(el.value) : parseFloat(el.value))
      : el.value;
  }}
  const r = await fetch("/predict", {{method: "POST", body: JSON.stringify(data)}});
  const j = await r.json();
  document.getElementById("out").textContent = r.ok
    ? `Prix estimé : ${{j.predicted_price.toLocaleString()}} €` : `Erreur : ${{j.error}}`;
}};
document.getElementById("bgo").onclick = async () => {{
  const r = await fetch("/predict_batch", {{method: "POST",
    body: document.getElementById("csv").value}});
  const j = await r.json();
  document.getElementById("bout").textContent = r.ok
    ? JSON.stringify(j, null, 2) : `Erreur : ${{j.error}}`;
}};
</script></body></html>"""
