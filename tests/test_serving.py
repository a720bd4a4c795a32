"""The webapp-analogue serving surface (serving.py): artifact load →
single + batch prediction over a stdlib HTTP JSON API, asserted
against the direct batch path so the served numbers cannot drift."""

from __future__ import annotations

import json
import random
import threading
import urllib.request

import pytest

from pyspark.ml import Pipeline
from pyspark.ml.feature import OneHotEncoder, StringIndexer
from pyspark.sql import functions as F

from realestate_engine.features import CATEGORICAL_FEATURES, FeatureEngineering, add_derived_features
from realestate_engine.predict import listing_frame, predict_batch
from realestate_engine.schemas import LISTINGS_SCHEMA
from realestate_engine.serving import PredictionService, serve
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer

_TYPES = ["apartment", "house", "villa", "land"]
_CATS = ["A", "B", "C", "D"]
_EXPO = ["north", "south", "east", "west"]


def _listing(i: int, rng: random.Random) -> tuple:
    rec = {
        "id_annonce": i,
        "property_type": _TYPES[i % 4],
        "approximate_latitude": 48.0 + rng.random(),
        "approximate_longitude": 2.0 + rng.random(),
        "city": f"city{i % 10}",
        "postal_code": 75000 + i % 100,
        "size": 20.0 + 200.0 * rng.random(),
        "floor": i % 6,
        "land_size": 500.0 * rng.random() if i % 4 in (1, 2) else None,
        "energy_performance_value": 50.0 + 300.0 * rng.random(),
        "energy_performance_category": _CATS[i % 4],
        "ghg_value": 5.0 + 50.0 * rng.random(),
        "ghg_category": _CATS[(i + 1) % 4],
        "exposition": _EXPO[i % 4],
        "nb_rooms": 1 + i % 7,
        "nb_bedrooms": i % 4,
        "nb_bathrooms": i % 3,
        "nb_parking_places": i % 2,
        "nb_boxes": i % 2,
        "nb_photos": i % 12,
        "has_a_balcony": float(i % 2),
        "nb_terraces": float(i % 3),
        "has_a_cellar": float(i % 2),
        "has_a_garage": float((i + 1) % 2),
        "has_air_conditioning": float(i % 5 == 0),
        "last_floor": float(i % 6 == 5),
        "upper_floors": float(i % 6),
    }
    return tuple(rec.get(f.name) for f in LISTINGS_SCHEMA.fields)


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    rng = random.Random(11)
    x = spark.createDataFrame([_listing(i, rng) for i in range(300)], LISTINGS_SCHEMA)
    y = x.select(
        "id_annonce",
        (F.col("size") * 3000.0 + F.col("nb_rooms") * 20000.0 + 50000.0).alias("price"),
    )
    joined = x.join(y, "id_annonce")
    fe = FeatureEngineering(strict_mode=True)
    feats = fe.fit_transform(joined)
    tt = TargetTransformer().fit(feats)
    trainer = ModelTrainer(model_type="rf", label_col="log_price").train(tt.transform(feats))
    root = tmp_path_factory.mktemp("artifacts")
    fe.save(str(root / "fe"))
    tt.save(str(root / "tt.json"))
    trainer.save(str(root / "model"))
    return PredictionService.load(spark, str(root)), x


def test_single_matches_batch_path(service):
    svc, x = service
    rec = x.filter(F.col("id_annonce") == 3).first().asDict()
    got = svc.single(rec)
    direct = predict_batch(
        x.filter(F.col("id_annonce") == 3), svc.fe, svc.trainer, svc.tt
    ).first()
    assert got["id_annonce"] == 3
    assert got["predicted_price"] == round(direct["predicted_price"], 2)
    # the unrounded price of the driver-local plan is the executors' price
    unrounded = svc.batch_df(listing_frame(svc.spark, rec)).first()["predicted_price"]
    assert unrounded == direct["predicted_price"]


def test_single_runs_no_spark_job(service, count_jobs):
    """A request is answered on the driver: the 1-row input is a
    LocalRelation and ConvertToLocalRelation folds the whole prediction
    plan into one LocalTableScan, which collects without a job."""
    svc, x = service
    rec = x.filter(F.col("id_annonce") == 5).first().asDict()
    jobs, got = count_jobs(lambda: svc.single(rec))
    assert jobs == 0
    assert got["id_annonce"] == 5 and got["predicted_price"] > 0
    plan = svc.batch_df(listing_frame(svc.spark, rec))._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "LocalTableScan"


def test_batch_plan_methods_stay_jit_compilable(service):
    """HotSpot never JIT-compiles a method over 8000 bytes of bytecode.
    The serve-time batch plan is one whole-stage-codegen stage; with the
    indexer's row filter repeating every category clamp it crossed that
    limit and batch scoring ran at half speed."""
    svc, x = service
    plan = svc.batch_df(x)._jdf.queryExecution().executedPlan()
    stages = svc.spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
    assert sizes and max(sizes) < 8000


def _strict_fe(svc, x, nine_stages: bool) -> FeatureEngineering:
    """A strict fit on the service's training listings: the 3-stage
    encoder, or the layout artifacts were saved with before it — a
    StringIndexer and a OneHotEncoder per categorical column, then the
    same assembler."""
    fe = FeatureEngineering(strict_mode=True)
    fe.capping_values = dict(svc.fe.capping_values)
    train = fe.apply_capping(add_derived_features(fe.impute(x)))
    pipeline = fe._build_pipeline(train)
    if nine_stages:
        stages = []
        for c in CATEGORICAL_FEATURES:
            stages += [
                StringIndexer(inputCol=c, outputCol=f"{c}_indexed", handleInvalid="skip"),
                OneHotEncoder(
                    inputCols=[f"{c}_indexed"], outputCols=[f"{c}_encoded"], dropLast=True, handleInvalid="error"
                ),
            ]
        pipeline = Pipeline(stages=stages + pipeline.getStages()[-1:])
    fe.pipeline_model = pipeline.fit(train)
    return fe


def _unseen(x):
    """Known listings plus three whose categories the fit never saw
    (an unseen label, a null, both at once)."""
    base = x.filter(F.col("id_annonce") < 3)
    odd = base.withColumns({
        "id_annonce": F.col("id_annonce") + 1000,
        "property_type": F.when(F.col("id_annonce") != 1, F.lit("chateau")),
        "exposition": F.when(F.col("id_annonce") != 0, F.lit(None).cast("string")).otherwise("north"),
    })
    return base.unionByName(odd)


def test_three_stage_encoder_equals_nine_stage_layout(service):
    """Every category in the fixture is tied in frequency (75 rows
    each), so both layouts must break ties the same way; both skip the
    rows holding an unseen or null category."""
    svc, x = service
    new, old = _strict_fe(svc, x, nine_stages=False), _strict_fe(svc, x, nine_stages=True)
    assert len(new.pipeline_model.stages) == 3 and len(old.pipeline_model.stages) == 9
    scored = _unseen(x).unionByName(x.filter(F.col("id_annonce") >= 3))

    def features(fe):
        return {r["id_annonce"]: r["features"].toArray().tolist() for r in fe.transform(scored).collect()}

    new_features = features(new)
    assert new_features == features(old)
    assert sorted(new_features) == list(range(300))

    def prices(fe):
        return {r["id_annonce"]: r["predicted_price"] for r in predict_batch(scored, fe, svc.trainer, svc.tt).collect()}

    assert prices(new) == prices(old)


def test_service_loads_nine_stage_artifacts(service, tmp_path):
    """Artifacts saved with one indexer per column still load, clamp
    unseen and null categories, and answer exactly as the 3-stage fit."""
    svc, x = service
    _strict_fe(svc, x, nine_stages=True).save(str(tmp_path / "fe"))
    svc.tt.save(str(tmp_path / "tt.json"))
    svc.trainer.save(str(tmp_path / "model"))
    old = PredictionService.load(svc.spark, str(tmp_path))
    assert set(old._clamps) == set(CATEGORICAL_FEATURES)
    for row in _unseen(x).collect():
        rec = row.asDict()
        assert old.single(rec) == svc.single(rec)


def test_batch_audit_single_pass(service):
    svc, x = service
    audit = svc.batch_audit(x)
    assert audit["n_rows"] == 300
    # land_size is null for half the generator's rows; non-null cols absent
    assert audit["null_counts"].get("land_size", 0) == 150
    assert "size" not in audit["null_counts"]


def test_http_api_end_to_end(service, tmp_path):
    svc, x = service
    server = serve(svc, port=0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            assert json.load(r) == {"status": "ok"}

        rng = random.Random(11)
        rec = {f.name: v for f, v in zip(LISTINGS_SCHEMA.fields, _listing(0, rng))}
        req = urllib.request.Request(
            f"{base}/predict",
            data=json.dumps(rec).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            single = json.load(r)
        assert single["id_annonce"] == 0 and single["predicted_price"] > 0

        # batch: round-trip 20 listings through CSV text
        sub = x.filter(F.col("id_annonce") < 20)
        csv_dir = tmp_path / "csv"
        sub.coalesce(1).write.option("header", "true").mode("overwrite").csv(str(csv_dir))
        csv_text = next(csv_dir.glob("part-*.csv")).read_text()
        req = urllib.request.Request(f"{base}/predict_batch", data=csv_text.encode())
        with urllib.request.urlopen(req, timeout=120) as r:
            batch = json.load(r)
        assert batch["audit"]["n_rows"] == 20
        assert len(batch["predictions"]) == 20
        assert {p["id_annonce"] for p in batch["predictions"]} == set(range(20))
        assert all(p["predicted_price"] > 0 for p in batch["predictions"])

        # the form's JS serialises 50.0 as 50: a whole number for a
        # double field is the same listing; a fraction for an integer
        # field is refused instead of truncated
        def post(**over) -> dict:
            body = json.dumps({**rec, **over}).encode()
            with urllib.request.urlopen(urllib.request.Request(f"{base}/predict", data=body), timeout=120) as r:
                return json.load(r)

        assert post(size=50, land_size=0) == post(size=50.0, land_size=0.0)
        with pytest.raises(urllib.error.HTTPError) as ei:
            post(nb_rooms=2.5)
        assert ei.value.code == 400

        # malformed request → HTTP 400, server stays alive
        bad = urllib.request.Request(f"{base}/predict", data=b"not json")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad, timeout=30)
        assert ei.value.code == 400
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            assert json.load(r)["status"] == "ok"
    finally:
        server.shutdown()
        server.server_close()


def test_form_page_serves_and_default_submission_predicts(service):
    """GET / returns the interactive form with the reference webapp's
    exact fields and option lists; POSTing the form's default payload
    (what the inline JS assembles) yields a prediction."""
    from realestate_engine.serving import _CATS, _NUMS, render_form_page

    svc, _x = service
    server = serve(svc, port=0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/", timeout=30) as r:
            assert r.headers["Content-Type"].startswith("text/html")
            html = r.read().decode()
        assert html == render_form_page()
        for name in list(_CATS) + [n for n, *_ in _NUMS]:
            assert f'name="{name}"' in html
        for opt in _CATS["exposition"]:
            assert f"<option>{opt}</option>" in html
        # the payload the page's JS builds from untouched defaults
        payload = {
            "energy_performance_value": None, "ghg_value": None,
            "nb_parking_places": 0, "nb_boxes": 0, "nb_photos": 0,
            "property_type": "maison", "energy_performance_category": "A",
            "ghg_category": "A", "exposition": "Nord",
        }
        for name, _label, default, _step in _NUMS:
            payload[name] = default
        req = urllib.request.Request(f"{base}/predict", data=json.dumps(payload).encode())
        with urllib.request.urlopen(req, timeout=120) as r:
            out = json.load(r)
        assert out["predicted_price"] > 0
    finally:
        server.shutdown()


def test_eda_report_distributed_figures(service, tmp_path):
    """The notebook-01 EDA set: every figure is a distributed aggregate
    rendered to well-formed SVG; histogram bar count matches the
    aggregate; output is deterministic."""
    from xml.etree import ElementTree

    from realestate_engine.plotting import eda_report

    _svc, x = service
    df = x.withColumn("price", F.col("size") * 3000.0 + F.col("nb_rooms") * 20000.0 + 50000.0)
    out1 = tmp_path / "eda1"
    paths = eda_report(df, str(out1))
    names = {p.rsplit("/", 1)[-1] for p in paths}
    assert {
        "missing_values.svg", "price_distribution.svg", "price_distribution_log.svg",
        "geographic_distribution.svg", "correlation_matrix.svg",
        "distribution_property_type.svg", "avg_price_by_property_type.svg",
    } <= names
    for p in paths:
        root = ElementTree.parse(p).getroot()
        assert root.tag.endswith("svg")
    # histogram carries one rect per bin + the surface rect
    hist = ElementTree.parse(str(out1 / "price_distribution.svg")).getroot()
    rects = [e for e in hist.iter() if e.tag.endswith("rect")]
    assert len(rects) == 51
    # correlation heatmap: (1 + numerics)^2 annotated cells, values in [-1, 1]
    heat = ElementTree.parse(str(out1 / "correlation_matrix.svg")).getroot()
    cells = [e for e in heat.iter() if e.tag.endswith("rect")][1:]
    texts = [e.text for e in heat.iter() if e.tag.endswith("text") and e.text and "." in e.text]
    assert len(cells) == 49
    assert all(-1.0 <= float(t) <= 1.0 for t in texts if t.replace("-", "").replace(".", "").isdigit())
    # determinism: a second run renders byte-identical SVGs
    out2 = tmp_path / "eda2"
    eda_report(df, str(out2))
    assert (out1 / "correlation_matrix.svg").read_text() == (out2 / "correlation_matrix.svg").read_text()
