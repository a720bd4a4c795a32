"""The two workloads. Each returns a ``Result`` with the end-to-end
figures, the failure accounting and, when traced, the per-layer ones.

``queries`` runs QUERY_SET through the query registry: one cold pass,
then warm passes until ``seconds`` have passed (at least
MIN_WARM_PASSES). Every execution collects its result with toPandas;
the cold results are checked against the DuckDB oracles and every warm
result must hash equal to its cold one. Query order is shuffled per
pass from the seed. The warm figure is, per query, the median over warm
passes, summed.

``predict`` is the reference pipeline: features, log-price target and a
random forest fitted on seeded listings, then closed-loop single-row
requests from one client thread and batch passes over every listing.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import datagen
import numpy as np
import stats
from tracing import SparkRest, Tracer, group_metrics

# Queries that between them use every layer: scan, join and aggregate
# (flagship, q21), cache_once and plan-heavy builds (minhash, sparse dot
# product, j6), a cache_once power iteration (pagerank) and an Arrow
# pandas operator that starts Python workers (PNG decode). All but the
# last are bench.py headline queries. The set is kept small because a
# run must fit about a minute, set-ups included.
QUERY_SET = [
    "flagship_revenue_by_nation",
    "tpch_q21_waiting_supplier",
    "dedup_minhash_lsh",
    "text_sparse_dot_pairs",
    "j6_spatial_grid_join",
    "graph_pagerank_trade",
    "mm_png_decode",
]
QUERY_SF = 0.01
MIN_WARM_PASSES = 3
LISTINGS = 20_000
SINGLE_WARMUP = 4
MIN_SINGLES = 12
BATCH_WARMUP = 3
BATCH_PASSES = 7


@dataclass
class Result:
    cold_s: float
    warm_s: float
    warm_samples: list[float]
    requests_ms: list[float]
    attempted: int = 0
    failed: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: Tracer

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_share"):
        return "share"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


LAYER_UNITS = {
    k: _unit(k)
    for k in (
        "build.s build.jobs plan.s exec.s exec.jobs exec.stages exec.tasks exec.run_s "
        "exec.cpu_s exec.gc_s exec.shuffle_read_mb exec.shuffle_write_mb exec.spill_mb "
        "exec.input_mb exec.idle_core_s python_udf.boot_s python_udf.init_s python_udf.run_s "
        "python_udf.sent_mb python_udf.recv_mb cache.storage_mb cache.rdds "
        "serving.single.jobs serving.single.exec_s serving.single.driver_s train.fit_s "
        "predict.batch_exec_s predict.batch_rows_per_s trace.overhead_share"
    ).split()
}


def _layers_zero() -> dict[str, float]:
    """Every per-layer metric; a layer a workload does not use reads 0."""
    return dict.fromkeys(LAYER_UNITS, 0.0)


def _exec_layers(m: dict[str, float], per: float, wall_s: float, cores: int) -> dict[str, float]:
    """Executor and Python-worker metrics from group_metrics totals,
    divided by ``per`` units of work that took ``wall_s`` in total."""
    g = lambda k: m.get(k, 0.0) / per  # noqa: E731
    out = {f"exec.{k}": g(k) for k in (
        "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
    )}
    out["exec.idle_core_s"] = cores * wall_s / per - g("run_s")
    for k in ("boot_s", "init_s", "run_s", "sent_mb", "recv_mb"):
        out[f"python_udf.{k}"] = g("py_" + k)
    return out


# -- queries ---------------------------------------------------------------


def run_queries(ctx: Ctx) -> Result:
    from realestate_engine.registry import ORACLES, QUERIES

    from verify import OracleChecker

    data = os.path.join(ctx.work, "data")
    datagen.write_tables(data, ctx.seed, QUERY_SF)
    rng = random.Random(ctx.seed)
    failures: dict[str, str] = {}
    attempts: dict[str, int] = dict.fromkeys(QUERY_SET, 0)
    spans_on = ctx.tracer.enabled

    def one(unit: str, name: str, traced: bool):
        tid = f"{unit}:{name}"
        attempts[name] += 1
        ctx.tracer.enabled = spans_on and traced
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("query", tid):
                ctx.group(f"{tid}:build")
                with ctx.tracer.span("build", tid):
                    df = QUERIES[name](ctx.spark, data)
                if traced:
                    ctx.group(f"{tid}:plan")
                    with ctx.tracer.span("plan", tid):
                        df._jdf.queryExecution().executedPlan()
                ctx.group(f"{tid}:exec")
                with ctx.tracer.span("exec", tid):
                    out = df.toPandas()
        except Exception as e:  # a failing query is recorded, the run goes on
            failures.setdefault(name, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
            out = None
        return time.perf_counter() - t0, out

    def run_pass(unit: str, traced: bool):
        order = list(QUERY_SET)
        rng.shuffle(order)
        t0 = time.perf_counter()
        per = {q: one(unit, q, traced) for q in order}
        return time.perf_counter() - t0, per

    rest = SparkRest(ctx.spark) if ctx.trace else None
    cache_trail: list[tuple[float, int]] = []
    cold_s, cold = run_pass("c", traced=ctx.trace)
    hashes = {q: stats.result_hash(out) for q, (_, out) in cold.items() if out is not None}
    if rest:
        cache_trail.append(rest.storage())

    warm, traced_walls, requests_ms = [], [], []
    warm_query: dict[str, list[float]] = {q: [] for q in QUERY_SET}
    traced_units: list[str] = []
    t_start = time.perf_counter()
    i = 0
    while i < MIN_WARM_PASSES * (1 + ctx.trace) or time.perf_counter() - t_start < ctx.seconds:
        # in a traced run, passes alternate untraced / traced so the
        # run can state its own tracing overhead
        traced = ctx.trace and i % 2 == 1
        unit = f"w{i}"
        wall, per = run_pass(unit, traced=traced)
        for q, (_, out) in per.items():
            if out is not None and q in hashes and stats.result_hash(out) != hashes[q]:
                failures.setdefault(q, f"pass {unit} result differs from the cold pass")
        if rest:
            cache_trail.append(rest.storage())
        if traced:
            traced_walls.append(wall)
            traced_units.append(unit)
        else:
            warm.append(wall)
            for q in QUERY_SET:
                warm_query[q].append(per[q][0])
            requests_ms += [per[q][0] * 1e3 for q in QUERY_SET if q not in failures]
        i += 1
    ctx.tracer.enabled = spans_on

    # correctness, outside the timed region
    checker = OracleChecker(
        ctx.root, data, datagen.TABLES, os.path.join(ctx.root, ".bench_work", "oracle"), ctx.cores
    )
    try:
        for q in QUERY_SET:
            got = cold[q][1]
            if q in failures or got is None:
                continue
            if q in ORACLES:
                problems = checker.check(got, ORACLES[q])
            else:
                problems = [] if len(got) else ["empty result"]
            if problems:
                failures[q] = "mismatch: " + "; ".join(problems)[:300]
    finally:
        checker.close()

    warm_s = sum(statistics.median(v) for v in warm_query.values())
    res = Result(cold_s=cold_s, warm_s=warm_s, warm_samples=warm, requests_ms=requests_ms)
    res.attempted = sum(attempts.values())
    res.failed = sum(attempts[q] for q in failures)
    res.failures = failures
    res.detail = {
        "queries": len(QUERY_SET),
        "sf": QUERY_SF,
        "warm_passes": len(warm),
        "cold_query_s": {q: round(cold[q][0], 4) for q in QUERY_SET},
        "warm_query_s": {q: round(statistics.median(v), 4) for q, v in warm_query.items()},
        "result_hash": hashes,
        "oracle_memo_hits": checker.memo_hits,
    }
    if ctx.trace:
        res.layers = _query_layers(ctx, rest, traced_units, traced_walls, warm, cache_trail)
        res.detail["cache_mb_per_pass"] = [round(mb, 3) for mb, _ in cache_trail]
    return res


def _query_layers(ctx, rest, units, traced_walls, untraced_walls, cache_trail) -> dict[str, float]:
    snap = rest.snapshot()
    n = len(units)
    unitset = set(units)
    in_units = lambda g: g.split(":", 1)[0] in unitset  # noqa: E731
    out = _layers_zero()
    out.update(_exec_layers(group_metrics(snap, in_units), n, sum(traced_walls), ctx.cores))
    build = group_metrics(snap, lambda g: in_units(g) and g.endswith(":build"))
    out["build.jobs"] = build.get("jobs", 0.0) / n
    for layer in ("build", "plan", "exec"):
        out[f"{layer}.s"] = sum(
            s["end"] - s["start"]
            for s in ctx.tracer.spans
            if s["name"] == layer and s["trace"].split(":", 1)[0] in unitset
        ) / n
    out["cache.storage_mb"], out["cache.rdds"] = cache_trail[-1]
    out["trace.overhead_share"] = statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
    return out


# -- predict ---------------------------------------------------------------


def run_predict(ctx: Ctx) -> Result:
    from realestate_engine.features import FeatureEngineering
    from realestate_engine.schemas import LISTINGS_SCHEMA
    from realestate_engine.serving import PredictionService
    from realestate_engine.target import TargetTransformer
    from realestate_engine.train import ModelTrainer

    pdf = datagen.listings(ctx.seed, LISTINGS)
    path = os.path.join(ctx.work, "listings.parquet")
    pdf.to_parquet(path, index=False)
    raw = ctx.spark.read.parquet(path)
    fields = [f.name for f in LISTINGS_SCHEMA.fields]
    x = raw.select(*fields)
    y = raw.select("id_annonce", "price")
    spans = ctx.tracer

    def fit(unit: str):
        ctx.group(f"{unit}:fit:exec")
        t0 = time.perf_counter()
        with spans.span("fit", unit):
            fe = FeatureEngineering(strict_mode=True)
            feats = fe.fit_transform(x.join(y, "id_annonce"))
            tt = TargetTransformer().fit(feats)
            trainer = ModelTrainer(model_type="rf", label_col="log_price").train(tt.transform(feats))
        return time.perf_counter() - t0, (fe, tt, trainer)

    cold_s, (fe, tt, trainer) = fit("c")
    fe.strict_mode = False  # serve-time, as PredictionService.load does
    svc = PredictionService(ctx.spark, fe, trainer, tt)

    rng = np.random.default_rng(ctx.seed + 1)
    recs = pdf[fields].astype(object).where(pdf[fields].notna(), None).to_dict("records")
    failures: dict[str, str] = {}
    attempted = failed = 0
    answers: dict[int, float] = {}

    def single(gid: str, rec: dict) -> float:
        nonlocal attempted, failed
        attempted += 1
        ctx.group(f"{gid}:single:exec")
        t0 = time.perf_counter()
        try:
            with spans.span("single", gid):
                out = svc.single(rec)
            answers[int(rec["id_annonce"])] = out["predicted_price"]
        except Exception as e:  # recorded, the run goes on
            failed += 1
            failures.setdefault("single", f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
        return time.perf_counter() - t0

    # the first requests pay one-off analysis, codegen and JIT costs
    for k in range(SINGLE_WARMUP):
        single(f"u{k}", recs[int(rng.integers(len(recs)))])
    lat: list[float] = []
    t_start = time.perf_counter()
    while len(lat) < MIN_SINGLES or time.perf_counter() - t_start < ctx.seconds:
        lat.append(single(f"s{len(lat)}", recs[int(rng.integers(len(recs)))]))

    batch_walls, traced_walls, batch_exec = [], [], []
    spans_on = spans.enabled
    for k in range(-BATCH_WARMUP, BATCH_PASSES):
        # negative passes warm up and are not counted; in a traced run
        # the counted passes alternate untraced / traced
        traced = ctx.trace and k >= 0 and k % 2 == 1
        spans.enabled = spans_on and traced
        unit = f"b{k}" if k >= 0 else f"warmup{-k}"
        attempted += 1
        t0 = time.perf_counter()
        with spans.span("batch", unit):
            ctx.group(f"{unit}:batch:build")
            with spans.span("build", unit):
                df = svc.batch_df(x)
            if traced:
                ctx.group(f"{unit}:batch:plan")
                with spans.span("plan", unit):
                    df._jdf.queryExecution().executedPlan()
            ctx.group(f"{unit}:batch:exec")
            t1 = time.perf_counter()
            with spans.span("exec", unit):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        if traced:
            traced_walls.append(wall)
        elif k >= 0:
            batch_walls.append(wall)
            batch_exec.append(time.perf_counter() - t1)
    spans.enabled = spans_on

    # correctness, outside the timed region: every listing gets a finite
    # positive price, the model explains most of the log-price variance,
    # and each single answer equals the batch answer for that listing
    ctx.group("verify:batch:exec")
    got = svc.batch_df(x).toPandas().set_index("id_annonce")["predicted_price"]
    problems = []
    if len(got) != LISTINGS or not np.all(np.isfinite(got)) or not np.all(got > 0):
        problems.append(f"batch: {len(got)} rows, want {LISTINGS} finite positive prices")
    else:
        truth = np.log(pdf.set_index("id_annonce")["price"].loc[got.index])
        resid = truth - np.log(got)
        r2 = 1.0 - float(np.var(resid)) / float(np.var(truth))
        if r2 < 0.5:
            problems.append(f"batch: log-price r2 {r2:.3f} < 0.5")
        bad = [i for i, p in answers.items() if not math.isclose(p, round(float(got[i]), 2), abs_tol=0.011)]
        if bad:
            problems.append(f"single != batch for {len(bad)} listings, e.g. id {bad[0]}")
            failed += len(bad)
    if problems:
        failures["predict"] = "; ".join(problems)
        failed = max(failed, 1)

    warm_s = statistics.median(batch_walls)
    res = Result(cold_s=cold_s, warm_s=warm_s, warm_samples=batch_walls, requests_ms=[v * 1e3 for v in lat])
    res.attempted, res.failed, res.failures = attempted, failed, failures
    res.detail = {
        "listings": LISTINGS,
        "single_warmup": SINGLE_WARMUP,
        "batch_rows_per_s": round(LISTINGS / warm_s, 1),
    }
    if ctx.trace:
        res.layers = _predict_layers(ctx, lat, cold_s, batch_exec, warm_s, batch_walls, traced_walls)
    return res


def _predict_layers(ctx, lat, fit_s, batch_exec, warm_s, batch_walls, traced_walls):
    rest = SparkRest(ctx.spark)
    snap = rest.snapshot()
    out = _layers_zero()
    # exec.* cover the warm phase: the timed single requests and every batch pass
    warm = lambda g: g.startswith(("s", "b"))  # noqa: E731
    out.update(_exec_layers(group_metrics(snap, warm), 1, sum(lat) + sum(batch_walls + traced_walls), ctx.cores))
    singles = group_metrics(snap, lambda g: g.startswith("s"))
    n = len(lat)
    out["serving.single.jobs"] = singles.get("jobs", 0.0) / n
    out["serving.single.exec_s"] = singles.get("job_s", 0.0) / n
    out["serving.single.driver_s"] = sum(lat) / n - out["serving.single.exec_s"]
    out["train.fit_s"] = fit_s
    out["predict.batch_exec_s"] = statistics.median(batch_exec)
    out["predict.batch_rows_per_s"] = LISTINGS / warm_s
    # build, plan and exec of the batch plan, per traced batch pass
    nb = len(traced_walls)
    batch = group_metrics(snap, lambda g: g.startswith("b") and g.endswith(":build"))
    out["build.jobs"] = batch.get("jobs", 0.0) / (nb + len(batch_walls))
    for layer in ("build", "plan", "exec"):
        out[f"{layer}.s"] = sum(s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == layer) / nb
    out["cache.storage_mb"], out["cache.rdds"] = rest.storage()
    out["trace.overhead_share"] = statistics.median(traced_walls) / warm_s - 1.0
    return out
