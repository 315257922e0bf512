"""The benchmark's workloads, driven through the package's public entry
points from outside.

Each workload has a set-up (inputs generated, warm-up run, output
checks) and a closed loop of timed operations. Every timed operation
reads a freshly generated input directory derived from the seed and
the operation index, so no ``sf_dir``-keyed memo in the program can
serve it from an earlier one.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen
import tracing as tr

# detect_batch: flows per capture = 1e6 * sf events (sf 0.01 -> 10,000)
DETECT_SF = 0.01
DETECT_MODELS = ("mlp", "logreg", "nb", "rf")
MIX_SF = 0.01
HOT_DOCS = 10
PLANS = tr.PLANS

# Short analytic registry queries, run one at a time in seed-shuffled
# order: relational q*/rel_*, feature f*, io_*, graph_* and mm_*, plus
# one cheap query each from the text, dedup, similarity and streaming
# families, whose own workloads are not part of this benchmark.
QUERY_MIX = [
    "q1_pricing_summary", "q5_region_revenue", "q18_large_orders",
    "rel_groupby_agg", "rel_sessionize",
    "f5_standard_scale", "io_csv_roundtrip", "graph_degree_distribution",
    "mm_binary_meta",
    "text_quality", "dedup_minhash_lsh", "sim_ivf_topk", "stream_windowed_counts",
]


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup_done: float = 0.0
    # latencies by query name (query_mix), for the per-query medians
    by_name: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Bench:
    """One benchmark process: the session, its scratch directory and,
    in a traced run, the tracer and the jobs of each operation."""

    def __init__(self, spark, work: str, seed: int, tracer: tr.Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[str] = []
        self.op_jobs: list[tr.Job] = []
        self.last_job = -1
        self.op_wall = 0.0
        self.stream_runs: set = set()
        self.progress: list = []
        self.counts: dict[str, list[float]] = {}
        if tracer is not None:
            spark.streams.addListener(tr.progress_listener(self.stream_runs, self.progress))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _drain_jobs(self) -> list[tr.Job]:
        jobs = tr.new_jobs(self.sc, self.last_job)
        if jobs:
            self.last_job = max(j.id for j in jobs)
        return jobs

    def timed(self, label: str, fn):
        """Run one operation; returns ``(seconds, result)``. In a traced
        run its spans carry ``label`` and its jobs are kept."""
        if self.tracer is not None:
            self._drain_jobs()
            self.tracer.op = label
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            dt = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.op = "after"
                self.ops.append(label)
                self.op_wall += dt
                self.op_jobs.extend(self._drain_jobs())
        return dt, result

    def span(self, layer: str, name: str, fn):
        """Run ``fn`` (an action the benchmark itself calls, such as the
        ``count`` that forces a query) inside a ``layer`` span."""
        if self.tracer is None:
            return fn()
        return self.tracer.call(name, layer, fn)

    def count(self, name: str, value: float) -> None:
        """Record an output count taken after an operation."""
        self.counts.setdefault(name, []).append(value)

    def layer_metrics(self) -> dict:
        """Per-layer metrics of the traced operations (per-operation
        means), the streaming progress figures, the output counts
        (means over the operations that produced them) and the tracer's
        own share of the operations' wall time."""
        out = tr.layer_metrics(self.tracer.spans, self.op_jobs, self.stream_runs, self.ops)
        out.update(tr.stream_metrics(self.progress))
        n = max(len(self.ops), 1)
        out["io.input_bytes"] = sum(j.input_bytes for j in self.op_jobs) / n
        out["io.write_bytes"] = sum(j.output_bytes for j in self.op_jobs) / n
        for name in tr.COUNT_METRICS:
            vals = self.counts.get(name, [])
            out[name] = sum(vals) / len(vals) if vals else 0.0
        out["trace.overhead_ratio"] = self.tracer.overhead_s / max(self.op_wall, 1e-9)
        return out


def _check(out: Outcome, what: str, fn) -> None:
    out.attempted += 1
    try:
        fn()
    except Exception as e:  # a failed check is a counted failure, not a crash
        out.fail(f"{what}: {type(e).__name__}: {str(e)[:300]}")


def _registry() -> dict:
    from web_attack_detection_spark.plans import all_plans  # noqa: F401  (registers every query)
    from web_attack_detection_spark.plans.registry import QUERIES

    return QUERIES


def _oracle_check(b: Bench, d: str, name: str) -> None:
    from tests.oracle_harness import compare

    spec = _registry()[name]
    if spec.oracle is not None:
        compare(b.spark, d, spec.fn, spec.oracle)
    elif spec.fn(b.spark, d).count() <= 0:
        raise AssertionError(f"{name} returned no rows")


# --- detect_batch ---------------------------------------------------------------


def _capture(b: Bench, op: int) -> tuple[str, int, int]:
    """Write capture ``op``: every fixture table (the oracle harness
    registers them all) plus the four UNSW CSVs. Returns the directory,
    the flow count and the held-out (file 2) flow count."""
    from web_attack_detection_spark.io.unsw import UNSW_COLUMNS

    t = gen.tables(b.seed, op, DETECT_SF)
    d = gen.fresh_dir(b.path(f"capture{op}"))
    gen.write_tables(t, d)
    gen.write_unsw_csvs(t["events"], os.path.join(d, "unsw"), UNSW_COLUMNS)
    eid = t["events"]["event_id"].to_numpy()
    return d, len(eid), int((eid % 4 == 1).sum())


def _load_capture(b: Bench, d: str):
    from web_attack_detection_spark.io.unsw import load_unsw

    train, test = load_unsw(b.spark, os.path.join(d, "unsw"))
    return train.drop("label"), test.drop("label")


def _fit_detector(b: Bench, d: str):
    """The deployed detector: feature pipeline + MLlib MLP fitted on a
    reference capture, exported to numpy parameters."""
    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.ml.nets import mlp_params_from_mllib
    from web_attack_detection_spark.ml.pipeline import fit_mlp

    train, _ = _load_capture(b, d)
    fp = fit_feature_pipeline(train, label_col="attack_cat", reference_compat=True, pca_k=20)
    trf = fp.transform(train).select("features", "label").cache()
    try:
        model = fit_mlp(trf, "features", "label", hidden=(16, 8), max_iter=15)
    finally:
        trf.unpersist()
    return fp, mlp_params_from_mllib(model)


def _score(b: Bench, detector, test) -> dict[int, int]:
    """Score the held-out split with the exported MLP; returns the
    prediction histogram."""
    from pyspark.sql import functions as F

    from web_attack_detection_spark.ml.inference import mllib_mlp_scorer

    fp, params = detector
    scorer = mllib_mlp_scorer(params)
    prob = fp.transform(test).select(scorer(F.col("features").cast("array<double>")).alias("p"))
    scored = prob.select(
        (F.array_position("p", F.array_max("p")) - 1).cast("int").alias("prediction")
    )
    hist = b.span("ml.inference", "score.collect", lambda: scored.groupBy("prediction").count().collect())
    return {r[0]: r[1] for r in hist}


def _detect_op(b: Bench, d: str, detector):
    from web_attack_detection_spark.functions.feature import classify_columns
    from web_attack_detection_spark.runner import run_pipeline

    train, test = _load_capture(b, d)
    _, nums = classify_columns(train, "attack_cat", reference_compat=True)
    summary = run_pipeline(
        b.spark,
        d,
        out_dir=os.path.join(d, "plots"),
        models=DETECT_MODELS,
        pca_k=20,
        loader=lambda s, sd: (train, test),
        label_col="attack_cat",
        numeric_raw=nums,
        reference_compat=True,
    )
    return b.span("runner", "summary.collect", summary.collect), _score(b, detector, test)


def _check_detect(summary, hist, n_test: int, n_classes: int) -> None:
    pairs = sorted((r["model"], r["prep"]) for r in summary)
    want = sorted((m, p) for m in DETECT_MODELS for p in ("raw", "processed"))
    if pairs != want:
        raise AssertionError(f"summary rows {pairs} != {want}")
    bad = [r for r in summary if not 0.0 <= r["accuracy"] <= 1.0]
    if bad:
        raise AssertionError(f"accuracy outside [0, 1]: {bad}")
    if sum(hist.values()) != n_test:
        raise AssertionError(f"scored {sum(hist.values())} of {n_test} held-out flows")
    if not all(0 <= k < n_classes for k in hist):
        raise AssertionError(f"predictions outside [0, {n_classes}): {sorted(hist)}")


def detect_batch(b: Bench, seconds: float, out: Outcome) -> None:
    """Set-up: the reference capture (op 0) is generated and the deployed
    detector fitted on it, which warms the feature, MLP and scoring
    paths. One timed operation per run: the reference ``main()`` on a
    new capture (all four battery models), then the held-out split
    scored with the exported MLP. The capture for it is generated in
    set-up too."""
    warm, _, _ = _capture(b, 0)
    detector = _fit_detector(b, warm)
    _score(b, detector, _load_capture(b, warm)[1])
    d, n_flows, n_test = _capture(b, 1)
    out.setup_done = time.perf_counter()

    out.attempted += 1
    try:
        dt, (summary, hist) = b.timed("op1", lambda: _detect_op(b, d, detector))
    except Exception as e:
        out.fail(f"detect op: {type(e).__name__}: {str(e)[:300]}")
        return
    out.latencies.append(dt)
    out.rows.append(n_flows)
    n_classes = len(gen.ATTACK_CATS) + 1
    _check(out, "detect summary", lambda: _check_detect(summary, hist, n_test, n_classes))
    _check(out, "ref_unsw_battery_summary", lambda: _oracle_check(b, d, "ref_unsw_battery_summary"))


# --- query_mix ------------------------------------------------------------------


def _tables_read(b: Bench, d: str, name: str) -> set[str]:
    """Run the query's output check, recording which fixture tables it
    reads (every fixture read goes through ``DataFrameReader.parquet``)."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: set[str] = set()
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        for p in paths:
            base = os.path.basename(str(p).rstrip("/"))
            if base.endswith(".parquet") and base[: -len(".parquet")] in gen.TABLE_NAMES:
                seen.add(base[: -len(".parquet")])
        return orig(self, *paths, **kw)

    DataFrameReader.parquet = parquet
    try:
        _oracle_check(b, d, name)
    finally:
        DataFrameReader.parquet = orig
    return seen


def _output_counts(b: Bench, d: str, name: str, n_out: int) -> None:
    """Traced run only, after the operation and outside its spans: the
    dedup and similarity work counts behind the query's output."""
    from pyspark.sql import functions as F

    if name == "dedup_minhash_lsh":
        from tools.bench_scale import band_bucket_stats

        cand = band_bucket_stats(b.spark, d)["candidate_pairs_upper_bound"]
        b.count("operators.dedup.candidate_pairs", cand)
        b.count("operators.dedup.pair_yield", n_out / cand if cand else 0.0)
    elif name == "sim_ivf_topk":
        from web_attack_detection_spark.io.sources import load_table
        from web_attack_detection_spark.operators.similarity import ivf_assign

        _, assigned = ivf_assign(load_table(b.spark, d, "embeddings"), k_centroids=16)
        sizes = [r[0] for r in assigned.groupBy("cell").agg(F.count(F.lit(1))).collect()]
        b.count("operators.similarity.max_cell_rows", max(sizes))
        b.count("operators.similarity.pairs_scored", sum(n * (n - 1) // 2 for n in sizes))


def query_mix(b: Bench, seconds: float, out: Outcome) -> None:
    """Set-up: every query in the list is checked once against its DuckDB
    oracle on a warm-up dataset (op 0), which also warms it. Then whole
    seed-shuffled cycles of the list run until ``seconds`` have passed;
    each query reads its own freshly generated dataset, written just
    before it runs (outside the timed region)."""
    queries = _registry()
    warm = gen.fresh_dir(b.path("mix0"))
    gen.write_tables(gen.tables(b.seed, 0, MIX_SF, HOT_DOCS), warm)
    reads: dict[str, set[str]] = {}
    for name in QUERY_MIX:
        out.attempted += 1
        try:
            reads[name] = _tables_read(b, warm, name)
        except Exception as e:
            out.fail(f"{name} check: {type(e).__name__}: {str(e)[:300]}")
            reads[name] = set()
    shutil.rmtree(warm)
    b.progress.clear()  # micro-batches of the check pass are not operations
    out.setup_done = time.perf_counter()

    rng = random.Random(b.seed)
    op = 0
    spent = 0.0
    done = -1
    while spent < seconds and len(out.latencies) > done:  # stop if a whole cycle failed
        done = len(out.latencies)
        order = QUERY_MIX[:]
        rng.shuffle(order)
        for name in order:
            op += 1
            t = gen.tables(b.seed, op, MIX_SF, HOT_DOCS)
            d = gen.fresh_dir(b.path(f"mix{op}"))
            gen.write_tables({k: t[k] for k in reads[name]} or t, d)
            out.attempted += 1
            fn = queries[name].fn
            try:
                dt, n_out = b.timed(
                    f"op{op}:{name}", lambda: b.span(PLANS, name, lambda: fn(b.spark, d).count())
                )
                if b.tracer is not None:
                    _output_counts(b, d, name, n_out)
            except Exception as e:
                out.fail(f"{name} op{op}: {type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                shutil.rmtree(d)
            spent += dt
            out.latencies.append(dt)
            out.by_name.setdefault(name, []).append(dt)
            out.rows.append(sum(t[k].num_rows for k in reads[name]))


WORKLOADS = {"detect_batch": detect_batch, "query_mix": query_mix}
