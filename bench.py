#!/usr/bin/env python
"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall-clock seconds across all queries (lower is
better); per-query seconds are in ``queries``. Each query is executed
to completion with a count-style action (results are not collected to
the driver — we measure engine time, not driver materialization).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))
# Python WORKERS don't see the driver's sys.path mutation: when bench
# runs from any cwd other than the repo root, pickled-by-reference UDF
# functions fail to import on the worker side. Exporting PYTHONPATH
# before the JVM starts makes the spawned worker daemons inherit it.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Rep-spread contamination gate (VERDICT r9 #4): ambient host noise
# shows up as ONE polluted rep (the r9 driver window shipped a query
# with rep spread [2.87, 27.31] — 9.5× — yet n_contaminated stayed 0
# because gating was load-average-only).  A query whose slowest rep
# exceeds SPREAD_RERUN_RATIO × its fastest gets one full extra rep
# batch, so the recorded median is computed over a sample dominated
# by clean reps; queries still spread-polluted after the re-run are
# marked contaminated alongside the load-gated ones.
SPREAD_RERUN_RATIO = 3.0


def spread_contaminated(
    runs: list, ratio: float = SPREAD_RERUN_RATIO
) -> bool:
    """True when the rep spread indicates ambient interference — the
    slowest rep is more than ``ratio``× the fastest.  Pure function so
    the gate is unit-testable without a Spark session."""
    return len(runs) > 1 and min(runs) > 0 and max(runs) / min(runs) > ratio


def measure_reps(run_once, reps: int, ratio: float = SPREAD_RERUN_RATIO):
    """Execute ``run_once()`` ``reps`` times; when the spread gate
    trips (one polluted rep), execute one full extra batch before
    the caller takes the median.  Returns (runs, reran)."""
    runs = [run_once() for _ in range(reps)]
    reran = spread_contaminated(runs, ratio)
    if reran:
        runs = runs + [run_once() for _ in range(reps)]
    return runs, reran


# Host-interference probe (r10 "Not yet optimized" item): the box
# suffers multi-× slowdowns that NEITHER the load average NOR
# /proc/stat steal registers (measured: identical code 3.7 s / 16.4 s
# / 4.8 s across three windows at load ≤ 4, steal ≈ 0).  A fixed
# single-thread CPU workload timed immediately before each rep is a
# gauge of how fast the host actually executes RIGHT NOW, independent
# of Spark; a rep whose probe ran slow is attributable to the host,
# not the code.  GATING since r11 (VERDICT r10 #2), after validation
# against the two committed clean windows that carry probe fields
# (r10 close `bcd28d2` and the driver's r10 window): the flag
# statistic min(probes)/baseline never exceeded 1.30 across 2×333
# clean queries, while the documented interference mode inflates the
# probe 2-4×, so ratio 2.0 separates them with ≥1.5× margin (single-
# rep max-ratio spikes reached 2.7 — those are one-rep bursts the
# median and the spread gate already absorb; the probe gate fires
# only when EVERY rep of a batch ran slow).  Semantics are additive:
# a probe-gated query gets ONE fresh rep batch exactly like the
# spread gate, and joins `contaminated` only when the fresh batch is
# ALSO host-slowed.  Timing methodology (timed action, warmup,
# median-of-all-reps) is unchanged.
_PROBE_ITERS = 200_000
PROBE_FLAG_RATIO = 2.0


def cpu_probe_ms(_iters: int = _PROBE_ITERS) -> float:
    """Time a fixed pure-Python integer loop in milliseconds."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(_iters):
        acc += i * i
    assert acc >= 0  # keep the loop un-eliminable
    return round((time.perf_counter() - t0) * 1000.0, 3)


def probe_flagged(probes: list, baseline_ms: float, ratio: float = PROBE_FLAG_RATIO) -> bool:
    """True when EVERY rep of a query ran on a slowed host — the
    fastest probe still exceeds ``ratio``× the session baseline, so
    even the recorded median is host-inflated.  Pure function for
    unit tests."""
    return bool(probes) and baseline_ms > 0 and min(probes) > ratio * baseline_ms


def probe_contaminated(
    probes: list, baseline_ms: float, reps: int, ratio: float = PROBE_FLAG_RATIO
) -> bool:
    """True when a query stays host-slowed THROUGH its fresh batch:
    the original ``reps`` probes tripped the gate AND the re-run
    batch (``probes[reps:]``) is itself probe-flagged — ongoing
    interference, the exact mirror of the spread gate's contaminated
    rule.  With no re-run batch recorded, the original flag stands.
    Pure function for unit tests."""
    if not probe_flagged(probes[:reps], baseline_ms, ratio):
        return False
    rest = probes[reps:]
    return probe_flagged(rest, baseline_ms, ratio) if rest else True


def probe_gate(
    probes: list, baseline_ms: float, reps: int, spread_reran: bool,
    ratio: float = PROBE_FLAG_RATIO,
) -> tuple[bool, bool]:
    """Probe-gate decision once a query's original batch (and any
    spread re-run) has run: (tripped, fresh_batch).  ``tripped`` —
    every original rep ran on a slowed host, so the query is recorded
    in probe_reruns whichever gate supplies the fresh batch;
    ``fresh_batch`` — run one fresh batch, unless the spread gate
    already did.  Pure function for unit tests."""
    tripped = probe_flagged(probes[:reps], baseline_ms, ratio)
    return tripped, tripped and not spread_reran


def median_sample(runs: list, reps: int, probe_tripped: bool) -> list:
    """The reps the recorded median is taken over: the fresh batch
    only when the original batch tripped the probe gate (every
    original rep was host-slowed, so mixing them in would keep the
    median host-inflated), else every rep.  Pure function."""
    return runs[reps:] if probe_tripped and len(runs) > reps else runs


def _vs_prev(timings: dict, sidecar: str) -> dict | None:
    """Common-subset total ratio vs the git-committed previous sidecar,
    computed and embedded by bench.py itself so the artifact and any
    prose claim about it can never diverge.  ``top_deltas`` carries the
    five largest per-query increases [prev, new] — the excess, if any,
    self-attributed."""
    import subprocess

    try:
        blob = subprocess.run(
            ["git", "-C", str(REPO), "show", f"HEAD:{sidecar}"],
            capture_output=True, text=True, timeout=30,
        )
        if blob.returncode != 0:
            return None
        prev = json.loads(blob.stdout)
        prev_q = prev.get("queries", {})
        common = sorted(set(prev_q) & set(timings))
        if not common:
            return None
        pt = sum(prev_q[k] for k in common)
        nt = sum(timings[k] for k in common)
        deltas = sorted(common, key=lambda k: prev_q[k] - timings[k])[:5]
        return {
            "prev_source": f"git:HEAD:{sidecar}",
            "prev_sf": prev.get("sf"),
            "prev_reps": prev.get("reps"),
            "common_n": len(common),
            "prev_total": round(pt, 4),
            "new_total": round(nt, 4),
            "ratio": round(nt / pt, 4) if pt else None,
            "top_deltas": {k: [prev_q[k], timings[k]] for k in deltas},
        }
    except Exception:
        return None


def main() -> None:
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="bench")
    # the one-JSON-line stdout contract must not be flooded: the driver
    # parses a ~2 KB tail, and WARN spam (DataSourceManager, streaming
    # state store chatter) once corrupted the r3 parse (VERDICT r4 #5)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure
    # execution, not first-touch classloading
    from web_attack_detection_spark.io.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).count()

    # warm the Python worker pool too: otherwise the first Arrow-path
    # query (mapInPandas / pandas_udf) pays worker-spawn cost in its
    # recorded time
    import pandas as _pd

    spark.range(64).mapInPandas(
        lambda it: ( _pd.DataFrame({"id": pdf["id"]}) for pdf in it ), "id long"
    ).count()

    # warm the relational machinery (shuffle exchange, broadcast join,
    # window exec, explode, higher-order exprs): the first plan to use
    # each pays multi-second one-time class-generation/compile costs
    # that would otherwise be charged to whichever query sorts first
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _small = load_table(spark, SF_DIR, "lineitem").limit(256).cache()
    _w = _W.partitionBy("l_returnflag").orderBy("l_orderkey")
    (
        _small.withColumn("rn", _F.row_number().over(_w))
        .withColumn("toks", _F.split(_F.lit("a b c"), " "))
        .withColumn("t", _F.explode(_F.transform(_F.col("toks"), lambda x: _F.upper(x))))
        .join(_F.broadcast(_small.select("l_orderkey").distinct()), "l_orderkey")
        .groupBy("l_returnflag", "t")
        .agg(_F.sum("l_quantity"), _F.countDistinct("l_partkey"))
        .count()
    )
    _small.unpersist()

    # warm the MLlib machinery (Tokenizer/NGram/HashingTF codegen, the
    # LSH fit + join path, vector UDT serde): first touch costs ~5-7 s
    # of Scala classloading that is machinery, not query work
    from pyspark.ml.feature import HashingTF as _HTF
    from pyspark.ml.feature import MinHashLSH as _MH
    from pyspark.ml.feature import NGram as _NG
    from pyspark.ml.feature import Tokenizer as _Tok

    _d = spark.createDataFrame(
        [(i, "a b c d e f g h " + str(i)) for i in range(8)], "id long, text string"
    )
    _t = _Tok(inputCol="text", outputCol="toks").transform(_d)
    _t = _NG(n=3, inputCol="toks", outputCol="sh").transform(_t)
    _t = _HTF(inputCol="sh", outputCol="fv", binary=True, numFeatures=1 << 10).transform(_t)
    _mh = _MH(inputCol="fv", outputCol="hashes", numHashTables=2, seed=1).fit(_t)
    _mh.approxSimilarityJoin(_t, _t, 0.9, distCol="d").count()

    # Gaussian NB has its own first-touch classload (paid otherwise by
    # whichever NB-using query sorts first — the CV query)
    from pyspark.ml.classification import NaiveBayes as _NB
    from pyspark.ml.linalg import Vectors as _V

    _nbd = spark.createDataFrame(
        [(0.0, _V.dense([0.0, 1.0])), (1.0, _V.dense([1.0, 0.0]))] * 4,
        ["label", "features"],
    )
    _NB(modelType="gaussian").fit(_nbd).transform(_nbd).count()

    # warm the Structured Streaming machinery (micro-batch planner,
    # state store provider, session-window merging exec): the first
    # streaming query in a process pays ~10 s of one-time init that
    # would otherwise be charged to whichever stream query sorts first.
    # sf0.001 replay is a few hundred rows — the machinery, not the data.
    from web_attack_detection_spark.plans import streamq as _streamq

    _streamq.stream_session_windows(spark, "/root/testdata/sf0.001").count()
    _streamq.stream_windowed_counts(spark, "/root/testdata/sf0.001").count()
    # the dedup stream uses a different stateful exec (streaming
    # dedup-within-watermark) with its own first-touch class init
    _streamq.stream_dedup_watermark(spark, "/root/testdata/sf0.001").count()

    import gc

    # median-of-N per query (VERDICT r2 #7): local-mode per-query
    # swings are ±3× run-to-run (BASELINE.md) — one cold pass + N-1
    # warm passes, record the MEDIAN so round-over-round deltas are
    # attributable to code, not JIT/GC noise. Spread (min/max) rides
    # along so the noise itself stays visible.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    # Host-load self-identification (VERDICT r6 #3): the box suffers
    # multi-× bursty interference from OUTSIDE the container, and two
    # bench windows of identical code have disagreed by 1.30×.  Sample
    # the 1-minute load average before every rep; a rep that starts
    # with load already above 2/3 of the CPU budget is marked
    # contaminated, so a later round can attribute driver-vs-committed
    # deltas mechanically instead of by trust.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    load_threshold = round(2 * cpus / 3, 2)
    load_avg: dict[str, float] = {}
    contaminated: list[str] = []

    spread_reruns: dict[str, list[float]] = {}

    # session probe baseline: the fastest of 15 samples taken on the
    # freshly-warmed session = how fast this host runs the fixed loop
    # when nothing is interfering (min, not median: the baseline must
    # be the CLEAN speed even if calibration itself catches a burst)
    probe_baseline = min(cpu_probe_ms() for _ in range(15))
    cpu_probes: dict[str, list[float]] = {}
    probe_flags: list[str] = []
    probe_reruns: dict[str, list[float]] = {}

    def timed(name: str, fn) -> None:
        loads: list[float] = []
        probes: list[float] = []

        def run_once() -> float:
            loads.append(round(os.getloadavg()[0], 2))
            probes.append(cpu_probe_ms())
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = df.count()
            elapsed = round(time.perf_counter() - t0, 4)
            assert n >= 0
            # release localCheckpoint block references between queries
            # (ContextCleaner frees them once Python lets go) — otherwise
            # 70 queries of accumulated blocks pressure the block manager
            # and late queries measure eviction churn, not their own cost
            del df
            gc.collect()
            return elapsed

        runs, reran = measure_reps(run_once, reps)
        if reran:
            # record the ORIGINAL polluted spread so the artifact shows
            # what tripped the gate, not just the post-rerun numbers
            spread_reruns[name] = [min(runs[:reps]), max(runs[:reps])]
        # probe gate (r11): EVERY rep of the original batch ran on a
        # slowed host, so even the median would be host-inflated — one
        # fresh batch, the spread gate's discipline (a spread re-run
        # already supplies it), and the median over that batch only
        tripped, fresh_batch = probe_gate(probes, probe_baseline, reps, reran)
        if tripped:
            probe_reruns[name] = [min(probes[:reps]), max(probes[:reps])]
        if fresh_batch:
            runs = runs + [run_once() for _ in range(reps)]
        # statistics.median averages the two middle elements for even
        # rep counts (ADVICE r3: upper-middle biased recorded timings up)
        timings[name] = round(statistics.median(median_sample(runs, reps, tripped)), 4)
        spread[name] = [min(runs), max(runs)]
        load_avg[name] = max(loads)
        cpu_probes[name] = [min(probes), max(probes)]
        if probe_contaminated(probes, probe_baseline, reps):
            # still host-slowed through the fresh batch: the recorded
            # median is attributable to the host, not the code
            probe_flags.append(name)
        if max(loads) > load_threshold or name in probe_flags or (
            # the original batch already tripped the gate; if the fresh
            # batch is ALSO spread-polluted the interference is ongoing,
            # not a one-rep blip — mark the query contaminated
            reran and spread_contaminated(runs[reps:])
        ):
            contaminated.append(name)

    # a query's declared setup (its input fixture, io/fixtures.py) runs
    # once before its timed reps and is recorded on its own; the query
    # still calls it, which then costs a few stat calls
    setup_sec: dict[str, float] = {}
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        if spec.setup is not None:
            t0 = time.perf_counter()
            spec.setup(spark, SF_DIR)
            setup_sec[name] = round(time.perf_counter() - t0, 4)
        timed(name, spec.fn)

    # flagship pipeline end-to-end
    from web_attack_detection_spark.plans.flagship import flagship_pipeline

    timed("flagship_pipeline", lambda s, d: flagship_pipeline(s, d))

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # engine-vs-protocol split (VERDICT r8 #6): the four serial
    # reference-protocol trainers (Adam minibatch epochs over a
    # hash-capped sample — wall time is the reference's training
    # budget, not engine work) dominate ~15% of every window and bury
    # engine regressions under trainer noise. total_engine excludes
    # them so round-over-round engine deltas are directly readable.
    protocol_trainers = {
        "ml_cnn_train_dist",
        "ml_rnn_train_dist",
        "ml_lstm_train_dist",
        "ml_mlp_train_protocol",
    }
    total_protocol = round(
        sum(t for k, t in timings.items() if k in protocol_trainers), 4
    )
    full = {
        "metric": "total_query_wall_clock",
        "value": round(sum(timings.values()), 4),
        "total_engine": round(sum(timings.values()) - total_protocol, 4),
        "total_protocol_trainers": total_protocol,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "spread": spread,
        "sf": sf_val,
        "load_avg": load_avg,
        "load_threshold": load_threshold,
        "contaminated": contaminated,
        "spread_rerun_ratio": SPREAD_RERUN_RATIO,
        "spread_reruns": spread_reruns,
        # host-interference gauge (see cpu_probe_ms): per-query
        # [min, max] of the per-rep probe, the session baseline, the
        # queries whose ORIGINAL batch tripped the gate (probe_reruns,
        # original [min, max] probe ms), and the queries still flagged
        # THROUGH their fresh batch (probe_flagged — these also join
        # `contaminated`)
        "probe_baseline_ms": probe_baseline,
        "cpu_probe_ms": cpu_probes,
        "probe_flag_ratio": PROBE_FLAG_RATIO,
        "probe_flagged": probe_flags,
        "probe_reruns": probe_reruns,
        "setup_sec": setup_sec,
    }
    # The driver captures only a ~2 KB stdout tail; a 200-query map is
    # ~14 KB and has never parsed (BENCH_r01..03 all "parsed": null —
    # VERDICT r3 #1). Print a COMPACT line (totals + slowest 10) that
    # fits the tail, and write the full per-query map to a sidecar.
    # Non-default scale factors (smoke runs) get their OWN sidecar:
    # round 4's "dedup bench drift" was entirely an sf0.01/reps=1 smoke
    # overwriting the committed sf0.1 sidecar, which a later round then
    # compared against as if it were a real baseline.
    sidecar = (
        "BENCH_full.json"
        if SF_DIR.rstrip("/").endswith("sf0.1")
        else "BENCH_full_smoke.json"
    )
    # Embed the round-over-round comparison IN the artifact itself
    # (VERDICT r5 #2: the claimed ratio and the committed sidecar once
    # diverged because the ratio lived only in prose).  The baseline is
    # the GIT-COMMITTED sidecar (HEAD), not whatever a local smoke run
    # last wrote to disk, so reruns within a session can't shift it.
    full["vs_prev"] = _vs_prev(timings, sidecar)
    (REPO / sidecar).write_text(json.dumps(full, indent=1))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "total_query_wall_clock",
        "value": full["value"],
        "total_engine": full["total_engine"],
        "unit": "sec",
        "queries": {k: timings[k] for k in slowest},
        "n_queries": len(timings),
        "reps": reps,
        "sf": sf_val,
        "n_contaminated": len(contaminated),
        "n_spread_reruns": len(spread_reruns),
        "probe_baseline_ms": probe_baseline,
        "n_probe_flagged": len(probe_flags),
        "n_probe_reruns": len(probe_reruns),
        "full": sidecar,
    }
    # hard guarantee: stay inside the driver's capture window — drop
    # slowest-10 entries until the line fits (ADVICE r4: an assert here
    # would crash AFTER the multi-minute run and print nothing)
    line = json.dumps(compact)
    while len(line) >= 1800 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
