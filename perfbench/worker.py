"""One Spark driver process running one benchmark workload.

Started by ``run.py``; not meant to be run by hand.  Launches the engine
through ``get_spark``, runs the workload through the engine's public
entry points (``plans.queries.QUERIES`` and the package's top-level API),
times each call from outside, checks the outputs and writes one JSON
result file.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: ``queries`` workload: (registered query, fixture kind).  The paper's
#: flagship time-series spine on uniform keys, where fixed per-query cost
#: (plan build, Catalyst, job scheduling) dominates; the rolling z-score
#: on hot keys, where execution on one hot partition dominates;
#: duplicate-bigram statistics on long documents, where the per-document
#: cost grows with document length.
QUERY_SET = [
    ("flagship_resample_ffill_rolling", "star"),
    ("rolling_zscore_anomalies", "skew"),
    ("repetition_stats", "longdoc"),
]

#: measured work per run is fixed from ``--seconds`` by these nominal
#: durations (a warm pass, a warm slot on a quiet 4-core host), so every
#: run stops at the same point of the JVM's warm-up and the medians of
#: different runs compare like with like
NOMINAL_PASS_S = 3.5
NOMINAL_SLOT_S = 2.5

#: lookout_flow: the planted anomaly (minutes 1500-1560 of the plant
#: fixture) starts 2024-03-02 01:00
ANOMALY = (datetime(2024, 3, 2, 1, 0), datetime(2024, 3, 2, 2, 0))
TRAIN_END = "2024-03-02 00:00:00"
SLOT_MINUTES = 5


def catalyst_phases(df) -> dict[str, float]:
    """Run optimization and physical planning for ``df`` and return each
    Catalyst phase's duration in ms from the query's planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _progress_log():
    """A ``StreamingQueryListener`` keeping each micro-batch's progress:
    input rows and batch duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append({
                "run_id": str(p.runId),
                "input_rows": int(p.numInputRows),
                "batch_ms": float(p.batchDuration),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


class Recorder:
    """Times operations from outside the engine.

    Every operation is one call into a layer; its wall time is recorded
    per name.  When ``traced``, each operation also sets the Spark job
    description and keeps its phase windows for the event-log parse."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.attempted = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {}
        #: (instance, phase, start_ms, end_ms) for the event-log parse
        self.windows: list[tuple] = []
        #: instance -> {"name", "wall_s", "build_s", <catalyst phases>}
        self.instances: dict[str, dict] = {}
        #: pass number stored with each instance (0 = the cold pass)
        self.pass_no = 0

    @contextmanager
    def phase(self, instance: str, phase: str):
        if self.traced:
            self.spark.sparkContext.setJobDescription(
                f"perfbench {instance} {phase}")
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((instance, phase, t0 * 1000,
                                 time.time() * 1000))

    def run(self, name: str, fn) -> bool:
        """Run ``fn(instance)`` as one operation; record its wall time
        under ``name`` or, on an exception, count it as failed and go on."""
        self.attempted += 1
        instance = f"{name}#{len(self.instances)}"
        t0 = time.perf_counter()
        info = {"name": name, "pass": self.pass_no}
        self.instances[instance] = info
        try:
            fn(instance, info)
        except Exception as e:  # noqa: BLE001 - one failing op must not end the run
            first = str(e).splitlines()[0][:160] if str(e) else ""
            self.errors.append(f"{name}: {type(e).__name__}: {first}")
            traceback.print_exc(file=sys.stderr)
            return False
        info["wall_s"] = time.perf_counter() - t0
        self.times.setdefault(name, []).append(info["wall_s"])
        return True

    def check(self, label: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.errors.append(f"{label}: {problem}")


def _query_op(rec: Recorder, spark, fn, fixture: str, sink):
    """Build a registered query's DataFrame and execute it with ``sink``."""
    def op(instance, info):
        with rec.phase(instance, "build"):
            t0 = time.perf_counter()
            df = fn(spark, fixture)
            info["build_s"] = time.perf_counter() - t0
        if rec.traced:
            with rec.phase(instance, "plan"):
                info.update(catalyst_phases(df))
        with rec.phase(instance, "run"):
            sink(df)

    return op


def _noop(df) -> None:
    """Drain through the noop sink: every output column materializes,
    nothing ships to Python."""
    df.write.format("noop").mode("overwrite").save()


def run_queries(spark, rec: Recorder, fixtures: dict, seconds: float) -> dict:
    """One cold pass that collects each query's rows and checks them
    against the DuckDB oracle (the comparison is not timed), one warm-up
    pass, then ``seconds / NOMINAL_PASS_S`` (at least two) measured
    noop-drained passes."""
    import oracle
    from amazon_lookout_for_equipment_python_sdk_spark.plans import queries

    cons = {k: oracle.connect(fixtures[k]) for k in {k for _, k in QUERY_SET}}
    got = []

    def collect(df) -> None:
        got.append((df, df.collect()))

    cold = 0.0
    for name, kind in QUERY_SET:
        t0 = time.perf_counter()
        ok = rec.run(f"{name}.{kind}", _query_op(
            rec, spark, queries.QUERIES[name], fixtures[kind], collect))
        cold += time.perf_counter() - t0
        if not ok:
            continue
        sql = queries.ORACLE_SQL.get(name)
        try:
            problem = ("no oracle SQL registered" if sql is None else
                       oracle.mismatch(*got.pop(), cons[kind], sql))
        except Exception as e:  # noqa: BLE001 - an oracle error is a failed check
            problem = f"{type(e).__name__}: {str(e)[:160]}"
        rec.check(f"oracle {name}.{kind}", problem)
    for con in cons.values():
        con.close()

    # one unmeasured warm-up pass: right after the cold pass the JIT is
    # still compiling the planner, and that first warm pass swings most
    # from run to run
    passes = []
    for _ in range(1 + max(2, round(seconds / NOMINAL_PASS_S))):
        rec.pass_no += 1
        t0 = time.perf_counter()
        for name, kind in QUERY_SET:
            rec.run(f"{name}.{kind}", _query_op(
                rec, spark, queries.QUERIES[name], fixtures[kind], _noop))
        passes.append(time.perf_counter() - t0)
    per_query = {n: statistics.median(v[2:]) for n, v in rec.times.items()
                 if len(v) > 2}
    return {
        "cold_pass_s": cold,
        "pass_s": statistics.median(passes[1:]),
        "passes": passes,
        "per_query_s": per_query,
    }


def run_flow(spark, rec: Recorder, plant_dir: str, work: str,
             seconds: float) -> dict:
    """The tutorial flow: ingest -> fit -> transform + evaluate + plot ->
    replay -> scheduled inference once per landed slot -> read results."""
    from pyspark.sql import functions as F

    from amazon_lookout_for_equipment_python_sdk_spark import (
        AnomalyDetector, Catalog, InferenceScheduler, ModelConfig,
        ModelEvaluation, SchedulerConfig, create_data_schema,
        generate_replay_data)
    from amazon_lookout_for_equipment_python_sdk_spark.sources.readers import (
        pivot_diagnostics, read_inference_results)

    with open(os.path.join(plant_dir, "plant", "plant.csv")) as f:
        tags = f.readline().strip().split(",")[1:]
    st: dict = {}

    def step(name, fn) -> bool:
        def op(instance, info):
            with rec.phase(instance, "run"):
                fn()
        return rec.run(name, op)

    def ingest():
        cat = Catalog(spark, os.path.join(work, "catalog"))
        cat.create_dataset("plant_ds",
                           create_data_schema({"plant": ["Timestamp"] + tags}))
        st["ingest"] = cat.ingest_data("plant_ds", plant_dir)
        st["long"] = cat.load_dataset("plant_ds")

    def fit():
        cfg = ModelConfig(model_name="plant_model", sampling_rate="PT5M",
                          training_start="2024-03-01 00:00:00",
                          training_end=TRAIN_END, threshold_quantile=0.995)
        st["det"] = AnomalyDetector(cfg).fit(
            st["long"].filter(F.col("ts") < F.lit(TRAIN_END)))

    def transform():
        # lazy: the scoring executes inside the evaluation step
        st["scored"] = st["det"].transform(st["long"], component="plant")

    def evaluate():
        ev = ModelEvaluation(st["scored"], sampling_rate_s=300)
        st["ev"] = ev
        st["ranges"] = ev.predicted_ranges().collect()
        st["ranking"] = ev.rank_signals(st["long"]).collect()

    def plot():
        st["fig"] = st["ev"].plot_histograms(
            st["long"], os.path.join(work, "hist.svg"), nb_cols=3)

    # the first slot (a fresh scheduler's first micro-batch) closes the
    # cold pass; the ``seconds / NOMINAL_SLOT_S`` (at least three) slots
    # landed after it give the slot latency
    n_slots = 1 + max(3, round(seconds / NOMINAL_SLOT_S))
    stage = os.path.join(work, "replay")
    start_at = datetime(2024, 6, 1, 12, 0, 0)

    def replay():
        os.makedirs(stage)
        st["replay"] = generate_replay_data(
            st["long"].select("ts", "component", "tag", "value"), stage,
            start_at=start_at, frequency_minutes=SLOT_MINUTES,
            duration_minutes=SLOT_MINUTES * n_slots)

    t0 = time.perf_counter()
    times = {}
    for name, fn in (("sources.ingest", ingest), ("ml.fit", fit),
                     ("ml.transform", transform), ("ml.evaluate", evaluate),
                     ("plot.render", plot), ("sources.replay_write", replay)):
        if not step(name, fn):
            raise RuntimeError(f"flow step {name} failed; later steps need it")
        times[name] = rec.times[name][-1]

    det = st["det"]
    stack = (f"stack({len(tags)}, "
             + ", ".join(f"'{t}', {t}" for t in tags) + ") AS (tag, value)")

    def score_fn(batch_wide):
        return det.transform(batch_wide.select(
            F.col("Timestamp").alias("ts"), F.expr(stack)), component="plant")

    indir, outdir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(indir)
    sched = InferenceScheduler(spark, SchedulerConfig(
        scheduler_name="plant_sched", input_dir=indir, output_dir=outdir,
        components=["plant"], tags=tags, frequency=f"PT{SLOT_MINUTES}M"), score_fn)
    sched.create()
    slot_files = sorted(st["replay"]["written"])
    slots, run_ids, landed = [], [], 0

    def land_and_score(path):
        def op():
            shutil.copy(path, indir)
            sched.start(available_now=True)
            run_ids.append(str(sched.query.runId))
            sched.await_termination()
            sched.stop()
        return op

    for path in slot_files:
        rec.pass_no += 1
        landed += 1
        if step("streaming.slot", land_and_score(path)):
            slots.append(rec.times["streaming.slot"][-1])
        if landed == 1:
            cold = time.perf_counter() - t0
    if len(slots) < 2:
        raise RuntimeError(f"{len(slots)} of {landed} slots were scored")

    t1 = time.perf_counter()
    outs = sorted(glob.glob(os.path.join(outdir, "results_*.jsonl")))
    results = read_inference_results(spark, outs)
    wide = pivot_diagnostics(results).collect()
    read_s = time.perf_counter() - t1

    # correctness: ingest complete, every slot SUCCESS with one result
    # file, the planted anomaly among the predicted ranges
    n_rows = st["ingest"].get("rows_ingested")
    with open(os.path.join(plant_dir, "plant", "plant.csv")) as f:
        expect_rows = (sum(1 for _ in f) - 1) * len(tags)
    rec.check("ingest rows", None if n_rows == expect_rows else
              f"ingested {n_rows} of {expect_rows}")
    execs = [e.asDict() for e in sched.list_inference_executions().collect()]
    bad = [e for e in execs if e.get("status") != "SUCCESS"]
    rec.check("slots SUCCESS", None if execs and not bad else
              f"{len(bad)}/{len(execs)} executions not SUCCESS")
    rec.check("one result file per slot", None if len(outs) == landed
              else f"{len(outs)} result files for {landed} slots")
    rec.check("results readable", None if wide else "no scored rows")
    hit = any(r["start"] < ANOMALY[1] and r["end"] >= ANOMALY[0]
              for r in st["ranges"])
    rec.check("planted anomaly detected", None if hit else
              f"no predicted range overlaps {ANOMALY[0]}: {st['ranges'][:4]}")

    out = {
        "cold_pass_s": cold,
        "pass_s": statistics.median(slots[1:]),
        "slots": slots,
        "slot_run_ids": run_ids,
        "steps_s": times,
        "read_results_s": read_s,
        "flow_s": time.perf_counter() - t0,
    }
    return out


def _write_json(path: str, obj: dict) -> None:
    """Write atomically, so the caller never reads a partial file."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, default=str)
    os.replace(path + ".tmp", path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--fixtures", default="{}")
    ap.add_argument("--work")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t_import = time.time()
    from amazon_lookout_for_equipment_python_sdk_spark import get_spark

    spark = get_spark("perfbench")
    ready = time.time()
    result = {"ready": ready, "import_to_ready_s": ready - t_import}
    traced = bool(args.trace)
    rec = Recorder(spark, traced)
    progress = None
    if traced:
        progress = _progress_log()
        spark.streams.addListener(progress)
    fixtures = json.loads(args.fixtures)
    if args.workload == "queries":
        result.update(run_queries(spark, rec, fixtures, args.seconds))
    elif args.workload == "lookout_flow":
        result.update(run_flow(spark, rec, fixtures["plant"], args.work,
                               args.seconds))
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")
    if progress is not None:
        # listener events arrive asynchronously; let the bus drain
        n = -1
        while n != len(progress.batches):
            n = len(progress.batches)
            time.sleep(0.5)
        result["batches"] = progress.batches
        # the event log is complete only once the context stops
        spark.stop()
    result.update(attempted=rec.attempted, errors=rec.errors,
                  instances=rec.instances, windows=rec.windows)
    # untraced, the caller stops the process group once this file appears
    _write_json(args.out, result)


if __name__ == "__main__":
    main()
