"""Repository benchmark: one command, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Run from the repository root; ``README.md`` beside this file describes
the workloads, the metrics and the layer each per-layer metric belongs
to.  Workloads:

* ``queries``      -- registered queries from ``plans.queries.QUERIES`` on
  three seeded fixtures: the flagship time-series spine on uniform keys,
  the rolling z-score on hot keys, and duplicate-bigram statistics on
  long documents.  A pass runs every query once.
* ``lookout_flow`` -- the tutorial flow through the package API: ingest,
  fit, transform + evaluate + plot, replay, then scheduled inference once
  per landed slot, then reading the results back.

Each run generates (or reuses) its fixtures from ``--seed``, launches
the engine once in a fresh worker process and runs the workload there:
one cold pass, then warm passes (``queries``) or landed slots
(``lookout_flow``), as many as fill ``--seconds`` on a quiet host (the
count is fixed from ``--seconds``, so that every run stops at the same
point of the JVM's warm-up).  The outputs are checked on the cold pass
(``queries``: every query against its DuckDB oracle) or at the end
(``lookout_flow``: slot status, result files, planted anomaly).

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (worker process
start until ``get_spark`` returns; one launch per run, because a second
launch would not fit the run budget -- the median is taken over runs),
``cold_pass_s`` (first pass in a fresh session; for ``lookout_flow``
ingest through the first scored slot), ``pass_s`` (median warm pass; for
``lookout_flow`` the median latency of the later slots, from file
landing to results written) and ``peak_rss_mb`` (the worker's process
tree: Python driver, JVM, Python workers).  ``--trace 1`` enables the
Spark event log, job descriptions, Catalyst phase timing and a streaming
progress listener, and prints the per-layer metrics instead.  The last
stdout line is the result JSON; the line before it is a compact summary.
Exits non-zero, printing no result, when the engine cannot be launched
or the workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "amazon_lookout_for_equipment_python_sdk_spark"
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import tracing  # noqa: E402
from worker import QUERY_SET  # noqa: E402

#: hard limit for one run, below the 180 s a run may take
RUN_LIMIT_S = 170
WORKLOAD_FIXTURES = {
    "queries": ("star", "skew", "longdoc"),
    "lookout_flow": ("plant",),
}
GiB = 1 << 30


def host_memory_bytes() -> int:
    """Memory this process may use: the cgroup limit, else MemTotal."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            v = f.read().strip()
        if v != "max":
            return int(v)
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("cannot read MemTotal from /proc/meminfo")


def driver_heap_mb(mem: int, cpus: int) -> int:
    """Driver heap: a quarter of visible memory, and never more than what
    is left after 1 GiB per Python worker core plus 2 GiB for the OS.
    The engine pins Xms to this value and pre-touches it."""
    heap = min(mem // 4, mem - cpus * GiB - 2 * GiB)
    if heap < GiB:
        raise SystemExit(f"perfbench: {mem / GiB:.1f} GiB visible with "
                         f"{cpus} cores leaves no room for a 1 GiB driver heap")
    return heap // (256 << 20) * 256


def launch_env(run_dir: str, heap_mb: int, cpus: int, traced: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    confs = ["spark.ui.showConsoleProgress=false"]
    if traced:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{run_dir}/eventlog"]
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in confs)
        + " pyspark-shell",
        "PYTHONPATH": ROOT,
    })
    return env


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _tree_rss_kb(root_pid: int) -> dict[int, int]:
    """Resident memory in KiB of ``root_pid`` and each of its
    descendants."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(d)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {p: rss[p] for p in tree if p in rss}


def _stop_group(proc: subprocess.Popen, gentle: bool) -> None:
    """Stop the worker's whole process group (driver, JVM, Python
    workers) and wait until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL) if gentle else (
            signal.SIGKILL,):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            proc.poll()
            time.sleep(0.05)
    proc.wait()


def spawn_worker(args: list[str], env: dict, cwd: str, out: str,
                 limit_s: float, kill_on_result: bool
                 ) -> tuple[dict, float, int]:
    """Run ``worker.py`` in its own process group.  Returns its result,
    the spawn-to-ready seconds and the peak RSS of its tree in KiB.  With
    ``kill_on_result`` the group is killed as soon as the result file
    appears: nothing after that point needs an orderly shutdown."""
    peak = [0]
    t_spawn = time.time()
    with open(os.path.join(cwd, "worker.log"), "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--out", out]
            + args, env=env, cwd=cwd, stdout=log, stderr=log,
            start_new_session=True)
    done = threading.Event()

    def sampler():
        # count only processes seen in two samples in a row: a child the
        # JVM has just forked reports the JVM's whole resident set until
        # it execs, which would read as a doubled peak
        prev: dict[int, int] = {}
        while not done.is_set():
            cur = _tree_rss_kb(proc.pid)
            peak[0] = max(peak[0], sum(v for p, v in cur.items() if p in prev))
            prev = cur
            done.wait(0.2)

    th = threading.Thread(target=sampler, daemon=True)
    th.start()
    try:
        if kill_on_result:
            deadline = time.monotonic() + limit_s
            while (not os.path.exists(out) and proc.poll() is None
                   and time.monotonic() < deadline):
                time.sleep(0.02)
        else:
            proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        pass
    finally:
        done.set()
        th.join()
        _stop_group(proc, gentle=not kill_on_result)
    if not os.path.exists(out) or (proc.returncode != 0
                                   and not kill_on_result):
        with open(os.path.join(cwd, "worker.log"), "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"worker {args[:2]} exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    return res, res["ready"] - t_spawn, peak[0]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_metrics(res: dict, log_dir: str, workload: str,
                  untraced_pass: float | None) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the coverage report."""
    stats = tracing.parse_event_log(log_dir, res["windows"])
    inst = {k: v for k, v in res["instances"].items() if "wall_s" in v}
    if workload == "queries":
        warm = [k for k, v in inst.items() if v["pass"] > 1]
        n_pass = max(1, len({inst[k]["pass"] for k in warm}))
    else:
        warm, n_pass = list(inst), 1

    def tot(attr: str, phase: str = "*") -> float:
        return sum(getattr(stats[k][phase], attr)
                   for k in warm if k in stats and phase in stats[k]) / n_pass

    def jobs_union(k: str, phases=("build", "plan", "run")) -> float:
        return sum(stats[k][p].union_ms for p in phases
                   if k in stats and p in stats[k])

    m = {"session.launch_s": _metric(res["launch_s"], "s")}
    q = [inst[k] for k in warm if "build_s" in inst[k]]
    m["plans.build_s"] = _metric(sum(i["build_s"] for i in q) / n_pass, "s")
    m["plans.build_jobs"] = _metric(
        sum(stats[k]["build"].jobs for k in warm
            if k in stats and "build" in stats[k]) / n_pass, "count")
    for name, phase in (("analyze", "analysis"), ("optimize", "optimization"),
                        ("physical", "planning")):
        m[f"plans.{name}_ms"] = _metric(
            sum(i.get(phase, 0.0) for i in q) / n_pass, "ms")
    m["operators.run_ms"] = _metric(sum(jobs_union(k) for k in warm) / n_pass,
                                    "ms")
    for attr, unit in (("cpu_ms", "ms"), ("gc_ms", "ms"),
                       ("shuffle_read_bytes", "bytes"),
                       ("shuffle_write_bytes", "bytes"),
                       ("fetch_wait_ms", "ms"), ("spill_bytes", "bytes")):
        m[f"operators.{attr}"] = _metric(tot(attr), unit)
    stage_ms = tot("stage_ms")
    m["operators.max_task_share"] = _metric(
        tot("stage_share_ms") / stage_ms if stage_ms else 0.0, "ratio")
    for attr, unit in (("py_start_ms", "ms"), ("py_run_ms", "ms"),
                       ("py_bytes", "bytes")):
        m[f"operators.{attr}"] = _metric(tot(attr), unit)
    m["sources.input_bytes"] = _metric(tot("input_bytes"), "bytes")

    steps = res.get("steps_s", {})
    for key in ("sources.ingest", "ml.fit", "ml.transform", "ml.evaluate",
                "plot.render", "sources.replay_write"):
        m[f"{key}_s"] = _metric(steps.get(key, 0.0), "s")
    m["sources.read_results_s"] = _metric(res.get("read_results_s", 0.0), "s")

    batches = res.get("batches", [])
    slots = res.get("slots", [])
    by_run: dict[str, float] = {}
    for b in batches:
        by_run[b["run_id"]] = by_run.get(b["run_id"], 0.0) + b["batch_ms"]
    overheads = [s * 1000 - by_run[r] for s, r in
                 zip(slots, res.get("slot_run_ids", [])) if r in by_run]
    m["streaming.batch_ms"] = _metric(
        statistics.median([b["batch_ms"] for b in batches]) if batches
        else 0.0, "ms")
    m["streaming.start_overhead_ms"] = _metric(
        statistics.median(overheads) if overheads else 0.0, "ms")
    m["streaming.input_rows"] = _metric(
        float(sum(b["input_rows"] for b in batches)), "rows")

    per_q = res.get("per_query_s", {})
    for name, kind in QUERY_SET:
        m[f"q.{name}.{kind}.s"] = _metric(per_q.get(f"{name}.{kind}", 0.0),
                                          "s")
    attempted = res["attempted"]
    m["error_rate"] = _metric(len(res["errors"]) / attempted, "ratio")
    m["trace.pass_s"] = _metric(res["pass_s"], "s")
    m["trace.overhead_s"] = _metric(
        res["pass_s"] - untraced_pass if untraced_pass else 0.0, "s")

    # coverage: the share of each operation's traced wall time that the
    # layer times account for -- plan build (Python builder, analysis and
    # any eager jobs), Catalyst optimization and physical planning, and
    # Spark jobs while the result drains.  What is left is named by the
    # phase it falls in.
    phase_wall: dict[tuple, float] = {}
    for k, phase, a, b in res["windows"]:
        phase_wall[(k, phase)] = phase_wall.get((k, phase), 0.0) + b - a
    gaps: dict[str, list] = {}
    for k, i in inst.items():
        if "build_s" in i:
            plan_gap = phase_wall.get((k, "plan"), 0.0) - i.get(
                "optimization", 0.0) - i.get("planning", 0.0)
            run_gap = phase_wall.get((k, "run"), 0.0) - jobs_union(k, ("run",))
            named = {"driver time outside Catalyst phases": plan_gap,
                     "driver time between jobs while draining": run_gap}
        else:
            named = {"driver time outside Spark jobs (plan build, Catalyst, Python, file I/O)":
                     i["wall_s"] * 1000 - jobs_union(k)}
        gaps.setdefault(i["name"], []).append((i["wall_s"], named))
    report = {}
    for name, vals in gaps.items():
        wall = statistics.median(w for w, _ in vals)
        named = {g: statistics.median(n[g] for _, n in vals) / 1000
                 for g in vals[0][1]}
        report[name] = (1 - sum(max(0.0, v) for v in named.values()) / wall,
                        max(named, key=named.get), max(named.values()))
    m["trace.coverage_min"] = _metric(
        min((v[0] for v in report.values()), default=0.0), "ratio")
    return m, report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_FIXTURES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # on SIGTERM, unwind through the finally blocks that stop the worker
    # process group and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    load1 = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    heap_mb = driver_heap_mb(host_memory_bytes(), cpus)
    cache = os.path.join(ROOT, ".perfbench_cache")
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_s, fx = 0.0, {}
        for kind in WORKLOAD_FIXTURES[args.workload]:
            fx[kind], dt = fixtures.ensure(cache, kind, args.seed)
            gen_s += dt
        traced = bool(args.trace)
        env = launch_env(run_dir, heap_mb, cpus, traced)

        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        steal0, total0 = _cpu_jiffies()
        res, ready_s, peak_kb = spawn_worker(
            ["--workload", args.workload, "--fixtures", json.dumps(fx),
             "--work", work, "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            env, run_dir, os.path.join(run_dir, "result.json"),
            RUN_LIMIT_S - (time.monotonic() - t_start),
            kill_on_result=not traced)
        steal1, total1 = _cpu_jiffies()
        res["launch_s"] = ready_s

        errors = res["errors"]
        summary = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "heap_mb": heap_mb, "load1_before": load1,
            "fixture_gen_s": round(gen_s, 3),
            # CPU time the hypervisor gave to other guests while the
            # workload ran: host contention this run could not see
            "steal_pct": round(100 * (steal1 - steal0)
                               / max(1, total1 - total0), 2),
        }
        untraced_cache = os.path.join(
            cache, f"untraced-{args.workload}-s{args.seed}.json")
        if traced:
            untraced = None
            if os.path.exists(untraced_cache):
                with open(untraced_cache) as f:
                    untraced = json.load(f)["pass_s"]
            metrics, cover = layer_metrics(res, os.path.join(
                run_dir, "eventlog"), args.workload, untraced)
            summary["overhead_base"] = ("untraced run, same seed" if untraced
                                        else "none yet: run --trace 0 first")
            summary["coverage_gaps"] = {
                n: f"{share:.0%} covered; largest gap {gap_s:.2f}s: {gap}"
                for n, (share, gap, gap_s) in cover.items() if share < 0.9}
        else:
            metrics = {
                "setup_s": _metric(ready_s, "s"),
                "cold_pass_s": _metric(res["cold_pass_s"], "s"),
                "pass_s": _metric(res["pass_s"], "s"),
                "peak_rss_mb": _metric(peak_kb / 1024, "MB"),
            }
            with open(untraced_cache, "w") as f:
                json.dump({"pass_s": res["pass_s"]}, f)
            if "per_query_s" in res:
                summary["per_query_s"] = {k: round(v, 3) for k, v in
                                          res["per_query_s"].items()}
                summary["passes_s"] = [round(x, 3) for x in res["passes"]]
            else:
                summary["flow"] = {
                    **{k: round(v, 3) for k, v in res["steps_s"].items()},
                    "slots_s": [round(x, 3) for x in res["slots"]],
                    "flow_s": round(res["flow_s"], 3),
                }
        summary["errors"] = errors
        print(json.dumps(summary, separators=(",", ":")))
        print(json.dumps({"correct": not errors,
                          "attempted": res["attempted"],
                          "failed": len(errors), "metrics": metrics},
                         separators=(",", ":")))
        return 0
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
