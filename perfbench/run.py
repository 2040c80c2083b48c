"""Benchmark of the engine's user path and its registry, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload report_f1 --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --selftest

Each run generates its inputs from ``--seed`` (cached by seed under
``.perfbench_cache/``) and starts one fresh worker process (``worker.py``).
The worker sets up (session start, then untimed warm-up passes of the
workload, which take the JVM's steepest warming), then one client runs
timed passes of the workload back to back (closed loop). The number of
timed passes is ``--seconds`` over the workload's nominal pass time, and
at least three; it depends on nothing measured, because the JVM still
warms slowly over the passes and a different count would move the per-op
medians. Every pass runs in a new Spark application, so the engine's fit
caches start empty, as on a user's first query. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones below;
with ``--trace 1`` a traced pass runs between two untraced ones, and the
metrics are the per-layer ones (see ``per_layer``).

End-to-end metrics:
  setup_s      process start to ready: session start plus the warm-up
               passes
  wall_s       seconds of one pass of the workload's operations, each op
               at its median over the passes (a host stall in one pass
               moves one sample of one op, not the metric)
  op_p50_s     the median over ops of each op's median seconds

Peak resident memory (VmHWM of the Python driver plus its JVM, during each
pass) is printed with every run but is a per-layer metric
(``process.peak_rss_mb``), not an end-to-end one: it moves by a third from
one JVM to the next on the same input.

``attempted``/``failed`` count the operations of every pass, the warm-up
passes too; an operation fails when it raises or when its output check
fails (see ``check.py``).
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from spans import self_times  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s
MIN_PASSES = 3  # each op's median over three passes filters a stall in one
DRIVER_MEM = "2g"
# Registry modules the listed workloads use; per-layer build/exec time is
# printed for each (and for any other module a run touches).
MODULES = [
    "queries_relational", "queries_tpch_extra", "queries_joins", "queries_dedup",
    "queries_curation", "queries_corpus",
]
PLAN_COUNTERS = [
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seeded inputs; returns paths for the worker."""
    import datagen

    spec = W.WORKLOADS[workload]
    out = {}

    def cached(name, make):
        path = os.path.join(CACHE, "inputs", name)
        if not os.path.isdir(path):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            make(tmp)
            os.replace(tmp, path)
        return path

    def tables(sf):
        return cached(f"sf{sf}-seed{seed}", lambda d: datagen.write_tables(d, seed, sf))

    def f1(rows):
        d = cached(
            f"f1-{rows}-seed{seed}",
            lambda d: datagen.write_f1_csv(os.path.join(d, "f1.csv"), seed, rows),
        )
        return os.path.join(d, "f1.csv")

    if "sf" in spec:
        out["data_dir"] = tables(spec["sf"])
    if "f1_rows" in spec:
        out["csv"] = f1(spec["f1_rows"])
        out["f1_rows"] = spec["f1_rows"]
    return out


def worker_env() -> dict:
    env = dict(os.environ)
    env.pop("GROQ_API_KEY", None)  # llm_insight must fail fast, never dial out
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def pinned_env() -> dict:
    keys = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")
    env = worker_env()
    return {
        **{k: env[k] for k in keys},
        "GROQ_API_KEY": "unset",
        "python": sys.version.split()[0],
        "spark_master": f"local[{env['SPARK_GRAFT_CPUS']}]",
    }


def _wait_gone(pid: int, timeout: float) -> None:
    end = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
        time.sleep(0.05)
    if os.path.exists(f"/proc/{pid}"):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_worker(workload, spec, paths, trace, passes, deadline) -> dict:
    work_dir = os.path.join(CACHE, "work", str(os.getpid()))
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    out = os.path.join(work_dir, "record.json")
    cfg = {
        **paths,
        "root": ROOT,
        "ops": spec["ops"],
        "untraced_ops": spec.get("untraced_ops", spec["ops"]),
        "warm_ops": spec.get("warm_ops", spec["ops"]),
        "warm_passes": spec["warm_passes"],
        "trace": trace,
        "passes": passes,
        "run_id": f"{workload}.{os.getpid()}",
        "work_dir": work_dir,
        "out": out,
    }
    cfg["t_spawn"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=work_dir,
        env=worker_env(),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        worker_s = time.time() - cfg["t_spawn"]
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{workload} passed the run's time limit", 1)
    rec = {}
    if os.path.exists(out):
        with open(out) as fh:
            rec = json.load(fh)
    if "jvm_pid" in rec:
        _wait_gone(rec["jvm_pid"], 20.0)
    try:
        os.killpg(proc.pid, signal.SIGKILL)  # anything the worker left behind
    except ProcessLookupError:
        pass
    if proc.returncode != 0 or "fatal" in rec or "setup_s" not in rec:
        tail = rec.get("fatal") or err.decode(errors="replace")[-2000:]
        fail(f"{workload} failed:\n{tail}", 1)
    shutil.rmtree(work_dir, ignore_errors=True)
    rec["worker_s"] = worker_s
    return rec


def pass_summary(p) -> dict:
    keep = ("traced", "pass_s", "peak_rss_mb", "fit_cache_entries")
    return {k: p[k] for k in keep} | {"ops": {o["op"]: o["s"] for o in p["ops"]}}


def end_to_end(rec, passes) -> dict:
    per_op = [statistics.median(p["ops"][i]["s"] for p in passes)
              for i in range(len(passes[0]["ops"]))]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (sum(per_op), "s"),
        "op_p50_s": (statistics.median(per_op), "s"),
    }


def unit_of(name: str) -> str:
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


def per_layer(rec, traced, untraced, n_cpus) -> dict:
    """Per-layer metrics of the traced pass; ``untraced`` are the passes
    run just before and after it."""
    spans = traced["spans"]
    own = self_times(spans)

    def pick(name, **attrs):
        return [s for s in spans if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    def total(ss, key=None):
        return sum(own[s["id"]] if key is None else s.get(key, 0.0) for s in ss)

    m = {
        "session.start_s": (rec["start_s"], "s"),
        "session.warmup_s": (rec["warmup_s"], "s"),
        "process.peak_rss_mb": (statistics.mean(p["peak_rss_mb"] for p in untraced), "MB"),
    }
    read, write = pick("sources.read"), pick("sources.write")
    m["sources.read_s"] = (total(read), "s")
    m["sources.read_jobs"] = (total(read, "jobs"), "count")
    m["sources.write_s"] = (total(write), "s")
    m["sources.write_mb"] = (traced["write_mb"], "MB")

    build, exe = pick("plans.build"), pick("plans.exec")
    m["plans.build_s"] = (total(build), "s")
    m["plans.build_jobs"] = (total(build, "jobs"), "count")
    m["plans.exec_s"] = (total(exe), "s")
    for c in PLAN_COUNTERS:
        m[f"plans.{c}"] = (total(build + exe, c), unit_of(c))
    m["plans.sched_gap_s"] = (total(exe) - total(exe, "executor_run_s") / n_cpus, "s")
    m["plans.peak_exec_mem_mb"] = (
        max((s["peak_exec_mem_mb"] for s in build + exe), default=0.0), "MB")
    m["plans.exchanges"] = (sum(traced["exchanges"].values()), "count")
    seen = sorted({s["module"] for s in build} - set(MODULES))  # hand-run workloads
    for mod in MODULES + seen:
        m[f"plans.{mod}.build_s"] = (total(pick("plans.build", module=mod)), "s")
        m[f"plans.{mod}.exec_s"] = (total(pick("plans.exec", module=mod)), "s")

    clean = pick("operators.cleaning")
    m["operators.cleaning.s"] = (total(clean), "s")
    m["operators.cleaning.jobs"] = (total(clean, "jobs"), "count")
    m["operators.fit_cache_entries"] = (traced["fit_cache_entries"], "count")
    viz = pick("pipeline.viz")
    m["pipeline.viz.s"] = (total(viz), "s")
    m["pipeline.viz.jobs"] = (total(viz, "jobs"), "count")
    m["pipeline.llm.s"] = (total(pick("pipeline.llm")), "s")
    run_own = pick("pipeline.run")
    m["pipeline.run.other_s"] = (total(run_own), "s")
    m["pipeline.run.other_jobs"] = (total(run_own, "jobs"), "count")

    # self time of the pass and op spans: glue, output handling, counter reads
    glue = pick("pass") + pick("op")
    m["trace.unattributed_s"] = (total(glue), "s")
    m["trace.overhead_s"] = (
        traced["pass_s"] - statistics.mean(p["pass_s"] for p in untraced), "s")

    train = pick("ml.train")
    if train:  # report_f1_train only
        m["ml.train.s"] = (total(train), "s")
        for c in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_mb"):
            m[f"ml.train.{c}"] = (total(train, c), unit_of(c))
        m["ml.train.sched_gap_s"] = (total(train) - total(train, "executor_run_s") / n_cpus, "s")
        run = [o["s"] for p in untraced for o in p["ops"] if o["op"] == W.RUN_PIPELINE]
        if run:
            layers = [s for s in spans if s not in glue]
            m["pipeline.run.reconcile_s"] = (statistics.mean(run) - total(layers), "s")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--time-limit", type=float, default=RUN_LIMIT_S,
                    help="seconds after which the run is abandoned (raise it for "
                         "the workloads not in BENCHMARK.json)")
    ap.add_argument("--selftest", action="store_true",
                    help="check that traced status-store counts lose no job or stage")
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + args.time_limit

    if not os.path.isfile(os.path.join(ROOT, "data_pipeline_agent_spark", "__init__.py")):
        fail(f"no engine package next to {HERE}; run from a checkout of the repository")
    if args.selftest:
        import selftest

        ok = selftest.main(worker_env)
        sys.exit(0 if ok else 1)
    if not args.workload:
        fail("--workload is required")

    spec = W.WORKLOADS[args.workload]
    paths = inputs(args.workload, args.seed)
    n_passes = max(MIN_PASSES, round(args.seconds / spec["pass_s"]))
    if args.trace:
        rec = run_worker(args.workload, spec, paths, True, n_passes, deadline)
        passes = rec["passes"]
        metrics = per_layer(rec, passes[1], [passes[0], passes[2]], cpus())
    else:
        rec = run_worker(args.workload, spec, paths, False, n_passes, deadline)
        passes = rec["passes"]
        metrics = end_to_end(rec, passes)
    ops = [o for p in rec["warm_passes"] + passes for o in p["ops"]]
    errors = [f"{o['op']}: {o['error']}" for o in ops if o["error"]]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": pinned_env(),
        "inputs": paths,
        "start_s": rec["start_s"],
        "warmup_s": rec["warmup_s"],
        "setup_s": rec["setup_s"],
        "loop_s": rec["loop_s"],
        "worker_s": rec["worker_s"],
        "run_s": time.monotonic() - t_start,
        "warm_passes": [pass_summary(p) for p in rec["warm_passes"]],
        "passes": [pass_summary(p) for p in passes],
        "errors": errors[:20],
    }
    result = {
        "correct": not errors,
        "attempted": len(ops),
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(CACHE, "results", name), "w") as fh:
        spans = {"spans": passes[1]["spans"]} if args.trace else {}
        json.dump({**detail, **spans, "result": result}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
