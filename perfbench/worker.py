"""One run of a workload, in a fresh process.

Sets up (session start plus untimed warm-up passes of the workload), then
runs passes of the workload's operations, each in a new Spark application,
reading peak memory and checking every operation's output outside the
timed region, and writes one JSON record to the path it was given.
``run.py`` starts it; it is not meant to be run by hand.

    python3 perfbench/worker.py '<json config>'
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads as W  # noqa: E402
from spans import RETENTION_CONF, Tracer, exchange_count  # noqa: E402

_ORACLES: dict = {}  # (data_dir, query) -> DuckDB result
CLASSIFICATION_KEYS = ["Model", "Accuracy", "Precision", "Recall", "F1 Score",
                       "Imbalanced", "Classes"]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


class Pass:
    """The workload's operations over one session; each op returns a
    zero-argument check to run after the timed pass."""

    def __init__(self, spark, tracer, cfg):
        self.spark = spark
        self.tr = tracer
        self.cfg = cfg
        self.state: dict = {}
        self.exchanges: dict[str, int] = {}

    # --- registry ---------------------------------------------------------
    def query(self, name):
        from data_pipeline_agent_spark.plans import REGISTRY

        spec = REGISTRY[name]
        module = spec.spark.__module__.rsplit(".", 1)[-1]
        with self.tr.span("plans.build", module=module, op=name):
            df = spec.spark(self.spark, self.cfg["data_dir"])
        with self.tr.span("plans.exec", module=module, op=name):
            pdf = df.toPandas()
        if self.tr.enabled:
            self.exchanges[name] = exchange_count(df)

        def verify():
            key = (self.cfg["data_dir"], name)
            if key not in _ORACLES:  # same inputs in every pass
                _ORACLES[key] = self.duck().execute(spec.oracle).df()
            return check.compare_frames(pdf, _ORACLES[key])

        return verify

    def duck(self):
        if "duck" not in self.state:
            from data_pipeline_agent_spark.session import TABLES

            self.state["duck"] = check.duckdb_views(self.cfg["data_dir"], TABLES)
        return self.state["duck"]

    def write_training_shards(self):
        import pyarrow.parquet as pq

        from data_pipeline_agent_spark.sources.readers import read_any
        from data_pipeline_agent_spark.sources.sinks import write_training_shards

        path = os.path.join(self.cfg["data_dir"], "documents.parquet")
        out_dir = os.path.join(self.cfg["work_dir"], "shards")
        with self.tr.span("sources.read"):
            docs = read_any(self.spark, path)
        with self.tr.span("sources.write"):
            manifest = write_training_shards(docs, out_dir).toPandas()
        self.state["write_mb"] = dir_mb(out_dir)

        def verify():
            n_docs = pq.ParquetFile(path).metadata.num_rows
            return check.check_shards(out_dir, manifest, n_docs)

        return verify

    # --- user path (run_pipeline's order) ---------------------------------
    def read(self):
        from data_pipeline_agent_spark.sources.readers import read_any

        with self.tr.span("sources.read"):
            df = read_any(self.spark, self.cfg["csv"])
        with self.tr.span("pipeline.run"):  # run_pipeline's own preview step
            preview = df.limit(5).toPandas()
        self.state["df"] = df

        def verify():
            from datagen import F1_COLUMNS

            if list(df.columns) != F1_COLUMNS:
                return f"columns {df.columns}"
            if preview["id"].tolist() != [1, 2, 3, 4, 5]:
                return f"preview ids {preview['id'].tolist()}"
            return None

        return verify

    def clean(self):
        from data_pipeline_agent_spark.operators.cleaning import clean_data

        with self.tr.span("operators.cleaning"):
            cleaned, msg = clean_data(self.state["df"])
        with self.tr.span("pipeline.run"):  # run_pipeline caches and counts
            cleaned = cleaned.cache()
            n_rows = cleaned.count()
        self.state.update(cleaned=cleaned, n_rows=n_rows)

        def verify():
            from pyspark.sql import functions as F
            from pyspark.sql.types import NumericType

            n = self.cfg["f1_rows"]
            want = f"Data cleaned: ({n}, 9) → ({n}, {len(cleaned.columns)}) rows/columns"
            if n_rows != n or msg != want:
                return f"rows {n_rows}, message {msg!r}"
            if "ghost" in cleaned.columns or "signup_date" in cleaned.columns:
                return f"columns {cleaned.columns}"
            if not all(isinstance(f.dataType, NumericType) for f in cleaned.schema.fields):
                return f"non-numeric output {cleaned.schema.simpleString()}"
            nulls = cleaned.select(
                sum(F.col(c).isNull().cast("int") for c in cleaned.columns)
            ).first()[0]
            if n_rows and nulls:
                return f"{nulls} nulls left after imputation"
            return None

        return verify

    def viz(self):
        from data_pipeline_agent_spark.pipeline.viz import generate_visualizations

        cleaned = self.state["cleaned"]
        with self.tr.span("pipeline.viz"):
            figs = generate_visualizations(cleaned, W.TARGET, n_rows=self.state["n_rows"])

        def verify():
            want = ["Dataset Overview", f"Target Distribution ({W.TARGET})",
                    "Feature Correlation"]
            want += [f"Feature {i + 1}: {c}" for i, c in enumerate(cleaned.columns[:5])]
            return check.check_svg_figures(figs, want)

        return verify

    def train(self):
        from data_pipeline_agent_spark.ml.train import train_model

        model_dir = os.path.join(self.cfg["work_dir"], "models")
        with self.tr.span("ml.train"):
            path, metric, _ = train_model(self.state["cleaned"], W.TARGET, model_dir=model_dir)
        self.state["metric"] = metric

        def verify():
            if list(metric) != CLASSIFICATION_KEYS:
                return f"metric keys {list(metric)}"
            return None if os.path.isdir(path) else f"no saved model at {path}"

        return verify

    def llm(self):
        from data_pipeline_agent_spark.pipeline.llm import llm_insight

        cleaned = self.state["cleaned"]
        prompt = (
            f"The dataset has {self.state['n_rows']} rows and {len(cleaned.columns)} "
            f"columns.\nTarget column: {W.TARGET}.\n"
            f"Model performance: {self.state.get('metric')}.\n"
            "Key insight summary in 5 sentences."
        )
        with self.tr.span("pipeline.llm"):
            text = llm_insight(prompt)
        cleaned.unpersist()

        def verify():
            # no API key in the benchmark's environment: the documented
            # fast-fail string, never a network wait
            return None if text.startswith("LLM call failed") else f"llm returned {text[:80]!r}"

        return verify

    def run_pipeline(self):
        from data_pipeline_agent_spark.pipeline.run import run_pipeline

        model_dir = os.path.join(self.cfg["work_dir"], "models")
        with self.tr.span("pipeline.run"):
            html, path = run_pipeline(self.spark, self.cfg["csv"], W.TARGET, model_dir=model_dir)
        return lambda: check.check_report_html(html, CLASSIFICATION_KEYS, path)

    def run_op(self, op):
        from data_pipeline_agent_spark.plans import REGISTRY

        if op in REGISTRY:
            return self.query(op)
        return getattr(self, op)()


def reset_peak_rss(*pids) -> None:
    """Start a new VmHWM window for each process (Linux clear_refs)."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def run_pass(spark, cfg, ops, traced: bool, pass_no) -> dict:
    """One pass of the workload's operations; checks run after the timing."""
    from data_pipeline_agent_spark.operators.bpe import _FROZEN_CACHE
    from data_pipeline_agent_spark.operators.similarity import _KMEANS_CACHE, _PQ_BOOKS_CACHE

    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(spark, f"{cfg['run_id']}.{pass_no}", enabled=traced)
    p = Pass(spark, tracer, cfg)
    rec: dict = {"ops": [], "traced": traced}
    checks = []
    reset_peak_rss("self", jvm_pid)
    with tracer.span("pass") as pass_span:
        for op in ops:
            with tracer.span("op", op=op) as span:
                try:
                    checks.append(p.run_op(op))
                    err = None
                except Exception as exc:  # a failed op is counted, not fatal
                    err = f"{type(exc).__name__}: {exc}"[:300]
                    checks.append(None)
            rec["ops"].append({"op": op, "error": err, "span": span})
    rec["pass_s"] = pass_span["end"] - pass_span["start"]
    rec["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    app = spark.sparkContext.applicationId
    rec["fit_cache_entries"] = sum(
        1 for c in (_KMEANS_CACHE, _PQ_BOOKS_CACHE, _FROZEN_CACHE) for k in c if k[0] == app
    )
    rec["write_mb"] = p.state.get("write_mb", 0.0)
    rec["exchanges"] = p.exchanges
    for verify, o in zip(checks, rec["ops"]):
        span = o.pop("span")
        o["s"] = span["end"] - span["start"]
        if o["error"] is None:
            try:
                o["error"] = verify()
            except Exception as exc:  # a check that cannot run fails its op
                o["error"] = f"check {type(exc).__name__}: {exc}"[:300]
    if traced:
        rec["spans"] = tracer.spans
    return rec


def new_app(spark, traced: bool):
    """Stop the session and start a new Spark application in the same JVM;
    status-store retention is raised for a traced pass only."""
    from data_pipeline_agent_spark.session import get_spark

    system = spark.sparkContext._jvm.java.lang.System
    for k, v in RETENTION_CONF.items():
        if traced:
            system.setProperty(k, v)
        else:
            system.clearProperty(k)
    spark.stop()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, cfg["root"])
    rec: dict = {"warm_passes": [], "passes": []}
    t0 = time.perf_counter()
    from data_pipeline_agent_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    rec["start_s"] = time.perf_counter() - t0
    rec["jvm_pid"] = spark.sparkContext._gateway.proc.pid
    try:
        # Warm-up: untimed passes of the workload, so that the timed passes
        # start with the JVM's compiled code for their paths in place.
        t1 = time.perf_counter()
        for i in range(cfg["warm_passes"]):
            if i:
                spark = new_app(spark, traced=False)
            rec["warm_passes"].append(run_pass(spark, cfg, cfg["warm_ops"], False, f"w{i}"))
        rec["warmup_s"] = time.perf_counter() - t1
        rec["setup_s"] = time.time() - cfg["t_spawn"]

        # Closed loop: one pass after another, each in a new Spark
        # application (cold fit caches, no cached frames) in the same JVM.
        # A trace run brackets one traced pass with two untraced ones.
        plan = [False, True, False] if cfg["trace"] else [False] * cfg["passes"]
        for pass_no, traced in enumerate(plan):
            spark = new_app(spark, traced)
            ops = cfg["ops"] if traced or not cfg["trace"] else cfg["untraced_ops"]
            rec["passes"].append(run_pass(spark, cfg, ops, traced, pass_no))
    except Exception:
        rec["fatal"] = traceback.format_exc()[-2000:]
    finally:
        rec["loop_s"] = time.time() - cfg["t_spawn"] - rec.get("setup_s", 0.0)
        with open(cfg["out"], "w") as fh:
            json.dump(rec, fh)
        spark.stop()


if __name__ == "__main__":
    main()
