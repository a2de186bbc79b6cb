"""KG-pipeline benchmark: web pages -> extract -> link -> canonicalize ->
materialize, driven through `plans/pipeline.KGPipeline.run`.

    python3 kgbench/run.py --workload kg_small --seed 1 --seconds 1 --trace 0

One process, one Spark driver on local[<cpus>], closed loop: pipeline
runs go back to back, each on a freshly generated input (workloads.py)
with its own run_id, until --seconds have passed (at least one run).
The first run is the one timed: like a spark-submit of the pipeline, it
is the first of its Spark application and pays the JVM's and the Python
workers' cold start. Every run's outputs are checked (checks.py).

--trace 0 reports the end-to-end metrics. --trace 1 instead makes one
traced run on the same first input, again the first of its session —
KGPipeline.run(stop_after=stage) once per stage under one run_id, so
that each call runs exactly one stage — and reports the per-stage
profile (stageprof.py). Every run prints a summary
line starting with "kgbench " and, last, one JSON object with the keys
correct, attempted, failed and metrics. README.md describes the
metrics and the workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# no further timed run starts when it would end past this many seconds
TIME_CAP_S = 150.0
STAGE_METRICS = (
    "wall_s", "jobs", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "python_cpu_s", "shuffle_mb", "driver_gap_s",
    "rows_in", "rows_out",
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    return ap.parse_args(argv)


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for process {pid}")


def _tree_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def _unit(metric: str) -> str:
    return "s" if metric.endswith("_s") else "MB" if metric.endswith("_mb") else "count"


def _start_spark(work: Path, cpus: int):
    from serimi_rdf_interlinking_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # the executors' Python workers import the package from the
    # checkout; Spark's and Python's scratch files stay in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    return get_spark(
        app_name="kgbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


class Bench:
    """One workload's runs on one Spark session."""

    def __init__(self, spark, wl, seed: int, work: Path, cpus: int, scale: float):
        from serimi_rdf_interlinking_spark.config import SerimiConfig

        self.wl, self.seed, self.work = wl, seed, work
        self.cpus, self.scale = cpus, scale
        self.cfg = SerimiConfig(chunk=10, topk=1, shuffle_partitions=cpus)
        self.ckpt = str(work / "ckpt")
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.gen_s: list[float] = []      # input generation + write times
        self.k = 0

    def inputs(self):
        from workloads import make_inputs

        t = time.perf_counter()
        inp = make_inputs(
            self.wl, self.seed, self.k, str(self.work / f"in{self.k}"),
            self.cpus, self.scale,
        )
        self.gen_s.append(time.perf_counter() - t)
        self.k += 1
        return inp

    def pipeline(self, run_id: str, inp, stop_after=None) -> None:
        from serimi_rdf_interlinking_spark.plans.pipeline import KGPipeline

        pages = self.spark.read.parquet(inp.pages_dir)
        target = self.spark.read.parquet(inp.target_dir)
        KGPipeline(self.cfg, self.ckpt, run_id=run_id).run(
            self.spark, pages, target, stop_after=stop_after
        )

    def check(self, run_id: str, inp) -> tuple[list[str], tuple[int, int, int]]:
        from checks import FLOORS, link_counts, output_errors

        root = os.path.join(self.ckpt, run_id)
        errors = output_errors(root, inp.expected)
        tp, pred, gold = link_counts(root, inp.gold)
        floor = FLOORS[self.wl.name]
        if tp < floor["precision"] * pred or tp < floor["recall"] * gold:
            errors.append(f"link quality below floor: tp={tp} pred={pred} gold={gold}")
        return [f"{run_id}: {e}" for e in errors], (tp, pred, gold)


def timed_runs(b: Bench, seconds: float, t_proc: float) -> dict:
    """Untraced pipeline runs, back to back, for `seconds` (at least one).
    "first" holds the first run's time, pages and written MB, or None
    when it failed."""
    out = {"times": [], "first": None, "attempted": 0, "failed": 0,
           "notes": [], "tp": 0, "pred": 0, "gold": 0}
    t_loop = time.perf_counter()
    while True:
        inp = b.inputs()
        run_id = f"run{b.k}"
        out["attempted"] += 1
        t = time.perf_counter()
        try:
            b.pipeline(run_id, inp)
        except Exception as e:  # a failed run counts against the error rate
            errors = [f"{run_id}: {type(e).__name__}: {e}"]
        else:
            out["times"].append(time.perf_counter() - t)
            if out["attempted"] == 1:
                written = _tree_mb(os.path.join(b.ckpt, run_id))
                out["first"] = (out["times"][0], inp.n_pages, written)
            errors, (tp, pred, gold) = b.check(run_id, inp)
            out["tp"] += tp
            out["pred"] += pred
            out["gold"] += gold
        out["failed"] += bool(errors)
        out["notes"] += errors
        now = time.perf_counter()
        if now - t_loop >= seconds or now - t_proc + 1.3 * (now - t) > TIME_CAP_S:
            return out


def traced_run(b: Bench) -> tuple[dict, list[str]]:
    """One pipeline run split into one KGPipeline.run call per stage, on
    a session that has run nothing yet; returns the per-layer metrics
    and the run's check failures."""
    import pyarrow.dataset as ds

    from serimi_rdf_interlinking_spark.functions.kernels import advanced_string_matching
    from serimi_rdf_interlinking_spark.plans.pipeline import KGPipeline
    from stageprof import StatusStore, python_cpu_s

    store = StatusStore(b.spark)
    inp = b.inputs()
    run_id = "traced"
    layers, profiling_s = {}, 0.0
    for stage in KGPipeline.STAGES:
        t = time.perf_counter()
        py0 = python_cpu_s(b.jvm_pid)
        w0, t_stage = time.time(), time.perf_counter()
        profiling_s += t_stage - t
        b.pipeline(run_id, inp, stop_after=stage)
        t = time.perf_counter()
        # read the store now, before later jobs can evict this stage's
        layers[stage] = store.profile(w0 * 1e3, time.time() * 1e3)
        layers[stage]["wall_s"] = t - t_stage
        layers[stage]["python_cpu_s"] = python_cpu_s(b.jvm_pid) - py0
        profiling_s += time.perf_counter() - t
    errors, _counts = b.check(run_id, inp)
    lineage = ds.dataset(os.path.join(b.ckpt, run_id, "lineage"), format="parquet")
    for row in lineage.to_table().to_pylist():
        if row["partition_id"] is None:
            layers[row["stage"]].update(rows_in=row["rows_in"], rows_out=row["rows_out"])

    # the asm kernel on the driver, over an even sample of at most ~400
    # of this input's label pairs
    pairs = sorted(inp.label_pairs)
    sample = pairs[:: max(1, len(pairs) // 400)]
    reps, per_pair = max(1, 400 // len(sample)), []
    for _ in range(5):
        t = time.perf_counter()
        for _r in range(reps):
            for label, name in sample:
                advanced_string_matching(label, name)
        per_pair.append((time.perf_counter() - t) / (reps * len(sample)) * 1e6)

    metrics = {
        f"{stage}.{m}": (layers[stage][m], _unit(m))
        for stage in KGPipeline.STAGES
        for m in STAGE_METRICS
    }
    ex, li, ma = layers["extract"], layers["link"], layers["materialize"]
    metrics.update({
        "extract.triples_per_page": (ex["rows_out"] / ex["rows_in"], "ratio"),
        "link.aligned_per_mention": (li["rows_out"] / inp.n_mentions, "ratio"),
        "materialize.rows_out_per_in": (ma["rows_out"] / ma["rows_in"], "ratio"),
        "link.label_pairs": (len(pairs), "count"),
        "kernels.asm_us_per_pair": (statistics.median(per_pair), "us"),
        "trace.overhead_s": (profiling_s, "s"),
    })
    return metrics, errors


def run(args, wl, work: Path) -> dict:
    t_proc = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    spark = _start_spark(work, cpus)
    try:
        t_session = time.perf_counter() - t_proc
        b = Bench(spark, wl, args.seed, work, cpus, args.scale)
        if args.trace:
            metrics, notes = traced_run(b)
            # JVM heap sizing moves this by ~15% between equal runs, too
            # much for a regression bound: reported here, unbounded
            metrics["driver.peak_rss_mb"] = (
                _hwm_mb(b.jvm_pid) + _hwm_mb("self"), "MB"
            )
            attempted, failed = 1, int(bool(notes))
            summary = {"workload": wl.name, "seed": args.seed, "cpus": cpus,
                       "traced": {k: v for k, (v, _u) in metrics.items()}}
        else:
            r = timed_runs(b, args.seconds, t_proc)
            pipeline_s, pages, written = r["first"] or (0.0, 0, 0.0)
            metrics = {
                # the generation median stands for the one input a set-up makes
                "setup_s": (t_session + statistics.median(b.gen_s), "s"),
                "pipeline_s": (pipeline_s, "s"),
                "pages_per_s": (pages / pipeline_s if pipeline_s else 0.0, "1/s"),
                "link_precision": (r["tp"] / r["pred"] if r["pred"] else 0.0, "ratio"),
                "link_recall": (r["tp"] / r["gold"] if r["gold"] else 0.0, "ratio"),
                "written_mb": (written, "MB"),
            }
            attempted, failed, notes = r["attempted"], r["failed"], r["notes"]
            summary = {
                "workload": wl.name, "seed": args.seed, "cpus": cpus,
                "pipeline_runs_s": r["times"], "error_rate": failed / attempted,
                **{k: v for k, (v, _u) in metrics.items()},
                "peak_rss_mb": _hwm_mb(b.jvm_pid) + _hwm_mb("self"),
            }
    finally:
        _stop_spark(spark)

    for note in notes:
        print(f"kgbench: {note}", file=sys.stderr)
    print("kgbench " + json.dumps(summary))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import serimi_rdf_interlinking_spark as pkg
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"kgbench: the pipeline package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if Path(pkg.__file__).resolve().parent.parent != ROOT:
        print(f"kgbench: {ROOT} holds no pipeline package", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run still uses it
            work.parent.rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
