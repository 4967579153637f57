"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload etl_topology --seed 1 --seconds 3 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(name -> value and unit). ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones and writes spans and a self-time table
under ``.perfbench/run/``. The exit code is 1 when any output check
fails and 2 when the program to measure is not there.

This process never starts Spark itself. It generates (or reuses) the
seeded inputs, starts one worker process (a fresh Spark session, so its
set-up and first operation are cold), checks every output the worker
left, and aggregates. See README.md in this directory for the metric
definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import format_self_times  # noqa: E402

#: a worker still running this long after the run began is killed
DEADLINE_S = 165.0
#: driver heap for the measured session (get_spark's own default is 8g)
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "records_per_s": "rec/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "success_rate": "ratio",
}

PER_LAYER = {
    "plans.compile_s": "s",
    "pipeline.build_s": "s",
    "pipeline.py4j_calls": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "operators.chain_s": "s",
    "operators.records_out": "count",
    "sinks.write_s": "s",
    "sinks.output_bytes": "bytes",
    "sinks.output_records": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_wait_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.stages": "count",
    "exec.stages_empty": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.peak_rss_mb": "MB",
    "exec.slot_util": "ratio",
    "exec.task_skew": "ratio",
    "dedup.exact_s": "s",
    "dedup.signature_s": "s",
    "dedup.pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.pair_recall": "ratio",
    "ann.build_s": "s",
    "ann.open_s": "s",
    "ann.search_build_s": "s",
    "ann.search_exec_s": "s",
    "ann.query_input_bytes": "bytes",
    "ann.recall_at_10": "ratio",
    "trace.overhead_ratio": "ratio",
}


class WorkerFailed(RuntimeError):
    pass


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum (p100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def worker_env(run_dir: str, cores: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    # keep every file Spark and its JVMs write inside the run directory
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        # the short-lived JVM spark-class runs to build the driver command
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    return env


def installation_files() -> list[str]:
    """The Spark jars and the JDK module image: what a worker's JVM
    start and first operation read most."""
    paths = []
    spec = importlib.util.find_spec("pyspark")
    if spec is not None and spec.submodule_search_locations:
        jars = os.path.join(spec.submodule_search_locations[0], "jars")
        if os.path.isdir(jars):
            paths += [os.path.join(jars, f) for f in sorted(os.listdir(jars)) if f.endswith(".jar")]
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java:
        modules = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))), "lib", "modules")
        if os.path.isfile(modules):
            paths.append(modules)
    return paths


def warm_page_cache(paths: list[str]) -> None:
    """Read ``paths`` once, outside any timed region. Other tenants of
    this host evict the page cache within minutes; a cold read of the
    Spark jars then takes ~6 s instead of 0.1 s, and set-up and the
    first operation would time the disk instead of the program. The
    files are only read."""
    for p in paths:
        with open(p, "rb") as fh:
            while fh.read(1 << 20):
                pass


def _stop_group(proc: subprocess.Popen, grace_s: float = 15.0) -> None:
    """Wait until every process of the worker's group (its JVM too) has
    ended; kill the group if it outlives ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def run_worker(mode: str, args, data_dir: str, run_dir: str, cores: int, deadline: float) -> dict:
    env = worker_env(run_dir, cores)
    work = os.path.join(run_dir, "worker")
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data_dir, "--work", work,
           "--seconds", str(args.seconds), "--mode", mode, "--cores", str(cores),
           "--result", result_path]
    with open(os.path.join(work, "worker.log"), "wb") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "worker.log"), "rb") as fh:
            log_tail = fh.read()[-3000:].decode(errors="replace")
        reason = "timed out" if code is None else f"exited with {code}"
        raise WorkerFailed(f"{mode} worker {reason}; log tail:\n{log_tail}")
    with open(result_path) as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready_epoch"] - spawned
    res["worker_s"] = time.time() - spawned
    return res


def end_to_end(workload: str, full: dict, ok: int, attempted: int) -> tuple[dict, dict]:
    warm = [o for o in full["ops"][1:] if "wall_s" in o and not o.get("warmup")]
    cold = full["ops"][0].get("run_s")
    if not warm or cold is None:
        raise WorkerFailed("no successful operation to time")
    run_s = statistics.median(o["run_s"] for o in warm)
    if workload == "ann_index":
        lat = [q["wall_s"] for o in warm for q in o["queries"]]
    else:
        # a batch workload's request is the whole operation
        lat = [o["wall_s"] for o in warm]
    tail_v, tail_p = tail(lat)
    metrics = {
        "setup_s": full["setup_s"],
        "first_run_s": cold,
        "run_s": run_s,
        "records_per_s": full["records"] / run_s,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "success_rate": ok / attempted,
    }
    notes = {"warmup_ops": sum(1 for o in full["ops"] if o.get("warmup")), "warm_ops": len(warm), "query_samples": len(lat), "query_tail_percentile": round(tail_p, 1),
             "op_s": [round(o["run_s"], 3) for o in full["ops"] if "run_s" in o],
             "worker_s": round(full["worker_s"], 1)}
    return metrics, notes


def overhead_ratios(ops: list[dict]) -> list[float]:
    """Each traced operation's run_s over the mean of the untraced
    operations just before and after it."""
    out = []
    for before, op, after in zip(ops, ops[1:], ops[2:]):
        if op.get("layers") and "run_s" in before and "run_s" in after \
                and not before["traced"] and not after["traced"]:
            out.append(op["run_s"] / ((before["run_s"] + after["run_s"]) / 2))
    return out


def per_layer(worker: dict) -> tuple[dict, dict]:
    ops = worker["ops"]
    traced = [o["layers"] for o in ops if o.get("layers")]
    ratios = overhead_ratios([o for o in ops[1:] if not o.get("warmup")])
    if not traced or not ratios:
        raise WorkerFailed("no successful traced operation between two untraced ones")
    metrics = {name: statistics.median(t.get(name, 0.0) for t in traced) for name in PER_LAYER}
    metrics["trace.overhead_ratio"] = statistics.median(ratios)
    metrics["exec.peak_rss_mb"] = worker["peak_rss_mb"]
    notes = {"traced_ops": len(traced), "overhead_samples": len(ratios),
             "spans": worker["spans"], "self_times": worker["self_times"]}
    return metrics, notes


def result_line(values: dict, units: dict, attempted: int, failed: int) -> str:
    """The last line of a run: every metric of ``units``, by name, with
    its value and unit."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    began = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "baker_spark", "__init__.py")):
        print(f"perfbench: no baker_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir, expect = inputs.ensure_inputs(os.path.join(base, "cache"), args.workload, args.seed, cores)
    warm_page_cache(installation_files())
    try:
        worker = run_worker("traced" if args.trace else "full", args, data_dir, run_dir, cores,
                            began + DEADLINE_S)
    except WorkerFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    attempted, failures = len(worker["ops"]), []
    for o in worker["ops"]:
        reason = checks.check(args.workload, o, expect)
        if reason:
            failures.append(f"op {o['index']}: {reason}")
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    try:
        if args.trace:
            values, notes = per_layer(worker)
            units = PER_LAYER
        else:
            values, notes = end_to_end(args.workload, worker, attempted - len(failures), attempted)
            units = END_TO_END
    except WorkerFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    if args.trace:
        print(format_self_times(notes.pop("self_times")))
    print(json.dumps({"workload": args.workload, "seed": args.seed, **notes}))
    print(result_line(values, units, attempted, len(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
