"""One benchmark process: start Spark, run a workload's operations,
write what it measured to a JSON file.

``run.py`` starts this as a child process, so every worker is a fresh
session and the interval from spawn to "session ready" is the set-up
time a user pays. Modes:

- ``full``: set up, run the cold operation and the untimed warm-up
  operations (``WARMUP_OPS``), then timed warm operations for
  ``--seconds`` (at least ``MIN_WARM_OPS``).
- ``traced``: like ``full``, the timed part alternating untraced and
  traced warm operations and closing with an untraced one; a traced
  operation is followed by the layer probes and a status-store read,
  both outside its timed region.

The outputs of every operation are kept on disk (one directory each)
and checked by ``run.py`` after the worker exits.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from status import StatusReader  # noqa: E402
from spans import Py4jCounter, Tracer, format_self_times, self_times  # noqa: E402

#: operations after the cold one that are run and checked but not
#: timed. An etl_topology operation gets faster over its first warm
#: operations (about 2.0, 1.5, 1.4 s, then 1.1-1.3 s at 4 cores): JIT
#: of the per-operation driver work, compile + plan, not of the
#: per-record path, since half the records only shorten it by ~15%.
#: Timed, that ramp swings run_s by a quarter between runs.
WARMUP_OPS = {"etl_topology": 3, "corpus_dedup": 0, "ann_index": 0}

#: timed warm operations a run makes even when they outlast --seconds,
#: so every run of a workload times the same operations. etl_topology
#: times five settled operations. corpus_dedup keeps getting faster
#: for several operations (JIT of the driver-side planning in its
#: clustering loop), and one ann_index operation (an index build plus
#: every query) outlasts --seconds on its own; both time exactly one,
#: for the run budget.
MIN_WARM_OPS = {"etl_topology": 5, "corpus_dedup": 1, "ann_index": 1}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.endswith(".crc"))
    return total


class Op:
    """One operation: its index, its job groups and, when traced, its
    layer spans."""

    def __init__(self, ctx: "Context", index: int, traced: bool):
        self.ctx = ctx
        self.index = index
        self.traced = traced
        self.groups: list[str] = []
        self.probe_groups: list[str] = []
        self.group_span: dict[str, int] = {}
        self.spans: dict[str, dict] = {}
        self.record: dict = {"index": index, "traced": traced}

    @contextmanager
    def layer(self, name: str, action: bool = False, lazy: bool = False, probe: bool = False):
        """Span one call into a layer. A traced call runs under its own
        job group so its Spark jobs are attributed to it exactly; a lazy
        builder call also counts its py4j round trips."""
        if not self.traced:
            yield None
            return
        ctx = self.ctx
        group = f"op{self.index}.{len(self.groups) + len(self.probe_groups)}.{name}"
        (self.probe_groups if probe else self.groups).append(group)
        ctx.status.tag(group)
        with ctx.tracer.span(name, self.index, group=group, action=action, lazy=lazy, probe=probe) as rec:
            self.group_span[group] = rec["id"]
            self.spans.setdefault(name, rec)
            if lazy:
                with ctx.py4j.count() as calls:
                    yield rec
                rec["py4j_calls"] = calls[0]
            else:
                yield rec

    def dur(self, name: str) -> float:
        s = self.spans.get(name)
        return s["end"] - s["start"] if s else 0.0

    def all_spans(self, name: str) -> list[dict]:
        return [s for s in self.ctx.tracer.spans if s["op"] == self.index and s["name"] == name]


class Context:
    """The session and, in a traced run, the tracer, the status-store
    reader and the py4j counter."""

    def __init__(self, spark, work: str, traced: bool, cores: int):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.tracer = Tracer() if traced else None
        self.status = StatusReader(spark) if traced else None
        self.py4j = Py4jCounter(spark) if traced else None

    @contextmanager
    def op(self, index: int, traced: bool):
        op = Op(self, index, traced)
        with self.tracer.span("op", index) if traced else nullcontext():
            t0 = time.perf_counter()
            yield op
            op.record["wall_s"] = time.perf_counter() - t0
        op.record.setdefault("run_s", op.record["wall_s"])

    def layer_metrics(self, op: Op, extra: dict[str, float]) -> dict[str, float]:
        """Status-store counters of the operation's own (non-probe) calls,
        its job and stage spans, and the metrics every workload shares."""
        groups = op.groups + op.probe_groups
        st = self.status.read(groups)
        st.add_spans(self.tracer, op.index, op.group_span)
        m = st.exec_metrics(op.record["wall_s"], self.cores, set(op.groups))
        lazy = [s for s in self.tracer.spans if s["op"] == op.index and s.get("lazy") and not s.get("probe")]
        plan = sum(st.plan_s(s["start"], s["group"]) for s in self.tracer.spans
                   if s["op"] == op.index and s.get("action") and not s.get("probe"))
        out = {
            "spark.plan_s": plan,
            "pipeline.build_s": sum(s["end"] - s["start"] for s in lazy),
            "pipeline.py4j_calls": sum(s["py4j_calls"] for s in lazy),
            "sources.input_bytes": m.pop("input_bytes"),
            "sources.input_records": m.pop("input_records"),
        }
        out["sinks.output_records"] = m.pop("output_records")
        out.update(m)
        out.update(extra)
        return out


# ------------------------------------------------------------ workloads ----

class EtlTopology:
    """compile_toml_file -> Pipeline.dataframe -> FileWriter.write."""

    def __init__(self, ctx: Context, data_dir: str, expect: dict):
        self.ctx = ctx
        self.records = expect["input_records"]
        self.toml = os.path.join(ctx.work, "etl.toml")
        files = [os.path.join(data_dir, f) for f in expect["files"]]
        with open(self.toml, "w") as fh:
            # the sink path comes from ${PERFBENCH_OUT}, expanded by the compiler
            fh.write(inputs.etl_toml(files, "${PERFBENCH_OUT}"))

    def run(self, index: int, traced: bool) -> dict:
        from baker_spark.plans.toml_compiler import compile_toml_file

        ctx, spark = self.ctx, self.ctx.spark
        out = os.path.join(ctx.work, "out", f"etl-{index}.csv.gz")
        os.environ["PERFBENCH_OUT"] = out
        with ctx.op(index, traced) as op:
            with op.layer("plans.compile_toml_file"):
                pipe = compile_toml_file(self.toml)
            with op.layer("pipeline.dataframe", lazy=True):
                df = pipe.dataframe(spark)
            with op.layer("sinks.filewriter.write", action=True):
                pipe.sink.write(df)
        op.record["output"] = pipe.sink.path
        if traced:
            scan = pipe.source(spark).select(*inputs.ETL_READ_FIELDS)
            with op.layer("sources.list_source.scan", action=True, probe=True):
                _noop(scan)
            chained = pipe.dataframe(spark)
            with op.layer("operators.chain", action=True, probe=True):
                _noop(chained)
            scan_s = op.dur("sources.list_source.scan")
            chain_s = op.dur("operators.chain")
            op.record["layers"] = ctx.layer_metrics(op, {
                "plans.compile_s": op.dur("plans.compile_toml_file"),
                "sources.scan_s": scan_s,
                "operators.chain_s": chain_s - scan_s,
                "sinks.write_s": op.dur("sinks.filewriter.write") - chain_s,
                "sinks.output_bytes": _dir_bytes(pipe.sink.path),
            })
            op.record["layers"]["operators.records_out"] = op.record["layers"]["sinks.output_records"]
        return op.record


class CorpusDedup:
    """load_table -> exact_dedup survivors -> lsh_pairs -> dedup_clusters
    -> canonical survivors written as parquet."""

    def __init__(self, ctx: Context, data_dir: str, expect: dict):
        self.ctx = ctx
        self.data_dir = data_dir
        self.records = expect["input_records"]
        self.planted = {tuple(p) for p in expect["planted_pairs"]}

    def run(self, index: int, traced: bool) -> dict:
        from baker_spark.datapipe.dedup import dedup_clusters, exact_dedup, lsh_pairs, minhash_signature
        from baker_spark.sources.tables import load_table

        ctx, spark = self.ctx, self.ctx.spark
        out = os.path.join(ctx.work, "out", f"corpus-{index}.parquet")
        with ctx.op(index, traced) as op:
            with op.layer("sources.tables.load_table", lazy=True):
                docs = load_table(spark, self.data_dir, "documents")
            with op.layer("datapipe.dedup.exact_dedup", lazy=True):
                survivors = docs.join(exact_dedup(docs).select("doc_id"), "doc_id")
            with op.layer("datapipe.dedup.lsh_pairs", lazy=True):
                pairs = lsh_pairs(survivors)
            with op.layer("datapipe.dedup.dedup_clusters", action=True):
                clusters = dedup_clusters(survivors, pairs)
            with op.layer("spark.write_parquet", action=True):
                canonical = clusters.filter("is_canonical").select("doc_id")
                survivors.join(canonical, "doc_id").write.mode("overwrite").parquet(out)
        op.record["output"] = out
        if traced:
            with op.layer("sources.tables.scan", action=True, probe=True):
                _noop(docs)
            with op.layer("datapipe.dedup.exact_dedup.probe", action=True, probe=True):
                _noop(survivors)
            sig = minhash_signature(survivors)
            with op.layer("datapipe.dedup.minhash_signature.probe", action=True, probe=True):
                _noop(sig)
            pair_df = lsh_pairs(survivors)
            with op.layer("datapipe.dedup.lsh_pairs.probe", action=True, probe=True):
                found = {(r[0], r[1]) for r in pair_df.collect()}
            scan_s = op.dur("sources.tables.scan")
            exact_s = op.dur("datapipe.dedup.exact_dedup.probe")
            sig_s = op.dur("datapipe.dedup.minhash_signature.probe")
            pairs_s = op.dur("datapipe.dedup.lsh_pairs.probe")
            hits = len(found & self.planted)
            op.record["layers"] = ctx.layer_metrics(op, {
                "sources.scan_s": scan_s,
                "dedup.exact_s": exact_s - scan_s,
                "dedup.signature_s": sig_s - exact_s,
                "dedup.pairs_s": pairs_s - sig_s,
                "dedup.clusters_s": op.dur("datapipe.dedup.dedup_clusters") - pairs_s,
                "dedup.candidate_pairs": len(found),
                "dedup.pair_precision": hits / len(found) if found else 0.0,
                "dedup.pair_recall": hits / len(self.planted) if self.planted else 1.0,
                "sinks.write_s": op.dur("spark.write_parquet"),
                "sinks.output_bytes": _dir_bytes(out),
            })
        return op.record


class AnnIndexWorkload:
    """ann_index_build(method="ivfpq") -> AnnIndex(path) -> a fixed list
    of single-vector search() + collect() queries."""

    def __init__(self, ctx: Context, data_dir: str, expect: dict):
        self.ctx = ctx
        self.data_dir = data_dir
        self.records = expect["input_records"]
        self.queries = expect["queries"]
        self.exact = expect["exact_top10"]

    def run(self, index: int, traced: bool) -> dict:
        from baker_spark.datapipe.ann_index import AnnIndex, ann_index_build
        from baker_spark.sources.tables import load_table

        ctx, spark = self.ctx, self.ctx.spark
        path = os.path.join(ctx.work, "out", f"ann-{index}")
        queries = []
        with ctx.op(index, traced) as op:
            t0 = time.perf_counter()
            with op.layer("sources.tables.load_table", lazy=True):
                vectors = load_table(spark, self.data_dir, "embeddings")
            with op.layer("datapipe.ann_index.ann_index_build", action=True):
                ann_index_build(vectors, path, method="ivfpq", kc=inputs.ANN_KC)
            op.record["run_s"] = time.perf_counter() - t0
            with op.layer("datapipe.ann_index.AnnIndex", action=True):
                idx = AnnIndex(spark, path)
            for q in self.queries:
                t0 = time.perf_counter()
                with op.layer("datapipe.ann_index.search", lazy=True):
                    result, _score, _asc = idx.search(q, k=inputs.ANN_K, nprobe=inputs.ANN_NPROBE)
                t1 = time.perf_counter()
                with op.layer("spark.collect", action=True):
                    rows = [(int(r[0]), int(r[1])) for r in result.collect()]
                t2 = time.perf_counter()
                queries.append({"wall_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1, "rows": rows})
        op.record["output"] = path
        op.record["queries"] = queries
        if traced:
            with op.layer("sources.tables.scan", action=True, probe=True):
                _noop(load_table(spark, self.data_dir, "embeddings"))
            layers = ctx.layer_metrics(op, {
                "sources.scan_s": op.dur("sources.tables.scan"),
                "ann.build_s": op.dur("datapipe.ann_index.ann_index_build"),
                "ann.open_s": op.dur("datapipe.ann_index.AnnIndex"),
                "ann.search_build_s": statistics.median(q["build_s"] for q in queries),
                "ann.search_exec_s": statistics.median(q["exec_s"] for q in queries),
                "ann.recall_at_10": statistics.fmean(
                    len({r[0] for r in q["rows"]} & set(ex)) / inputs.ANN_K
                    for q, ex in zip(queries, self.exact)
                ),
                "sinks.output_bytes": _dir_bytes(path),
            })
            st = ctx.status.read([s["group"] for s in op.all_spans("spark.collect")])
            layers["ann.query_input_bytes"] = statistics.median(
                sum(a.get("inputBytes") or 0 for a in st.ran({s["group"]})) for s in op.all_spans("spark.collect")
            )
            build = ctx.status.read([op.spans["datapipe.ann_index.ann_index_build"]["group"]])
            writes = [a for a in build.ran() if a.get("outputBytes")]
            layers["sinks.write_s"] = sum((a["completionTime"] - a["submissionTime"]) / 1000.0 for a in writes)
            op.record["layers"] = layers
        return op.record


WORKLOADS = {
    "etl_topology": EtlTopology,
    "corpus_dedup": CorpusDedup,
    "ann_index": AnnIndexWorkload,
}


# ----------------------------------------------------------------- main ----

def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _run_op(wl, index: int, traced: bool) -> dict:
    """One operation; an exception is recorded as a failed operation
    (it counts against the success rate) and the run goes on."""
    try:
        return wl.run(index, traced)
    except Exception:  # noqa: BLE001 — the worker must finish and report
        return {"index": index, "traced": traced, "error": traceback.format_exc()}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (_vm_hwm_kb("self") + jvm_kb) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", required=True, choices=("full", "traced"))
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from baker_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=args.cores)
    ready = time.time()
    with open(os.path.join(args.data, "expect.json")) as fh:
        expect = json.load(fh)
    os.makedirs(os.path.join(args.work, "out"), exist_ok=True)
    traced = args.mode == "traced"
    ctx = Context(spark, args.work, traced, args.cores)
    wl = WORKLOADS[args.workload](ctx, args.data, expect)

    ops = [_run_op(wl, 0, False)]
    for i in range(1, 1 + WARMUP_OPS[args.workload]):
        ops.append(dict(_run_op(wl, i, False), warmup=True))
    start = time.perf_counter()
    i = len(ops)
    warm = 0
    while warm < MIN_WARM_OPS[args.workload] or time.perf_counter() - start < args.seconds:
        if traced:
            # untraced and traced operations alternate, and one more
            # untraced operation closes the loop: each traced operation
            # sits between two untraced ones, so a warm-up trend cancels
            # out of the overhead ratio
            ops.append(_run_op(wl, i, False))
            ops.append(_run_op(wl, i + 1, True))
            i += 2
            warm += 2
        else:
            ops.append(_run_op(wl, i, False))
            i += 1
            warm += 1
    if traced:
        ops.append(_run_op(wl, i, False))
    result = {
        "ready_epoch": ready,
        "records": wl.records,
        "ops": ops,
        "peak_rss_mb": peak_rss_mb(spark),
    }
    if traced:
        ctx.py4j.close()
        spans_path = os.path.join(args.work, f"spans-{args.workload}.json")
        ctx.tracer.write(spans_path)
        table = self_times(ctx.tracer.spans)
        with open(os.path.join(args.work, f"selftime-{args.workload}.txt"), "w") as fh:
            fh.write(format_self_times(table) + "\n")
        result["spans"] = spans_path
        result["self_times"] = table
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # nothing is left to keep in the gateway JVM once the context has
    # stopped; left to exit on its own, it spends ~1.7 s in shutdown
    # hooks, about 120 s over the 70 runs of a comparison
    jvm.kill()
    jvm.wait()
    return 0


if __name__ == "__main__":
    sys.exit(main())
