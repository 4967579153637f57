"""Self-tests of the benchmark itself (not of baker_spark).

    python3 -m pytest perfbench/tests -q

Only the status-store test starts Spark (plain pyspark, local[2]).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(inputs, "ETL_RECORDS", 3000)
    monkeypatch.setattr(inputs, "CORPUS_DOCS", 300)
    monkeypatch.setattr(inputs, "ANN_VECTORS", 400)
    monkeypatch.setattr(inputs, "ANN_QUERIES", 3)


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(small, tmp_path, workload):
    a, _ = inputs.ensure_inputs(str(tmp_path / "a"), workload, 7, 4)
    b, _ = inputs.ensure_inputs(str(tmp_path / "b"), workload, 7, 4)
    c, _ = inputs.ensure_inputs(str(tmp_path / "c"), workload, 8, 4)
    assert _tree_bytes(a) == _tree_bytes(b)
    ta, tc = _tree_bytes(a), _tree_bytes(c)
    assert ta.keys() == tc.keys()
    assert all(ta[k] != tc[k] for k in ta)


def test_cache_hit_returns_the_same_expectation(small, tmp_path):
    d1, e1 = inputs.ensure_inputs(str(tmp_path), "corpus_dedup", 3, 4)
    d2, e2 = inputs.ensure_inputs(str(tmp_path), "corpus_dedup", 3, 4)
    assert d1 == d2 and e1 == e2


def test_etl_expectation_is_plausible(small, tmp_path):
    _, e = inputs.ensure_inputs(str(tmp_path), "etl_topology", 1, 4)
    # the chain drops about 40% of the records
    assert 0.5 < e["expected_lines"] / e["input_records"] < 0.7
    assert len(e["files"]) == inputs.etl_files(4)


def test_url_forms_decode_to_their_values():
    from urllib.parse import unquote_plus

    for decoded, encoded in inputs._UTM:
        assert unquote_plus(encoded) == decoded


# ------------------------------------------------------------ checks ----

def _write_gz_parts(out_dir, lines: list[bytes], parts: int = 2) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i in range(parts):
        chunk = lines[i::parts]
        with open(os.path.join(out_dir, f"part-{i:05d}.csv.gz"), "wb") as fh:
            fh.write(gzip.compress(b"".join(ln + b"\n" for ln in chunk)))


def test_etl_check_accepts_the_expected_lines_in_any_order(tmp_path):
    lines = [b"1,a,US", b"2,b,GB", b"3,c,DE", b"3,c,DE"]
    expect = {"expected_lines": 4, "expected_digest": inputs.line_digest(lines)}
    _write_gz_parts(tmp_path / "ok", list(reversed(lines)))
    assert checks.check_etl(str(tmp_path / "ok"), expect) is None


@pytest.mark.parametrize("corrupt", [
    lambda ls: ls[:-1],                           # a line lost
    lambda ls: ls + [ls[0]],                      # a line duplicated
    lambda ls: [b"1,a,UK"] + ls[1:],              # a field changed
    lambda ls: ls[:-1] + [ls[-2]],                # same count, wrong multiset
])
def test_etl_check_rejects_a_corrupted_output(tmp_path, corrupt):
    lines = [b"1,a,US", b"2,b,GB", b"3,c,DE", b"4,d,FR"]
    expect = {"expected_lines": 4, "expected_digest": inputs.line_digest(lines)}
    _write_gz_parts(tmp_path / "bad", corrupt(list(lines)))
    assert checks.check_etl(str(tmp_path / "bad"), expect) is not None


def test_etl_check_rejects_a_missing_output(tmp_path):
    expect = {"expected_lines": 0, "expected_digest": inputs.line_digest([])}
    assert checks.check_etl(str(tmp_path / "absent"), expect) is not None


def _corpus_output(path, ids, texts) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
                   os.path.join(path, "part-0.parquet"))


@pytest.fixture
def corpus(tmp_path):
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    data.mkdir()
    expect = json.loads(json.dumps(inputs.gen_corpus(np.random.default_rng(5), str(data), 400)))
    docs = pq.read_table(data / "documents.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    return expect, text


def test_corpus_check_accepts_the_expected_survivors_in_any_order(tmp_path, corpus):
    expect, text = corpus
    ids = list(reversed(expect["expected_survivors"]))
    _corpus_output(tmp_path / "ok", ids, [text[i] for i in ids])
    assert checks.check_corpus(str(tmp_path / "ok"), expect) is None


def test_corpus_check_rejects_a_corrupted_output(tmp_path, corpus):
    expect, text = corpus
    ids = list(expect["expected_survivors"])
    exact_dup = sorted(set(text) - set(expect["exact_survivors"]))
    near_dup = sorted(set(expect["exact_survivors"]) - set(ids))
    assert exact_dup, "the fixture corpus has no exact duplicates"
    assert near_dup, "the fixture corpus has no near duplicates"
    cases = {
        "dropped": ids[1:],
        "duplicated": ids + ids[:1],
        "exact duplicate kept": ids + exact_dup[:1],
        "near duplicate kept": ids + near_dup[:1],
        # what an output without any near-dedup would hold
        "exact survivors only": expect["exact_survivors"],
    }
    for name, case in cases.items():
        _corpus_output(tmp_path / name, case, [text[i] for i in case])
        assert checks.check_corpus(str(tmp_path / name), expect) is not None, name
    texts = [text[i] for i in ids]
    texts[0] += " tampered"
    _corpus_output(tmp_path / "text", ids, texts)
    assert checks.check_corpus(str(tmp_path / "text"), expect) is not None


def test_near_dedup_expectation_removes_the_planted_near_duplicates(corpus):
    expect, _text = corpus
    kept = set(expect["expected_survivors"])
    both_kept = [p for p in expect["planted_pairs"] if p[0] in kept and p[1] in kept]
    # one-word edits of 50+ word documents are well above the LSH threshold
    assert len(both_kept) <= 0.1 * len(expect["planted_pairs"])
    assert kept < set(expect["exact_survivors"])


def test_near_dedup_expectation_matches_the_dedup_pipeline(tmp_path):
    """The independent model in inputs.py keeps exactly the documents
    the workload's exact_dedup -> lsh_pairs -> dedup_clusters keeps."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    sys.path.insert(0, ROOT)
    from baker_spark.datapipe.dedup import dedup_clusters, exact_dedup, lsh_pairs

    data = tmp_path / "data"
    data.mkdir()
    expect = inputs.gen_corpus(np.random.default_rng(11), str(data), 600)
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    try:
        docs = spark.read.parquet(str(data / "documents.parquet"))
        survivors = docs.join(exact_dedup(docs).select("doc_id"), "doc_id")
        clusters = dedup_clusters(survivors, lsh_pairs(survivors))
        got = sorted(r[0] for r in clusters.filter("is_canonical").select("doc_id").collect())
    finally:
        spark.stop()
    assert got == expect["expected_survivors"]


def _write_index(path, rng, n=60, kc=4, m=8, ksub=16, dim=64):
    """A random IVF-PQ index in ann_index's on-disk layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    scale = 1 << 20
    codes = rng.integers(0, ksub, size=(n, m))
    cells = rng.integers(0, kc, size=n)
    cents = rng.integers(-scale, scale, size=(kc, dim))
    book = rng.integers(-scale // 4, scale // 4, size=(m, ksub, dim // m))
    for sub in ("meta", "coarse", "codebook"):
        os.makedirs(os.path.join(path, sub))
    pq.write_table(pa.table({"method": ["ivfpq"], "m": [m], "ksub": [ksub], "dim": [dim], "kc": [kc]}),
                   os.path.join(path, "meta", "part-0.parquet"))
    pq.write_table(pa.table({"centroid_id": list(range(kc)), "cv": [c.tolist() for c in cents]}),
                   os.path.join(path, "coarse", "part-0.parquet"))
    pq.write_table(pa.table({
        "sub": [s for s in range(m) for _ in range(ksub)],
        "cid": [c for _ in range(m) for c in range(ksub)],
        "cv": [book[s, c].tolist() for s in range(m) for c in range(ksub)],
    }), os.path.join(path, "codebook", "part-0.parquet"))
    for cell in range(kc):
        members = np.flatnonzero(cells == cell)
        d = os.path.join(path, "codes", f"centroid_id={cell}")
        os.makedirs(d)
        pq.write_table(pa.table({
            "id": np.repeat(members, m).astype(np.int64),
            "sub": np.tile(np.arange(m), len(members)).astype(np.int32),
            "cid": codes[members].reshape(-1).astype(np.int64),
        }), os.path.join(d, "part-0.parquet"))
    return codes, cells, cents, book


def _brute_ivfpq(query, codes, cells, cents, book, nprobe, k):
    qq = [int(np.floor(x * (1 << 20))) for x in query]
    ranked = sorted((sum((a - int(b)) ** 2 for a, b in zip(qq, c)), cid) for cid, c in enumerate(cents))
    probe = {cid for _, cid in ranked[:nprobe]}
    m, _ksub, d = book.shape
    scored = []
    for vid in range(len(codes)):
        if cells[vid] in probe:
            dist = sum(
                sum((qq[s * d + j] - int(book[s, codes[vid, s], j])) ** 2 for j in range(d))
                for s in range(m)
            )
            scored.append((dist, vid))
    return [(vid, dist) for dist, vid in sorted(scored)[:k]]


def test_ann_check_matches_a_loop_reference_and_rejects_corruption(tmp_path):
    rng = np.random.default_rng(3)
    path = str(tmp_path / "idx")
    codes, cells, cents, book = _write_index(path, rng)
    queries = [rng.normal(size=64) for _ in range(3)]
    queries = [(q / np.linalg.norm(q)).tolist() for q in queries]
    expect = {"input_records": 60, "queries": queries}
    rows = [_brute_ivfpq(q, codes, cells, cents, book, inputs.ANN_NPROBE, inputs.ANN_K) for q in queries]
    answered = [{"rows": [list(r) for r in rs]} for rs in rows]
    assert checks.check_ann(path, answered, expect) is None

    swapped = json.loads(json.dumps(answered))
    swapped[1]["rows"][0], swapped[1]["rows"][1] = swapped[1]["rows"][1], swapped[1]["rows"][0]
    off_by_one = json.loads(json.dumps(answered))
    off_by_one[2]["rows"][3][1] += 1
    short = json.loads(json.dumps(answered))
    short[0]["rows"] = short[0]["rows"][:-1]
    for bad in (swapped, off_by_one, short, answered[:2]):
        assert checks.check_ann(path, bad, expect) is not None


def test_ann_check_rejects_a_broken_index(tmp_path):
    rng = np.random.default_rng(4)
    path = str(tmp_path / "idx")
    _write_index(path, rng)
    shutil.rmtree(os.path.join(path, "codes", "centroid_id=1"))
    expect = {"input_records": 60, "queries": [[0.0] * 64]}
    assert checks.check_ann(path, [{"rows": []}], expect) is not None


# ----------------------------------------------------------- metrics ----

def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(inputs.WORKLOADS)


def _fake_worker(n_warm: int, traced: bool = False) -> dict:
    ops = [{"index": 0, "traced": False, "wall_s": 5.0, "run_s": 5.0,
            "queries": [{"wall_s": 0.9}] * 4}]
    for i in range(1, n_warm + 1):
        # warm operations get faster; traced ones cost 10% more
        is_traced = traced and i % 2 == 0
        t = (2.0 - i / 100) * (1.1 if is_traced else 1.0)
        op = {"index": i, "traced": is_traced, "wall_s": t, "run_s": t,
              "queries": [{"wall_s": 0.5 + i / 1000}] * 4}
        if is_traced:
            op["layers"] = {name: float(i) for name in run.PER_LAYER}
        ops.append(op)
    return {"setup_s": 10.0, "worker_s": 30.0, "records": 1000, "ops": ops, "peak_rss_mb": 900.0,
            "spans": "spans.json", "self_times": {}}


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    values, _notes = run.end_to_end(workload, _fake_worker(12), 13, 13)
    line = json.loads(run.result_line(values, run.END_TO_END, 13, 0))
    assert line["correct"] is True and line["attempted"] == 13 and line["failed"] == 0
    assert set(line["metrics"]) == set(run.END_TO_END)
    for name, m in line["metrics"].items():
        assert m["unit"] == run.END_TO_END[name]
        assert isinstance(m["value"], float) and m["value"] > 0, name
    assert line["metrics"]["setup_s"]["value"] == 10.0
    assert line["metrics"]["first_run_s"]["value"] == 5.0


def test_warmup_operations_are_not_timed():
    worker = _fake_worker(6)
    for op in worker["ops"][1:4]:
        op.update(warmup=True, wall_s=9.0, run_s=9.0)
    values, notes = run.end_to_end("etl_topology", worker, 7, 7)
    assert notes["warmup_ops"] == 3 and notes["warm_ops"] == 3
    assert values["run_s"] == pytest.approx(2.0 - 5 / 100)
    assert values["query_tail_s"] == pytest.approx(2.0 - 4 / 100)


def test_every_per_layer_metric_is_printed_with_its_unit():
    values, notes = run.per_layer(_fake_worker(9, traced=True))
    line = json.loads(run.result_line(values, run.PER_LAYER, 10, 1))
    assert line["correct"] is False and line["failed"] == 1
    assert set(line["metrics"]) == set(run.PER_LAYER)
    assert all(line["metrics"][k]["unit"] == u for k, u in run.PER_LAYER.items())
    assert notes["traced_ops"] == 4 and notes["overhead_samples"] == 4
    # the warm-up trend cancels: the ratio is the 10% the traced ops cost
    assert values["trace.overhead_ratio"] == pytest.approx(1.1)


def test_installation_files_are_spark_jars_and_the_jdk_image():
    pytest.importorskip("pyspark")
    paths = run.installation_files()
    assert any(p.endswith(".jar") for p in paths)
    assert all(os.path.isfile(p) for p in paths)
    run.warm_page_cache(paths[:3])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail(list(range(1, 101))) == (90, 90.0)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    v, p = run.tail(list(range(20)))
    assert v == 9 and p == 50.0


def test_self_time_subtracts_the_union_of_children():
    tr = spans.Tracer()
    parent = tr.add("layer", 0, None, 0.0, 10.0)
    tr.add("spark.job", 0, parent["id"], 1.0, 4.0)
    tr.add("spark.job", 0, parent["id"], 3.0, 6.0)  # overlaps the first
    tr.add("spark.job", 0, parent["id"], 9.0, 12.0)  # runs past the parent
    table = spans.self_times(tr.spans)
    assert table["layer"]["self_s"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert table["spark.job"]["count"] == 3


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_topology", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# ------------------------------------------------------ status store ----

def test_status_reader_attributes_a_two_stage_job():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession, functions as F

    import status

    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        reader = status.StatusReader(spark)
        reader.tag("other")
        spark.range(10).count()
        reader.tag("two-stage")
        rows = (spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 5).alias("k")).count().collect())
        assert len(rows) == 5
        reader.tag("other")
        spark.range(10).count()

        st = reader.read(["two-stage"])
        assert [j["jobGroup"] for j in st.jobs] == ["two-stage"]
        m = st.exec_metrics(1.0, 2)
        assert m["spark.jobs"] == 1
        assert m["exec.stages"] == 2 and m["exec.stages_empty"] == 0
        assert m["exec.tasks"] == 4 + 3 and m["exec.failed_tasks"] == 0
        assert m["exec.shuffle_write_bytes"] > 0
        assert m["exec.shuffle_read_bytes"] == m["exec.shuffle_write_bytes"]
        assert m["exec.run_ms"] > 0 and m["exec.task_skew"] >= 1.0

        tr = spans.Tracer()
        action = tr.add("layer", 0, None, 0.0, 1.0)
        st.add_spans(tr, 0, {"two-stage": action["id"]})
        jobs = [s for s in tr.spans if s["name"] == "spark.job"]
        stages = [s for s in tr.spans if s["name"] == "spark.stage"]
        assert len(jobs) == 1 and jobs[0]["parent"] == action["id"]
        assert len(stages) == 2 and all(s["parent"] == jobs[0]["id"] for s in stages)
        assert all(s["start"] <= s["end"] for s in jobs + stages)
    finally:
        spark.stop()


def test_py4j_counter_skips_garbage_collection_commands():
    from py4j.protocol import CALL_COMMAND_NAME, MEMORY_COMMAND_NAME

    sent = []

    class Client:
        def send_command(self, command, binary=False):
            sent.append(command)
            return "ok"

    class Fake:
        class sparkContext:
            class _gateway:
                _gateway_client = Client()

    counter = spans.Py4jCounter(Fake)
    client = Fake.sparkContext._gateway._gateway_client
    client.send_command(CALL_COMMAND_NAME + "o1\nx\ne\n")  # not counting yet
    with counter.count() as calls:
        client.send_command(CALL_COMMAND_NAME + "o1\nx\ne\n")
        client.send_command(MEMORY_COMMAND_NAME + "do2\ne\n")
        client.send_command(CALL_COMMAND_NAME + "o1\ny\ne\n", binary=True)
    assert calls == [2] and len(sent) == 4
    counter.close()
    assert client.send_command.__func__ is Client.send_command


def test_line_digest_ignores_order_and_counts_repeats():
    a = [b"x", b"y", b"y"]
    assert inputs.line_digest(a) == inputs.line_digest(list(reversed(a)))
    assert inputs.line_digest(a) != inputs.line_digest([b"x", b"y"])
    assert inputs.line_digest([b"xy"]) != inputs.line_digest([b"x", b"y"])
