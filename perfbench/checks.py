"""Output checks. Each returns None when an operation's output matches
its expectation and a one-line reason when it does not. They read the
files the program wrote with gzip, pyarrow and numpy only, never with
``baker_spark`` or Spark.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import os

import numpy as np

from inputs import ANN_K, ANN_NPROBE, line_digest

#: the index's fixed-point scale (ann_index stores floor(x * 2**20))
Q_SCALE = 1 << 20


def check_etl(out_dir: str, expect: dict) -> str | None:
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv.gz")))
    if not parts:
        return f"no part-*.csv.gz files in {out_dir}"
    lines: list[bytes] = []
    for p in parts:
        with open(p, "rb") as fh:
            data = gzip.decompress(fh.read())
        if data and not data.endswith(b"\n"):
            return f"{os.path.basename(p)} does not end with a newline"
        lines.extend(data.split(b"\n")[:-1] if data else [])
    if len(lines) != expect["expected_lines"]:
        return f"{len(lines)} output lines, expected {expect['expected_lines']}"
    if line_digest(lines) != expect["expected_digest"]:
        return "output lines differ from the expected lines (same count, different digest)"
    return None


def check_corpus(out_dir: str, expect: dict) -> str | None:
    import pyarrow.parquet as pq

    try:
        table = pq.read_table(out_dir, columns=["doc_id", "text"])
    except (OSError, ValueError) as e:
        return f"unreadable output: {e}"
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    got = set(ids)
    if len(got) != len(ids):
        return f"{len(ids) - len(got)} duplicate doc_ids in the output"
    want = set(expect["expected_survivors"])
    if got != want:
        missing, extra = want - got, got - want
        return (f"{len(missing)} expected survivors missing (e.g. {min(missing, default=None)}), "
                f"{len(extra)} documents that dedup removes kept (e.g. {min(extra, default=None)})")
    md5 = expect["text_md5"]
    for i, t in zip(ids, texts):
        if hashlib.md5(t.encode()).hexdigest() != md5[str(i)]:
            return f"doc {i} has the wrong text"
    return None


def load_index(path: str, n: int) -> dict:
    """The IVF-PQ index files as numpy arrays, with a structure check."""
    import pyarrow.parquet as pq

    meta = pq.read_table(os.path.join(path, "meta")).to_pylist()[0]
    codes = pq.read_table(os.path.join(path, "codes")).to_pydict()
    m, ksub = meta["m"], meta["ksub"]
    ids = np.asarray(codes["id"], dtype=np.int64)
    subs = np.asarray(codes["sub"], dtype=np.int64)
    cids = np.asarray(codes["cid"], dtype=np.int64)
    cells = np.asarray(codes["centroid_id"], dtype=np.int64)
    if len(ids) != n * m:
        raise ValueError(f"{len(ids)} code rows, expected {n} vectors x {m} subspaces")
    if ids.min() < 0 or ids.max() >= n or subs.min() < 0 or subs.max() >= m:
        raise ValueError("code row id or subspace out of range")
    if cids.min() < 0 or cids.max() >= ksub:
        raise ValueError("PQ code out of range")
    code_mat = np.full((n, m), -1, dtype=np.int64)
    code_mat[ids, subs] = cids
    if (code_mat < 0).any():
        raise ValueError("a vector is missing a subspace code")
    cell = np.full(n, -1, dtype=np.int64)
    cell[ids] = cells
    if (np.bincount(ids, minlength=n) != m).any() or (cell[ids] != cells).any():
        raise ValueError("a vector has duplicate codes or two coarse cells")
    coarse = pq.read_table(os.path.join(path, "coarse")).to_pydict()
    book = pq.read_table(os.path.join(path, "codebook")).to_pydict()
    cents = dict(zip(coarse["centroid_id"], coarse["cv"]))
    if set(np.unique(cells).tolist()) - set(cents):
        raise ValueError("a code row names a coarse cell the index does not have")
    cb = np.zeros((m, ksub, meta["dim"] // m), dtype=np.int64)
    seen = 0
    for s, c, v in zip(book["sub"], book["cid"], book["cv"]):
        cb[s, c] = v
        seen += 1
    if seen != m * ksub:
        raise ValueError(f"codebook has {seen} rows, expected {m * ksub}")
    return {"meta": meta, "codes": code_mat, "cell": cell, "cents": cents, "codebook": cb}


def ivfpq_expected(index: dict, query) -> list[tuple[int, int]]:
    """The top-k an IVF-PQ search over ``index`` must return: probe the
    nprobe nearest coarse cells (ties on cell id), rank their members by
    the asymmetric PQ distance (ties on vector id)."""
    qq = np.floor(np.asarray(query, dtype=np.float64) * Q_SCALE).astype(np.int64)
    ranked = sorted((int(((qq - np.asarray(cv, dtype=np.int64)) ** 2).sum()), int(cid))
                    for cid, cv in index["cents"].items())
    probe = [cid for _, cid in ranked[:ANN_NPROBE]]
    cb = index["codebook"]
    m, _ksub, d = cb.shape
    table = ((qq.reshape(m, 1, d) - cb) ** 2).sum(axis=2)  # (m, ksub)
    cand = np.flatnonzero(np.isin(index["cell"], probe))
    dist = table[np.arange(m), index["codes"][cand]].sum(axis=1)
    order = np.lexsort((cand, dist))[:ANN_K]
    return [(int(cand[i]), int(dist[i])) for i in order]


def check_ann(path: str, queries: list[dict], expect: dict) -> str | None:
    try:
        index = load_index(path, expect["input_records"])
    except (OSError, ValueError, KeyError, IndexError) as e:
        return f"index at {os.path.basename(path)}: {e}"
    if len(queries) != len(expect["queries"]):
        return f"{len(queries)} queries answered, expected {len(expect['queries'])}"
    for n, (q, vec) in enumerate(zip(queries, expect["queries"])):
        want = ivfpq_expected(index, vec)
        got = [tuple(r) for r in q["rows"]]
        if got != want:
            return f"query {n}: got {got[:3]}..., expected {want[:3]}..."
    return None


def check(workload: str, record: dict, expect: dict) -> str | None:
    if record.get("error"):
        return record["error"].strip().splitlines()[-1]
    if workload == "etl_topology":
        return check_etl(record["output"], expect)
    if workload == "corpus_dedup":
        return check_corpus(record["output"], expect)
    return check_ann(record["output"], record["queries"], expect)
