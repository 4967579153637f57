"""Seeded input generators and their expectations.

Every generator is numpy-vectorized and writes its files into a cache
directory keyed on (workload, seed, size), so a second run at the same
seed skips generation. Each also writes the expectation the output
checks compare against. The expectations are computed here, from the
generator's own ground truth, without importing ``baker_spark``.

Nothing here touches Spark: ``run.py`` calls ``ensure_inputs`` before
it starts any worker process.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil

import numpy as np

#: bump when a generator changes, so stale caches are not reused
GENERATOR_VERSION = 3

# ------------------------------------------------------------ sizes ----

#: records per etl_topology input; split over ``etl_files(nproc)`` files
ETL_RECORDS = 200_000
#: documents in the corpus_dedup input
CORPUS_DOCS = 4_000
#: vectors in the ann_index input, their dimension, query count per op
ANN_VECTORS = 10_000
ANN_DIM = 64
ANN_QUERIES = 4
ANN_CLUSTERS = 16


def etl_files(nproc: int) -> int:
    """Two files per core (at least 8): the List input splits across
    files, so every core gets a scan task and no fan-out exchange runs."""
    return max(8, 2 * nproc)


# ------------------------------------------------------ etl_topology ----

ETL_FIELDS = [
    "ts", "event", "country", "user_id", "url", "referrer", "user_agent",
    "ip", "campaign", "ad_id", "price", "currency", "device", "status",
    # written by the filter chain; empty in the input
    "utm_source", "join_key", "key_md5",
]
ETL_OUT_FIELDS = ["ts", "event", "country", "user_id", "utm_source", "campaign", "price", "key_md5"]
#: the input fields the chain and the output read: the scan-only probe
#: reads these, as Catalyst's column pruning does for the full pipeline
ETL_READ_FIELDS = ["ts", "event", "country", "user_id", "url", "campaign", "price", "status"]

#: TimestampRange keeps [ETL_T0 + 2 days, ETL_T0 + 28 days) of a 30-day span
ETL_T0 = 1_700_006_400  # 2023-11-15 00:00:00 UTC
ETL_START = "2023-11-17 00:00:00"
ETL_END = "2023-12-13 00:00:00"
_ETL_LO, _ETL_HI = ETL_T0 + 2 * 86400, ETL_T0 + 28 * 86400

_EVENTS = np.array(["view", "click", "purchase", "signup", "add_to_cart", "bot_ping"])
_EVENT_P = np.array([0.40, 0.22, 0.08, 0.05, 0.15, 0.10])
_BAD_EVENTS = np.array(["View", "click!", "sign-up", "", "purchase2"])
_COUNTRIES = np.array(["US", "GB", "DE", "FR", "ES", "IT", "JP", "BR", "IN", "CA"])
_BAD_COUNTRIES = np.array(["usa", "G", "", "D3"])
_HOSTS = np.array(["shop.example.com", "news.example.org", "blog.example.net", "m.example.io"])
_PATHS = np.array(["/", "/p/item", "/a/b/c", "/search", "/checkout/step2"])
#: (decoded value, form written in the URL)
_UTM = [
    ("google", "google"), ("newsletter", "newsletter"),
    ("google ads", "google+ads"), ("google ads", "google%20ads"),
    ("a&b", "a%26b"), ("50%off", "50%25off"), ("café", "caf%C3%A9"),
    ("x=y", "x%3Dy"), ("", ""),
]
_REFERRERS = np.array(["-", "https://www.example.com/", "https://t.example.co/x", "android-app://x.y"])
_AGENTS = np.array([
    "Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X)",
    "curl/8.4.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101",
])
_CAMPAIGNS = np.array(["spring_sale", "retarget_7d", "brand", "cpc_generic", "lookalike"])
_CURRENCIES = np.array(["USD", "EUR", "GBP", "JPY"])
_DEVICES = np.array(["desktop", "mobile", "tablet"])
_STATUSES = np.array(["ok", "ok", "ok", "ok", "retry", "test"])

ETL_CLAUSE = "(and (not (event bot_ping)) (not (status test)))"


def etl_toml(files: list[str], out_path: str) -> str:
    """The etl_topology topology: validation, then NotNull ->
    ClauseFilter -> URLParam -> Concatenate -> Hash(md5) ->
    TimestampRange, into gzip CSV with a ``fields=`` selection."""
    q = json.dumps
    return f"""
[fields]
names = {q(ETL_FIELDS)}

[validation]
event = "^[a-z_]+$"
country = "^[A-Z]{{2}}$"

[input]
name = "List"
    [input.config]
    files = {q(files)}

[[filter]]
name = "NotNull"
    [filter.config]
    Fields = ["user_id", "url"]

[[filter]]
name = "ClauseFilter"
    [filter.config]
    Clause = {q(ETL_CLAUSE)}

[[filter]]
name = "URLParam"
    [filter.config]
    SrcField = "url"
    DstField = "utm_source"
    Param = "utm_source"

[[filter]]
name = "Concatenate"
    [filter.config]
    Fields = ["user_id", "utm_source", "campaign"]
    Target = "join_key"
    Separator = "|"

[[filter]]
name = "Hash"
    [filter.config]
    SrcField = "join_key"
    DstField = "key_md5"
    Function = "md5"
    Encoding = "hex"

[[filter]]
name = "TimestampRange"
    [filter.config]
    Field = "ts"
    StartDatetime = "{ETL_START}"
    EndDatetime = "{ETL_END}"

[output]
name = "FileWriter"
fields = {q(ETL_OUT_FIELDS)}
    [output.config]
    PathString = {q(out_path)}
"""


def line_digest(lines) -> str:
    """Order-insensitive digest of byte lines (none holding a newline):
    the md5 of the sorted lines joined by newlines, in hex. One md5 over
    the sorted output is ~3x cheaper than one md5 per line."""
    return hashlib.md5(b"\n".join(sorted(lines))).hexdigest()


def _pick(rng, values, n, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)].tolist()


def _spoil(rng, col: list[str], share: float, bad) -> np.ndarray:
    """Replace a ``share`` of ``col`` in place with values from ``bad``;
    return the mask of spoiled rows."""
    mask = rng.random(len(col)) < share
    for i, v in zip(np.flatnonzero(mask).tolist(), _pick(rng, bad, int(mask.sum()))):
        col[i] = v
    return mask


def gen_etl(rng: np.random.Generator, out_dir: str, n: int, n_files: int) -> dict:
    ts_i = rng.integers(ETL_T0, ETL_T0 + 30 * 86400, size=n)
    ts = list(map(str, ts_i.tolist()))
    # ParseInt-strict: a float, a padded int and a word all drop
    bad_ts = _spoil(rng, ts, 0.01, [f"{ETL_T0 + 5 * 86400}.5", f" {ETL_T0 + 5 * 86400}", "yesterday"])
    event = _pick(rng, _EVENTS, n, _EVENT_P)
    bad_ev = _spoil(rng, event, 0.015, _BAD_EVENTS)
    country = _pick(rng, _COUNTRIES, n)
    bad_c = _spoil(rng, country, 0.01, _BAD_COUNTRIES)
    uid = [f"{x:016x}" for x in rng.integers(0, 1 << 62, size=n).tolist()]
    no_uid = _spoil(rng, uid, 0.03, [""])

    utm_i = rng.integers(0, len(_UTM), size=n).tolist()
    cid = rng.integers(0, 100_000, size=n).tolist()
    url = [
        f"https://{h}{p}?cid={c}" if not _UTM[u][1] else f"https://{h}{p}?utm_source={_UTM[u][1]}&cid={c}"
        for h, p, u, c in zip(_pick(rng, _HOSTS, n), _pick(rng, _PATHS, n), utm_i, cid)
    ]
    no_url = _spoil(rng, url, 0.02, [""])
    octets = rng.integers(1, 255, size=(n, 3)).tolist()
    ip = [f"10.{a}.{b}.{c}" for a, b, c in octets]
    campaign = _pick(rng, _CAMPAIGNS, n)
    ad_id = [f"ad-{x:06d}" for x in rng.integers(0, 1_000_000, n).tolist()]
    price = [f"{x // 100}.{x % 100:02d}" for x in rng.integers(1, 100_000, n).tolist()]
    status = _pick(rng, _STATUSES, n)
    empty = [""] * n

    cols = [ts, event, country, uid, url, _pick(rng, _REFERRERS, n), _pick(rng, _AGENTS, n), ip,
            campaign, ad_id, price, _pick(rng, _CURRENCIES, n), _pick(rng, _DEVICES, n), status,
            empty, empty, empty]
    lines = list(map(",".join, zip(*cols)))
    files = []
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.csv.gz")
        with open(path, "wb") as fh:
            fh.write(gzip.compress(("\n".join(lines[bounds[i]:bounds[i + 1]]) + "\n").encode(), 1, mtime=0))
        files.append(path)

    # the expectation, from the ground truth above
    ev = np.array(event, dtype=object)
    st = np.array(status, dtype=object)
    keep = (
        ~bad_ts & (ts_i >= _ETL_LO) & (ts_i < _ETL_HI)
        & ~bad_ev & ~bad_c & ~no_uid & ~no_url
        & (ev != "bot_ping") & (st != "test")
    )
    out_lines = []
    for i in np.flatnonzero(keep).tolist():
        utm = _UTM[utm_i[i]][0]
        key = f"{uid[i]}|{utm}|{campaign[i]}"
        out_lines.append(
            ",".join((ts[i], event[i], country[i], uid[i], utm, campaign[i], price[i],
                      hashlib.md5(key.encode()).hexdigest())).encode()
        )
    return {
        "files": [os.path.basename(f) for f in files],
        "input_records": n,
        "expected_lines": len(out_lines),
        "expected_digest": line_digest(out_lines),
    }


# ------------------------------------------------------ corpus_dedup ----

CORPUS_VOCAB = 20_000
CORPUS_EXACT_SHARE = 0.02
CORPUS_NEAR_SHARE = 0.05


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words of 3 to 9 letters."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        letters = rng.integers(97, 123, size=(size, 9), dtype=np.uint8)
        lens = rng.integers(3, 10, size=size)
        for row, ln in zip(letters, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return np.array(words, dtype=object)


def gen_corpus(rng: np.random.Generator, out_dir: str, n: int) -> dict:
    """Zipf-vocabulary documents of 50-300 words with planted exact
    duplicates (~2%) and one-word-edit near duplicates (~5%). The
    expectation holds the exact-dedup survivors, the documents the
    near-dedup keeps among them, and the planted pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = _vocabulary(rng, CORPUS_VOCAB)
    ranks = np.arange(1, CORPUS_VOCAB + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    n_exact = int(round(n * CORPUS_EXACT_SHARE))
    n_near = int(round(n * CORPUS_NEAR_SHARE))
    n_orig = n - n_exact - n_near
    lens = rng.integers(50, 301, size=n_orig)
    words = rng.choice(CORPUS_VOCAB, size=int(lens.sum()), p=p)
    starts = np.concatenate([[0], np.cumsum(lens)])
    orig_words = [words[starts[i]:starts[i + 1]] for i in range(n_orig)]
    texts = [" ".join(vocab[w]) for w in orig_words]
    origin = list(range(n_orig))  # planted cluster of each document

    for o in rng.integers(0, n_orig, size=n_exact):
        texts.append(texts[o])
        origin.append(int(o))
    near_src = rng.integers(0, n_orig, size=n_near)
    for o in near_src:
        w = orig_words[o].copy()
        pos = rng.integers(0, len(w))
        new = rng.integers(0, CORPUS_VOCAB)
        while new == w[pos]:
            new = rng.integers(0, CORPUS_VOCAB)
        w[pos] = new
        texts.append(" ".join(vocab[w]))
        origin.append(int(o))

    # doc ids are a seeded permutation, so planted copies are not
    # always the higher id of their cluster
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))

    origin_arr = np.array(origin)[order]
    id_arr = ids[order]
    text_arr = [texts[i] for i in order]
    # exact groups by actual text, so an accidental repeat is handled too
    first_of_text: dict[str, int] = {}
    for i, t in zip(id_arr.tolist(), text_arr):
        if t not in first_of_text or i < first_of_text[t]:
            first_of_text[t] = i
    exact_survivor = sorted(set(first_of_text.values()))
    clusters: dict[int, list[int]] = {}
    for i, o in zip(id_arr.tolist(), origin_arr.tolist()):
        clusters.setdefault(o, []).append(i)
    surv = set(exact_survivor)
    planted_pairs = []
    for members in clusters.values():
        live = sorted(m for m in members if m in surv)
        for a_i in range(len(live)):
            for b in live[a_i + 1:]:
                planted_pairs.append((live[a_i], b))
    text_of = dict(zip(id_arr.tolist(), text_arr))
    text_md5 = {int(i): hashlib.md5(t.encode()).hexdigest() for i, t in text_of.items()}
    return {
        "input_records": n,
        "exact_survivors": exact_survivor,
        "expected_survivors": near_dedup_survivors(exact_survivor, [text_of[i] for i in exact_survivor]),
        "planted_pairs": sorted(planted_pairs),
        "text_md5": text_md5,
    }


#: the near-dedup stage as the workload calls it (lsh_pairs defaults):
#: K minhashes over word SHINGLE-grams, split into BANDS bands of K/BANDS
#: rows; a (band, hash) bucket with more than BUCKET_CAP members is
#: dropped before its pairs are formed
LSH_K = 16
LSH_BANDS = 4
LSH_SHINGLE = 3
LSH_BUCKET_CAP = 50
MINHASH_P = (1 << 31) - 1


def minhash_params(k: int) -> list[tuple[int, int]]:
    """The fixed (a, b) constants of the k affine maps (a*h + b) mod P."""
    return [
        (((2654435761 * (i + 1)) ^ (40503 * i ** 3)) % (MINHASH_P - 1) + 1,
         (11400714819323198485 * (i + 1) + 2654435769 * i) % MINHASH_P)
        for i in range(k)
    ]


def near_dedup_survivors(ids: list[int], texts: list[str]) -> list[int]:
    """The documents a MinHash/LSH near-dedup keeps, computed with
    hashlib and numpy: each shingle's base hash is the first 32 bits of
    its md5, a document's signature is the minimum of every affine map
    over its shingles, a band's key is the md5 of its rows joined with
    commas, documents sharing a key (in a bucket of at most the cap) are
    linked, and each connected component keeps its minimum id.
    Documents with no shingle are never linked."""
    n_sh = LSH_SHINGLE
    hashes: list[int] = []
    counts = []
    for t in texts:
        w = t.split(" ")
        for i in range(len(w) - n_sh + 1):
            hashes.append(int(hashlib.md5(" ".join(w[i:i + n_sh]).encode()).hexdigest()[:8], 16))
        counts.append(max(0, len(w) - n_sh + 1))
    counts_a = np.array(counts)
    with_sh = np.flatnonzero(counts_a > 0)
    starts = np.concatenate([[0], np.cumsum(counts_a)])[with_sh]
    h = np.array(hashes, dtype=np.int64)
    # a < 2**31 and h < 2**32: a*h + b stays below 2**63
    sig = np.stack([np.minimum.reduceat((a * h + b) % MINHASH_P, starts)
                    for a, b in minhash_params(LSH_K)], axis=1)

    r = LSH_K // LSH_BANDS
    buckets: dict[tuple[int, str], list[int]] = {}
    for row, d in zip(sig.tolist(), with_sh.tolist()):
        for b in range(LSH_BANDS):
            key = hashlib.md5(",".join(map(str, row[b * r:(b + 1) * r])).encode()).hexdigest()
            buckets.setdefault((b, key), []).append(ids[d])

    parent = {i: i for i in ids}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        if 2 <= len(members) <= LSH_BUCKET_CAP:
            for other in members[1:]:
                a, b = root(members[0]), root(other)
                # the smaller id is the root, so a root is its component's minimum
                parent[max(a, b)] = min(a, b)
    return sorted(i for i in ids if root(i) == i)


# ---------------------------------------------------------- ann_index ----

#: IVF-PQ build and search parameters
ANN_KC = 16
ANN_NPROBE = 2
ANN_K = 10


def gen_ann(rng: np.random.Generator, out_dir: str, n: int) -> dict:
    """Clustered unit vectors (float32) plus a fixed query list whose
    exact top-10 neighbours come from numpy brute force."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    centers = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))
    assign = rng.integers(0, ANN_CLUSTERS, size=n)
    vecs = centers[assign] + rng.normal(scale=0.6, size=(n, ANN_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))

    base = vecs[rng.integers(0, n, size=ANN_QUERIES)].astype(np.float64)
    queries = base + rng.normal(scale=0.05, size=base.shape)
    queries /= np.linalg.norm(queries, axis=1, keepdims=True)
    v64 = vecs.astype(np.float64)
    exact = []
    for q in queries:
        d2 = ((v64 - q) ** 2).sum(axis=1)
        exact.append(np.lexsort((np.arange(n), d2))[:ANN_K].tolist())
    return {
        "input_records": n,
        "queries": queries.tolist(),
        "exact_top10": exact,
    }


# ------------------------------------------------------------ cache ----

WORKLOADS = ("etl_topology", "corpus_dedup", "ann_index")


def sizes(workload: str, nproc: int) -> dict:
    if workload == "etl_topology":
        return {"records": ETL_RECORDS, "files": etl_files(nproc)}
    if workload == "corpus_dedup":
        return {"docs": CORPUS_DOCS}
    if workload == "ann_index":
        return {"vectors": ANN_VECTORS, "queries": ANN_QUERIES}
    raise ValueError(f"unknown workload {workload!r}")


def cache_dir(cache_root: str, workload: str, seed: int, size: dict) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(cache_root, f"{workload}-s{seed}-{tag}-v{GENERATOR_VERSION}")


def ensure_inputs(cache_root: str, workload: str, seed: int, nproc: int) -> tuple[str, dict]:
    """Return (data dir, expectation), generating them on a cache miss.
    Generation writes into a temporary directory renamed into place
    last, so an interrupted run never leaves a half-written cache."""
    size = sizes(workload, nproc)
    final = cache_dir(cache_root, workload, seed, size)
    exp_path = os.path.join(final, "expect.json")
    if not os.path.exists(exp_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # one stream per (workload, seed): each workload's inputs depend
        # on the seed alone, never on which workload ran before it
        rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
        if workload == "etl_topology":
            expect = gen_etl(rng, tmp, size["records"], size["files"])
        elif workload == "corpus_dedup":
            expect = gen_corpus(rng, tmp, size["docs"])
        else:
            expect = gen_ann(rng, tmp, size["vectors"])
        with open(os.path.join(tmp, "expect.json"), "w") as fh:
            json.dump(expect, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    # always read back, so a fresh and a cached expectation are alike
    with open(exp_path) as fh:
        return final, json.load(fh)

