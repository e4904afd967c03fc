"""Seeded inputs and independent reference results, cached on disk.

Every workload's input is generated from ``logagent_spark.datagen`` with
the run's seed and written as parquet with pyarrow, so the program under
test sees only files. The expected outputs are computed here, once per
(workload, seed, size), without Spark:

* ``oracle.run_pipeline`` (the row-at-a-time transcription of the
  reference agent) runs over every generated row; for the html workload
  it reads the generator's ``text``, which the engine must recover
  byte-identically from ``html``;
* its near-duplicate stage is recomputed in numpy — banded hyperplane
  LSH and IVF k-NN over md5-byte embeddings of the page texts — as
  sequential left folds over dimensions (the fold order the engine
  documents as its arithmetic contract).

Cache entries live under ``<checkout>/.perfbench/cache`` and are reused
only when their ``reference.json`` was written completely.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logagent_spark.plans.pipeline import DEAD_SINK

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def row_digest(*parts: str) -> int:
    """64-bit digest of one output row; summed, it is order-independent.
    The Spark side computes the same value with md5 + conv."""
    h = hashlib.md5("\x1f".join(parts).encode("utf-8")).hexdigest()
    return int(h[:16], 16)


def _write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd",
        )


def _pages_table(pdf) -> pa.Table:
    return pa.Table.from_pandas(
        pdf[["url", "warc_ts", "html", "text", "lang"]],
        schema=PAGES_SCHEMA, preserve_index=False,
    )


class InputCache:
    """One directory per (workload, seed, size) holding the parquet
    input and ``reference.json``."""

    def __init__(self, root: str) -> None:
        self.root = root

    def entry(self, workload: str, seed: int, size: int) -> str:
        return os.path.join(self.root, f"{workload}-s{seed}-n{size}")

    def get(self, workload: str, seed: int, size: int, build) -> tuple[str, dict]:
        """-> (entry dir, reference). `build(entry_dir)` writes the input
        files and returns the reference dict."""
        d = self.entry(workload, seed, size)
        ref_path = os.path.join(d, "reference.json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return d, json.load(f)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        ref = build(d)
        tmp = ref_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ref, f)
        os.replace(tmp, ref_path)
        return d, ref


# ---------------------------------------------------------------------------
# routing workloads: oracle over every row

def route_reference(spec, pdf) -> dict:
    """Expected per-sink counts, per-reason drop counts, sink_counts
    groups and (sink, url, rendered) digests, from `oracle.run_pipeline`
    applied row by row (one call per row keeps each output tied to its
    url)."""
    from logagent_spark.oracle import run_pipeline

    sink_rows: Counter = Counter()
    drops: Counter = Counter()
    groups: Counter = Counter()
    digest: Counter = Counter()
    url_host_sinks: Counter = Counter()
    cols = ["url", "warc_ts", "text", "lang"]
    for url, ts, text, lang in zip(*(pdf[c].tolist() for c in cols)):
        row = {"url": url, "warc_ts": ts, "text": text, "lang": lang,
               "message": text, "device_id": "logagent-spark",
               "timestamp": ts}
        out = _oracle_outputs(run_pipeline(spec, [row]))
        hour = ts.strftime("%Y-%m-%d %H")
        host = url.split("/")[2]
        for sink, rendered in out:
            key = "reason:" + rendered if sink == DEAD_SINK else "sink"
            sink_rows[sink] += 1
            groups[f"{sink}|{lang}|{hour}"] += 1
            digest[f"{sink}|{key}"] += row_digest(sink, url, rendered)
            if sink == DEAD_SINK:
                drops[rendered] += 1
            else:
                url_host_sinks[f"{sink}|{host}"] += 1
    return {
        "rows": len(pdf),
        "sink_counts": dict(sink_rows),
        "drop_counts": dict(drops),
        "groups": dict(groups),
        # digests are exact sums of 64-bit values: keep them as strings
        "digest": {k: str(v) for k, v in digest.items()},
        "distinct_urls": dict(url_host_sinks),
    }


def scaled(ref: dict, copies: int) -> dict:
    """The reference of an input that holds every page `copies` times:
    every row count and digest sum grows by that factor; the distinct
    urls per (sink, host) do not."""
    if copies == 1:
        return ref

    def times(counts: dict) -> dict:
        return {k: v * copies for k, v in counts.items()}

    return {
        "rows": ref["rows"] * copies,
        "sink_counts": times(ref["sink_counts"]),
        "drop_counts": times(ref["drop_counts"]),
        "groups": times(ref["groups"]),
        "digest": {k: str(int(v) * copies) for k, v in ref["digest"].items()},
        "distinct_urls": ref["distinct_urls"],
    }


def _oracle_outputs(out: dict) -> list[tuple[str, str]]:
    """-> [(sink, rendered)] of a one-row oracle run; a dropped row gives
    one (dead-letter, reason) pair, as the engine's multiplexed frame
    does."""
    if out["dropped"]:
        return [(DEAD_SINK, out["dropped"][0][0])]
    return [(s, r) for s, vals in out["sinks"].items() for r in vals]


def build_pages(
    d: str, *, spec, n: int, seed: int, filler: int, n_files: int,
    copies: int = 1, keep_text: bool = True, extra=None,
) -> dict:
    """Write the pages input, every generated page `copies` times; ->
    the oracle reference, plus `extra(pages)` under "extra" when given."""
    from logagent_spark.datagen import gen_pages

    pdf = gen_pages(n, seed=seed, n_hosts=1000, filler_sentences=filler)
    table = _pages_table(pdf)
    if not keep_text:
        table = table.drop(["text"])
    _write_parquet(pa.concat_tables([table] * copies),
                   os.path.join(d, "pages"), n_files)
    ref = scaled(route_reference(spec, pdf), copies)
    if extra is not None:
        ref["extra"] = extra(pdf)
    return ref


# ---------------------------------------------------------------------------
# near-duplicate stage: md5-byte embeddings of the extracted pages

DIM = 16
TWIN_BUMP = 40.0  # added to dimension 0 of a twin (cos ~0.99 to its base)
SAMPLE_MOD = 4    # a page joins the vector corpus iff crc32(url) % 4 == 0
TWIN_MOD = 200    # and gets a planted twin iff crc32(url) % 200 == 0


def _fold_dots(e: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Row-by-column dot products as sequential left folds over the
    dimension axis: acc = acc + e[:, d] * m[d, :]."""
    acc = np.zeros((e.shape[0], m.shape[1]), dtype=np.float64)
    for d in range(e.shape[1]):
        acc = acc + e[:, d][:, None] * m[d, :][None, :]
    return acc


def _fold_norms(e: np.ndarray) -> np.ndarray:
    acc = np.zeros(e.shape[0], dtype=np.float64)
    for d in range(e.shape[1]):
        acc = acc + e[:, d] * e[:, d]
    return np.sqrt(acc)


def page_vectors(urls, texts) -> tuple[list[str], np.ndarray, list[int]]:
    """-> (ids, matrix, twin base indices) of the sampled pages: each
    vector is the 16 md5 bytes of the page text, centred on 0; a twin's
    id is its base id plus "#dup"."""
    ids: list[str] = []
    rows: list[list[int]] = []
    twin_idx: list[int] = []
    for url, text in zip(urls, texts):
        c = zlib.crc32(url.encode("utf-8"))
        if c % SAMPLE_MOD:
            continue
        if c % TWIN_MOD == 0:
            twin_idx.append(len(ids))
        ids.append(url)
        rows.append(list(hashlib.md5(text.encode("utf-8")).digest()))
    base = np.array(rows, dtype=np.float64).reshape(-1, DIM) - 128.0
    twins = base[twin_idx].copy()
    twins[:, 0] += TWIN_BUMP
    return (ids + [ids[i] + "#dup" for i in twin_idx],
            np.vstack([base, twins]), twin_idx)


def lsh_reference(ids, mat, twin_idx, *, n_planes, n_chunks, seed,
                  max_bucket_size) -> dict:
    """Candidate pairs of banded hyperplane LSH: a pair is a candidate
    iff some band's sign-bit key matches and that bucket holds at most
    `max_bucket_size` vectors."""
    planes = np.random.RandomState(seed).randn(n_planes, mat.shape[1])
    bits = (_fold_dots(mat, planes.T) >= 0).astype(np.int64)
    base, rem = divmod(n_planes, n_chunks)
    order = np.argsort(np.array(ids, dtype=object), kind="stable")
    sorted_ids = [ids[i] for i in order]
    norms = _fold_norms(mat)
    pairs: dict[tuple[int, int], None] = {}
    start = 0
    for c in range(n_chunks):
        size = base + (1 if c < rem else 0)
        key = np.zeros(len(ids), dtype=np.int64)
        for p in range(start, start + size):
            key = key * 2 + bits[:, p]
        start += size
        buckets: dict[int, list[int]] = {}
        for pos, i in enumerate(order):  # id order inside every bucket
            buckets.setdefault(int(key[i]), []).append(pos)
        for members in buckets.values():
            if len(members) < 2 or len(members) > max_bucket_size:
                continue
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    pairs[(members[x], members[y])] = None
    digest = 0
    n_useful = 0
    found = set()
    plist = list(pairs)
    if plist:
        pa_idx = np.array([order[a] for a, _ in plist])
        pb_idx = np.array([order[b] for _, b in plist])
        dots = np.zeros(len(plist), dtype=np.float64)
        for d in range(mat.shape[1]):
            dots = dots + mat[pa_idx, d] * mat[pb_idx, d]
        denom = norms[pa_idx] * norms[pb_idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        ppm = np.floor(cos * 1_000_000).astype(np.int64)
        for (a, b), p in zip(plist, ppm.tolist()):
            ida, idb = sorted_ids[a], sorted_ids[b]
            digest += row_digest(ida, idb, str(p))
            if p >= 900_000:
                n_useful += 1
                if idb == ida + "#dup":
                    found.add(ida)
    n_base = len(ids) - len(twin_idx)  # twin j sits at row n_base + j
    truth = {ids[i] for j, i in enumerate(twin_idx)
             if _pair_cos(mat, norms, i, n_base + j) >= 0.9}
    return {
        "candidates": len(plist),
        "digest": str(digest),
        "useful": n_useful,
        "planted": len(truth),
        "planted_found": len(found & truth),
    }


def _pair_cos(mat, norms, a, b) -> float:
    dot = 0.0
    for d in range(mat.shape[1]):
        dot = dot + mat[a, d] * mat[b, d]
    return dot / (norms[a] * norms[b])


def knn_reference(ids, mat, twin_idx, *, n_centroids, nprobe, k,
                  seed) -> dict:
    """IVF k-NN of every twin against the whole corpus: corpus vectors
    sit in their argmax-dot centroid bucket, a query scans its nprobe
    highest-dot buckets, and the top k follow (cos ppm DESC, id ASC)."""
    c = np.random.RandomState(seed).randn(n_centroids, mat.shape[1])
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    cdots = _fold_dots(mat, c.T)
    bucket = np.argmax(cdots, axis=1)
    norms = _fold_norms(mat)
    n_base = len(ids) - len(twin_idx)
    q_rows = list(range(n_base, len(ids)))
    digest = 0
    id_arr = np.array(ids, dtype=object)
    for qi in q_rows:
        probes = sorted(range(n_centroids), key=lambda j: (-cdots[qi, j], j))
        cand = np.nonzero(np.isin(bucket, probes[:nprobe]))[0]
        dots = np.zeros(len(cand), dtype=np.float64)
        for d in range(mat.shape[1]):
            dots = dots + mat[cand, d] * mat[qi, d]
        en = norms[cand].copy()
        en[en == 0] = 1.0
        qn = norms[qi] if norms[qi] != 0 else 1.0
        ppm = np.floor(dots / (en * qn) * 1_000_000).astype(np.int64)
        top = sorted(zip((-ppm).tolist(), id_arr[cand].tolist()))[:k]
        for neg, cid in top:
            digest += row_digest(ids[qi], cid, str(-neg))
    return {"queries": len(q_rows), "digest": str(digest)}


def vector_reference(pdf, configure, k: int) -> dict:
    """LSH candidates and k-NN results expected from the sampled pages.
    `configure(n_vectors)` -> (lsh config, ivf config), the sizing the
    workload will use."""
    ids, mat, twin_idx = page_vectors(pdf["url"].tolist(),
                                      pdf["text"].tolist())
    lsh, ivf = configure(len(ids))
    return {
        "rows": len(ids),
        "all_pairs": len(ids) * (len(ids) - 1) // 2,
        "lsh_config": lsh,
        "ivf_config": ivf,
        "lsh": lsh_reference(
            ids, mat, twin_idx, n_planes=lsh["n_planes"],
            n_chunks=lsh["n_chunks"], seed=lsh["seed"],
            max_bucket_size=lsh["max_bucket_size"]),
        "knn": knn_reference(
            ids, mat, twin_idx, n_centroids=ivf["n_centroids"],
            nprobe=ivf["nprobe"], k=k, seed=ivf["seed"]),
    }


def frac(a: float, b: float) -> float:
    return a / b if b else 0.0
