"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the same
seed writes byte-identical parquet files. The program under test only
ever sees the files; what the output checks need to know (the batch
split, which feed documents have no embedding, the query set) goes to
the benchmark through ``manifest.json``.

Text model: a Zipf(1.2) vocabulary over lowercase stems, with surface
variants (capitalised, trailing punctuation, digits-only tokens the
reference tokenizer drops) and Poisson document lengths. Embeddings are
64-d float32 points around a fixed set of cluster centres.

"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.2
VOCAB = 20_000
DIM = 64
N_CENTRES = 16

# per-workload sizes; every table is written as ``files`` parquet files
# (at least nproc), so a scan has at least one split per core
SIZES = {
    "refjobs": {"docs": 20_000, "mean_len": 40},
    "delta_search": {
        "base": 1_500,
        "batches": 8,
        "batch_docs": 150,
        "mean_len": 60,
        "unembedded_share": 0.03,
    },
}
VERSION = 5  # bump when the generated bytes change for a given seed


def fingerprint(workload: str) -> str:
    """Names the generator settings a cached input set was made with."""
    key = json.dumps([VERSION, ZIPF_S, VOCAB, DIM, SIZES[workload]])
    return hashlib.sha1(key.encode()).hexdigest()[:10]


class TextModel:
    """Zipf vocabulary + surface variants, all drawn from one RNG."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        stems, out = set(), []
        while len(out) < VOCAB:
            w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
            if w not in stems:
                stems.add(w)
                out.append(w)
        self.stems = np.array(out, dtype=object)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        # surface forms: plain, Capitalised, trailing comma, trailing
        # period; a digit token the tokenizer strips to '' and drops
        self.surface = np.stack(
            [
                self.stems,
                np.array([w.capitalize() for w in out], dtype=object),
                np.array([w + "," for w in out], dtype=object),
                np.array([w + "." for w in out], dtype=object),
            ]
        )
        self.variant_p = np.array([0.86, 0.06, 0.05, 0.03])

    def ranks(self, n: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self.cdf, self.rng.random(n)), VOCAB - 1
        )

    def tokens(self, n: int) -> np.ndarray:
        r = self.ranks(n)
        v = self.rng.choice(4, size=n, p=self.variant_p)
        toks = self.surface[v, r]
        digits = self.rng.random(n) < 0.01
        toks[digits] = [str(x) for x in self.rng.integers(0, 10_000, digits.sum())]
        return toks

    def docs(self, n: int, mean_len: int) -> list[list[str]]:
        lens = np.maximum(self.rng.poisson(mean_len, size=n), 1)
        flat = self.tokens(int(lens.sum()))
        bounds = np.concatenate([[0], np.cumsum(lens)])
        return [list(flat[bounds[i] : bounds[i + 1]]) for i in range(n)]


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:05d}.parquet")


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    centres = np.random.default_rng(7).normal(size=(N_CENTRES, DIM))
    which = rng.integers(N_CENTRES, size=n)
    return (centres[which] + 0.35 * rng.normal(size=(n, DIM))).astype(np.float32)


def _emb_array(vecs: np.ndarray, null_mask: np.ndarray) -> pa.Array:
    lists = [None if null_mask[i] else vecs[i].tolist() for i in range(len(vecs))]
    return pa.array(lists, type=pa.list_(pa.float32()))


def generate(workload: str, seed: int, out_dir: str, files: int) -> dict:
    """Write the workload's inputs under ``out_dir`` and return the
    manifest (paths, input properties, ground truth)."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    tm = TextModel(rng)
    size = SIZES[workload]
    man = {"workload": workload, "seed": seed, "files_per_table": files,
           "zipf_s": ZIPF_S, "vocab": VOCAB, **size}
    if workload == "refjobs":
        docs = tm.docs(size["docs"], size["mean_len"])
        ids = rng.permutation(size["docs"]).astype(np.int64)
        table = pa.table({"doc_id": ids, "text": [" ".join(d) for d in docs]})
        _write(table, f"{out_dir}/documents.parquet", files)
        man["tokens"] = int(sum(len(d) for d in docs))
    elif workload == "delta_search":
        man.update(_feed(tm, size, out_dir, files))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(man, fh)
    return man


def _feed(tm: TextModel, size: dict, out_dir: str, files: int) -> dict:
    """Base corpus + micro-batches of unrelated documents. Ids grow
    with arrival."""
    rng = tm.rng
    base_n, nb, bd = size["base"], size["batches"], size["batch_docs"]
    base = tm.docs(base_n, size["mean_len"])
    batches = [
        list(enumerate(tm.docs(bd, size["mean_len"]), start=base_n + b * bd))
        for b in range(nb)
    ]
    n_all = base_n + nb * bd
    vecs = _embeddings(rng, n_all)
    no_vec = rng.random(n_all) < size["unembedded_share"]
    no_vec[:base_n] = False

    def table(rows):
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        return pa.table({
            "doc_id": ids,
            "text": [" ".join(r[1]) for r in rows],
            "embedding": _emb_array(vecs[ids], no_vec[ids]),
        })

    _write(table(list(enumerate(base))), f"{out_dir}/base.parquet", files)
    for b, rows in enumerate(batches):
        _write(table(rows), f"{out_dir}/batch-{b:03d}.parquet", files)
    # the fixed query set: three distinct mid-frequency stems per BM25
    # query, one embedded base vector per IVF query
    stems = tm.stems
    bm25_queries = [
        [str(stems[int(r)]) for r in rng.choice(np.arange(20, 400), size=3, replace=False)]
        for _ in range(3)
    ]
    ivf_query_ids = sorted(int(i) for i in rng.choice(base_n, size=3, replace=False))
    return {
        "batch_ids": [[r[0] for r in rows] for rows in batches],
        "unembedded": [int(i) for i in np.flatnonzero(no_vec)],
        "bm25_queries": bm25_queries,
        # (base doc id, its embedding): float32 values survive JSON exactly
        "ivf_queries": [[i, vecs[i].tolist()] for i in ivf_query_ids],
    }
