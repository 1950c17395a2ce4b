"""Seeded inputs for the benchmark: corpus, query stream, upsert batches.

Each corpus row is a unit-norm float32 vector blended toward one of
``n_clusters`` planted unit centroids (``v = normalize(ALPHA * c + BETA *
noise)``), so a query aligned to a cluster has a real neighbourhood and IVF
recall is meaningful. The
metadata columns (``label``, ``text``, ``lang``, ``source``, ``n_chars``)
are tiled row by row from the sf0.1 testdata, so the canonical filter
templates keep their strict, medium and broad selectivities.

Everything here is numpy/pyarrow only: no Spark. The corpus is written in
the testdata layout (``embeddings.parquet`` + ``documents.parquet``) so the
engine's own ``load_corpus`` reads it, and cached per (seed, generator
source) under the work directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np

DIM = 384
ALPHA = 0.95
BETA = (1.0 - ALPHA**2) ** 0.5
K = 10
_DONE = "_PERFBENCH_CORPUS_OK"


def generator_digest() -> str:
    """Identity of this generator's source: a cache built by other code is
    never reused."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def centroids(seed: int, n_clusters: int, dim: int = DIM) -> np.ndarray:
    rng = np.random.default_rng([seed, 1])
    return _unit_rows(rng.standard_normal((n_clusters, dim)))


def blend(cents: np.ndarray, cluster: np.ndarray, noise: np.ndarray) -> np.ndarray:
    return _unit_rows(ALPHA * cents[cluster] + BETA * _unit_rows(noise))


def embeddings(seed: int, n: int, n_clusters: int,
               dim: int = DIM) -> tuple[np.ndarray, np.ndarray]:
    """(float32 [n, dim] unit rows, int cluster of each row)."""
    cents = centroids(seed, n_clusters, dim)
    rng = np.random.default_rng([seed, 2])
    cluster = rng.integers(0, n_clusters, size=n)
    out = np.empty((n, dim), dtype=np.float32)
    step = 16_384  # bounded float64 temporaries
    for lo in range(0, n, step):
        hi = min(lo + step, n)
        out[lo:hi] = blend(cents, cluster[lo:hi],
                           rng.standard_normal((hi - lo, dim)))
    return out, cluster


def tiled_metadata(sf_dir: str, n: int):
    """Metadata frame of ``n`` rows: row ``i`` copies the sf0.1 corpus row
    ``i mod n_src`` (its label from embeddings, the rest from documents)."""
    import pyarrow.parquet as pq

    src_emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "label"]).to_pandas()
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    src = src_emb.merge(docs, left_on="vec_id", right_on="doc_id", how="left")
    src = src.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
    take = np.arange(n) % len(src)
    meta = src.iloc[take].reset_index(drop=True)
    meta = meta[["label", "text", "lang", "source", "n_chars"]].copy()
    meta.insert(0, "id", np.arange(n, dtype=np.int64))
    return meta


@dataclass
class Corpus:
    path: str  # directory in the testdata layout
    emb: np.ndarray  # float32 [n, dim]
    meta: "object"  # pandas frame: id, label, text, lang, source, n_chars
    cents: np.ndarray  # float64 planted centroids = the fixed IVF quantizer
    checksum: str


def _checksum(emb: np.ndarray, meta) -> str:
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(emb).tobytes())
    h.update(meta.to_csv(index=False).encode())
    return h.hexdigest()[:16]


def write_testdata_layout(path: str, ids: np.ndarray, emb: np.ndarray, meta) -> None:
    """``embeddings.parquet`` (vec_id, embedding list<float>, label) and
    ``documents.parquet`` (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n, d = emb.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    vec = pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1)))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": vec,
            "label": pa.array(meta["label"].to_numpy(), pa.int32()),
        }),
        os.path.join(path, "embeddings.parquet"),
        row_group_size=max(n // 16, 1), compression="none",
    )
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(meta["text"].tolist(), pa.string()),
            "lang": pa.array(meta["lang"].tolist(), pa.string()),
            "source": pa.array(meta["source"].tolist(), pa.string()),
            "n_chars": pa.array(meta["n_chars"].to_numpy(), pa.int64()),
        }),
        os.path.join(path, "documents.parquet"),
    )


def read_testdata_layout(path: str, dim: int):
    """(float32 embeddings, metadata frame) back from ``path``."""
    import pyarrow.parquet as pq

    e = pq.read_table(os.path.join(path, "embeddings.parquet"))
    emb = e.column("embedding").combine_chunks().flatten().to_numpy()
    emb = emb.astype(np.float32, copy=False).reshape(len(e), dim)
    d = pq.read_table(os.path.join(path, "documents.parquet")).to_pandas()
    meta = d.rename(columns={"doc_id": "id"})
    meta.insert(1, "label", e.column("label").to_numpy())
    return emb, meta[["id", "label", "text", "lang", "source", "n_chars"]]


def build_corpus(seed: int, sf_dir: str, cache_root: str, n: int,
                 n_clusters: int, dim: int = DIM) -> Corpus:
    """Generate (or read back the cached) corpus for ``seed``; a cache
    written by another version of this file is replaced."""
    stem = f"corpus_s{seed}_n{n}_d{dim}_c{n_clusters}_"
    path = os.path.join(cache_root, stem + generator_digest())
    done = os.path.join(path, _DONE)
    if os.path.exists(done):
        emb, meta = read_testdata_layout(path, dim)
        checksum = open(done).read().strip()
    else:
        for name in os.listdir(cache_root):
            if name.startswith(stem):
                shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
        emb, _cluster = embeddings(seed, n, n_clusters, dim)
        meta = tiled_metadata(sf_dir, n)
        checksum = _checksum(emb, meta)
        write_testdata_layout(path, meta["id"].to_numpy(), emb, meta)
        with open(done, "w") as f:
            f.write(checksum + "\n")
    return Corpus(path, emb, meta, centroids(seed, n_clusters, dim), checksum)


def query_vector(seed: int, i: int, cents: np.ndarray,
                 warm: bool = False) -> tuple[np.ndarray, int]:
    """The ``i``-th query of the stream (of the warm-up stream when
    ``warm``): unit float64, aligned to a planted cluster exactly as corpus
    rows are."""
    rng = np.random.default_rng([seed, 8 if warm else 3, i])
    g = int(rng.integers(0, len(cents)))
    q = blend(cents, np.array([g]), rng.standard_normal((1, cents.shape[1])))
    return q[0], g


def method_order(seed: int, block: int, methods: tuple[str, ...]) -> list[str]:
    """The seeded order in which block ``block`` (one template) runs
    ``methods``: the same multiset in every block, so counts stay fixed."""
    rng = np.random.default_rng([seed, 4, block])
    return [methods[j] for j in rng.permutation(len(methods))]


@dataclass
class UpsertBatch:
    insert_ids: np.ndarray
    replace_ids: np.ndarray
    delete_ids: np.ndarray
    vectors: np.ndarray  # float32 rows for insert_ids ++ replace_ids
    meta_rows: np.ndarray  # source corpus rows whose metadata the new rows copy


def upsert_batch(seed: int, cycle: int, next_id: int, live_ids: np.ndarray,
                 cents: np.ndarray, n_meta: int, n_insert: int,
                 n_replace: int, n_delete: int) -> UpsertBatch:
    """One seeded write batch: ``n_insert`` new ids from ``next_id``,
    ``n_replace`` live ids with new vectors, ``n_delete`` other live ids."""
    rng = np.random.default_rng([seed, 6, cycle])
    pick = rng.choice(live_ids, size=n_replace + n_delete, replace=False)
    replace_ids, delete_ids = np.sort(pick[:n_replace]), np.sort(pick[n_replace:])
    insert_ids = np.arange(next_id, next_id + n_insert, dtype=np.int64)
    m = n_insert + n_replace
    g = rng.integers(0, len(cents), size=m)
    vecs = blend(cents, g, rng.standard_normal((m, cents.shape[1])))
    meta_rows = rng.integers(0, n_meta, size=m)
    return UpsertBatch(insert_ids, replace_ids, delete_ids,
                       vecs.astype(np.float32), meta_rows)
