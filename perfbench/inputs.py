"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: no Spark, so the generators are cheap to test and
their output is a function of (base tables, seed) alone.

- ``curation_x4`` stages a k-fold *relabelled* replication of the sf0.1
  corpus (``stage_curation``): replica r of a document is a seeded
  permutation of the corpus vocabulary applied to its text, replica r of
  an embedding is a seeded random orthogonal rotation, and ids become
  ``id * k + r``. Replica 0 is the identity, so the staged corpus holds
  sf0.1 itself. A bijection on tokens keeps every within-replica
  duplicate and near-duplicate (and so the duplicate share) while making
  replicas distinct, unlike plain copies, which the dedup-first stages
  collapse. The seed also orders the queries of each pass
  (``query_order``).
- ``lakehouse_dml`` gets a seeded operation script with its batch files
  (``stage_dml``) over a table created from sf0.1 documents.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.1")
BASE_TABLES = ("documents", "embeddings", "customer", "supplier", "nation", "region")

_WORD = re.compile(r"[A-Za-z]+")


def base_path(table: str) -> str:
    return os.path.join(BASE_DIR, table + ".parquet")


def query_order(names: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def _write_parts(table: pa.Table, out_dir: str, n_parts: int) -> None:
    """A Spark-style input: a directory of part files."""
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_parts + 1).astype(int)
    for i in range(n_parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def replicate_documents(docs: pa.Table, k: int, seed: int) -> pa.Table:
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in texts for w in _WORD.findall(t)})
    rng = np.random.default_rng([seed, 1])
    ids = np.asarray(docs.column("doc_id"))
    parts = []
    for r in range(k):
        if r == 0:
            new = texts
        else:
            perm = dict(zip(vocab, (vocab[i] for i in rng.permutation(len(vocab)))))
            new = [_WORD.sub(lambda m: perm[m.group(0)], t) for t in texts]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(ids * k + r, pa.int64()),
                    "text": pa.array(new, pa.string()),
                    "lang": docs.column("lang"),
                    "source": docs.column("source"),
                    "n_chars": pa.array([len(t) for t in new], pa.int64()),
                }
            )
        )
    return pa.concat_tables(parts)


def random_rotation(dim: int, rng: np.random.Generator) -> np.ndarray:
    """Haar-random orthogonal matrix (QR of a Gaussian, sign-fixed)."""
    q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
    return q * np.sign(np.diag(r))


def replicate_embeddings(emb: pa.Table, k: int, seed: int) -> pa.Table:
    col = emb.column("embedding").combine_chunks()
    dim = len(col[0])
    mat = np.asarray(col.flatten(), dtype=np.float64).reshape(-1, dim)
    ids = np.asarray(emb.column("vec_id"))
    rng = np.random.default_rng([seed, 2])
    parts = []
    for r in range(k):
        rot = mat if r == 0 else mat @ random_rotation(dim, rng)
        flat = pa.array(rot.astype(np.float32).ravel(), pa.float32())
        vectors = pa.ListArray.from_arrays(
            pa.array(np.arange(0, rot.size + 1, dim, dtype=np.int32)), flat
        )
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(ids * k + r, pa.int64()),
                    "embedding": vectors,
                    "label": emb.column("label"),
                }
            )
        )
    return pa.concat_tables(parts)


def stage_curation(out_dir: str, seed: int, k: int = 4, n_parts: int = 4) -> dict:
    """Write the ``curation_x4`` inputs under ``out_dir`` (an sf dir the
    registry queries read); returns row counts and bytes on disk."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    docs = replicate_documents(pq.read_table(base_path("documents")), k, seed)
    emb = replicate_embeddings(pq.read_table(base_path("embeddings")), k, seed)
    _write_parts(docs, os.path.join(out_dir, "documents.parquet"), n_parts)
    _write_parts(emb, os.path.join(out_dir, "embeddings.parquet"), n_parts)
    for t in BASE_TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copyfile(base_path(t), os.path.join(out_dir, t + ".parquet"))
    return {
        "replicas": k,
        "documents_rows": docs.num_rows,
        "embeddings_rows": emb.num_rows,
        "bytes_on_disk": dir_bytes(out_dir),
    }


def num_rows(path: str) -> int:
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def duplicate_shares(texts: list[str], shingle: int = 3, threshold: float = 0.8) -> dict:
    """Exact- and near-duplicate shares of a corpus.

    exact: share of documents whose text equals an earlier document's.
    near: share of documents with a Jaccard >= ``threshold`` partner over
    word ``shingle``-grams (candidates from 16 bands x 2 rows of a
    32-permutation MinHash, near-certain to catch every such pair, then
    verified exactly). Both measures are
    invariant under a bijection on tokens, which is what the replication
    must preserve within each replica."""
    seen: set[str] = set()
    exact = 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    sets = []
    for t in texts:
        w = t.split()
        sets.append({" ".join(w[i : i + shingle]) for i in range(max(1, len(w) - shingle + 1))})
    codes: dict[str, int] = {}
    for st in sets:
        for sh in st:
            if sh not in codes:
                digest = hashlib.blake2b(sh.encode(), digest_size=8).digest()
                codes[sh] = int.from_bytes(digest, "little")
    rng = np.random.default_rng(0)
    a = rng.integers(1, 1 << 63, 32, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 63, 32, dtype=np.uint64)
    buckets: dict[tuple, list[int]] = {}
    with np.errstate(over="ignore"):
        for i, st in enumerate(sets):
            x = np.array([codes[sh] for sh in st], np.uint64)
            sig = (x[None, :] * a[:, None] + b[:, None]).min(axis=1)
            for band in range(16):
                buckets.setdefault((band, *sig[band * 2 : band * 2 + 2].tolist()), []).append(i)
    near = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                si, sj = sets[i], sets[j]
                if len(si & sj) >= threshold * len(si | sj):
                    near.update((i, j))
    n = len(texts)
    return {"exact": exact / n, "near": len(near) / n}


def stage_dml(out_dir: str, seed: int, n_cycles: int) -> list[dict]:
    """The seeded operations of each ``lakehouse_dml`` cycle, with the
    append and merge batches written as parquet files under ``out_dir``.

    Appends copy 300 random base rows under fresh ids; a delete removes
    ``doc_id % m = r`` (about 45 rows, every partition touched); an update
    bumps ``n_chars`` on one (lang, source) cell; a merge upserts 25
    existing keys with changed text plus 25 new keys. The seed draws the
    rows, keys and predicate constants; the partition a cycle's update
    and pruned read target rotates with the cycle number, so every seed
    does the same amount of work per cycle."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    docs = pq.read_table(base_path("documents"))
    n = docs.num_rows
    ids = np.asarray(docs.column("doc_id"))
    rng = np.random.default_rng([seed, 3])
    langs = ["de", "en", "es", "fr", "zh"]
    next_id = int(ids.max()) + 1
    cycles = []
    for c in range(n_cycles):
        app = docs.take(rng.choice(n, 300, replace=False))
        app = app.set_column(0, "doc_id", pa.array(np.arange(next_id, next_id + 300), pa.int64()))
        next_id += 300
        upd = docs.take(rng.choice(n, 25, replace=False))
        text = [t + " merged" for t in upd.column("text").to_pylist()]
        upd = upd.set_column(1, "text", pa.array(text, pa.string()))
        upd = upd.set_column(4, "n_chars", pa.array([len(t) for t in text], pa.int64()))
        new = docs.take(rng.choice(n, 25, replace=False))
        new = new.set_column(0, "doc_id", pa.array(np.arange(next_id, next_id + 25), pa.int64()))
        next_id += 25
        append_path = os.path.join(out_dir, f"append-{c:04d}.parquet")
        merge_path = os.path.join(out_dir, f"merge-{c:04d}.parquet")
        pq.write_table(app, append_path)
        pq.write_table(pa.concat_tables([upd, new]), merge_path)
        mod = int(rng.integers(97, 131))
        cycles.append(
            {
                "append_table": {"batch": append_path},
                "delete_from_table": {
                    "condition": f"doc_id % {mod} = {int(rng.integers(0, mod))}"
                },
                "update_table": {
                    "set": {"n_chars": f"n_chars + {int(rng.integers(1, 9))}"},
                    "condition": f"lang = '{langs[c % 5]}' "
                    f"AND source = 'src{int(rng.integers(0, 20))}'",
                },
                "merge_upsert_table": {"batch": merge_path},
                "read_lang": langs[(c + 2) % 5],
            }
        )
    return cycles
