"""Seeded benchmark inputs, built in set-up and cached under the work dir.

Two inputs, both pure functions of ``(seed, size)``:

* the image+caption corpus (``image_id, bytes, w, h, fmt, caption,
  phash`` — the schema ``sparkclean.synth`` emits), for the two image
  routes;
* the three tables the headline queries read (``documents``,
  ``embeddings``, ``events``), shaped like the sf0.1 test data (same
  schemas, row counts and value distributions).

plus the seed-independent sample the kernel probes read.

Pixels are the expensive part (~3.6 ms per image, single process), and
the seed only needs to vary which image sits on which row.  So the
distinct images are rendered once per work dir into a seed-independent
*pool* (``sparkclean.images.codec`` primitives, sizes and formats drawn
as ``sparkclean.synth`` draws them) and each seeded corpus is assembled
from it: a seeded permutation of the pool, ~2% of rows re-pointed at
``n // 1000`` hot base images (the synth duplicate clusters), and
captions from ``sparkclean.synth._gen_captions`` over row ids salted by
the seed.
"""

from __future__ import annotations

import glob
import multiprocessing
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump with any change to how inputs are derived: cached inputs under the
# work dir are keyed by it
VERSION = 1
SALT_SHIFT = 32  # seed occupies the high bits of the salted row ids
CORPUS_FILES = 32
BASE_PX, PX_STEP = 64, 24  # image sides 64..160 px, as bench.py's corpus

_POOL_SCHEMA = pa.schema(
    [("bytes", pa.binary()), ("w", pa.int32()), ("h", pa.int32()),
     ("fmt", pa.string()), ("phash", pa.int64())]
)


def _render(span: tuple[int, int]) -> list:
    """Render pool rows [lo, hi) (worker body)."""
    from sparkclean import synth
    from sparkclean.images import codec

    keys = np.arange(*span, dtype=np.uint64)
    ws = BASE_PX + (synth.mix64(keys, 9) % np.uint64(5)).astype(np.int64) * PX_STEP
    hs = BASE_PX + (synth.mix64(keys, 11) % np.uint64(5)).astype(np.int64) * PX_STEP
    jpeg = synth._u(keys, 10) < 0.30
    rows = []
    for i, k in enumerate(keys):
        px = codec.synth_pixels(int(k), int(ws[i]), int(hs[i]))
        fmt = "jpeg" if jpeg[i] else "png"
        rows.append((codec.encode(px, fmt), int(ws[i]), int(hs[i]), fmt, codec.phash64(px)))
    return rows


def _replace_dir(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def image_pool(work: str, n: int, procs: int) -> pa.Table:
    """The ``n`` distinct rendered images, built once per work dir."""
    path = os.path.join(work, f"pool_v{VERSION}_{n}.parquet")
    if not os.path.exists(path):
        step = -(-n // (procs * 4))
        chunks = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(procs) as pool:
            parts = pool.map(_render, chunks)
            pool.close()
            pool.join()
        rows = [r for part in parts for r in part]
        table = pa.Table.from_arrays(
            [pa.array([r[j] for r in rows], type=f.type) for j, f in enumerate(_POOL_SCHEMA)],
            schema=_POOL_SCHEMA,
        )
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def _salted(seed: int, n: int) -> np.ndarray:
    return np.arange(n, dtype=np.uint64) + np.uint64(seed << SALT_SHIFT)


def _drop_other_seeds(work: str, kind: str, seed: int) -> None:
    """Delete cached inputs of other seeds, so the work dir holds one
    seed's inputs at a time (a filling disk skews timings)."""
    keep = f"{kind}_v{VERSION}_s{seed}_"
    for stale in glob.glob(os.path.join(work, f"{kind}_v*")):
        if not os.path.basename(stale).startswith(keep):
            shutil.rmtree(stale, ignore_errors=True)


def image_corpus(work: str, seed: int, n: int, procs: int) -> str:
    """Parquet directory of the seeded ``n``-image corpus; returns its path."""
    from sparkclean import synth

    path = os.path.join(work, f"images_v{VERSION}_s{seed}_n{n}")
    _drop_other_seeds(work, "images", seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    pool = image_pool(work, n, procs)
    keys = _salted(seed, n)
    # rows take a seeded permutation of the pool; ~2% of them re-point at
    # one of n // 1000 hot base images (Zipf-ish, as synth._image_seed)
    perm = np.argsort(synth.mix64(keys, 12), kind="stable")
    n_bases = max(n // 1000, 1)
    is_dup = synth._u(keys, 7) < 0.02
    base = (synth._u(keys, 8) ** 2 * n_bases).astype(np.int64)
    idx = np.where(is_dup, perm[base], perm)
    captions, _ = synth._gen_captions(keys)
    table = pool.take(pa.array(idx))
    table = table.append_column(
        "image_id", pa.array([f"img_{i:012d}" for i in range(n)])
    ).append_column("caption", pa.array(captions, type=pa.string()))
    table = table.select(["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-n // CORPUS_FILES)
    for j, lo in enumerate(range(0, n, per)):
        pq.write_table(table.slice(lo, per), os.path.join(tmp, f"part-{j:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _replace_dir(tmp, path)
    return path


def probe_sample(work: str, pool_n: int, rows: int, procs: int) -> str:
    """Fixed (seed-independent) kernel-probe sample: the first ``rows``
    pool images with seed-0 captions."""
    from sparkclean import synth

    path = os.path.join(work, f"probe_v{VERSION}_{pool_n}_{rows}.parquet")
    if not os.path.exists(path):
        table = image_pool(work, pool_n, procs).slice(0, rows)
        captions, _ = synth._gen_captions(np.arange(rows, dtype=np.uint64))
        table = table.append_column("caption", pa.array(captions, type=pa.string()))
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


# ------------------------------------------------------- query tables

_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch",
]
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    # 5% near-duplicates: another document's text plus a trailing token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    e = rng.standard_normal((n, dim)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng: np.random.Generator, n: int, users: int = 1500) -> pa.Table:
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.int64(1704067200 * 1_000_000)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def query_tables(work: str, seed: int, docs: int, vecs: int, events: int) -> str:
    """Directory holding ``{documents,embeddings,events}.parquet`` for the
    seed (one parquet file each, the layout ``__spark_entry__`` reads)."""
    path = os.path.join(work, f"tables_v{VERSION}_s{seed}_{docs}_{vecs}_{events}")
    _drop_other_seeds(work, "tables", seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rng = np.random.default_rng([VERSION, seed])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in (
        ("documents", _documents(rng, docs)),
        ("embeddings", _embeddings(rng, vecs)),
        ("events", _events(rng, events)),
    ):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _replace_dir(tmp, path)
    return path
