"""Seeded benchmark inputs, cached in the work directory.

Two input sets, both made only from the workload seed:

- an image+caption corpus in 64 parquet shards (the pipeline's source
  shape), generated with ``gobulk_spark.corpus.generate_pairs`` one shard
  per process, plus the single-node reference labels
  (``reference_labeler.label``) that the output check compares against;
- a ``documents`` table (doc_id, text, lang, source, n_chars) in the
  schema and the measured shapes of the repository's sf test tables,
  near copies included, so the dedup-family operators have pairs to
  find.

The program only ever sees the generated parquet files.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 64


def _stamp_ok(path: str, stamp: dict) -> bool:
    try:
        with open(path) as f:
            return json.load(f) == stamp
    except (OSError, ValueError):
        return False


def _write_stamp(path: str, stamp: dict) -> None:
    with open(path, "w") as f:
        json.dump(stamp, f)


def _prune_siblings(parent: str, keep: str) -> None:
    """Keep one cached input set per kind: every seed makes a new one."""
    for name in os.listdir(parent):
        if name != os.path.basename(keep):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


# --------------------------------------------------------------------------
# image+caption corpus
# --------------------------------------------------------------------------


def _make_shard(args: tuple[int, int, int, str, str]) -> None:
    """Generate, write and reference-label one shard (runs in a worker)."""
    seed, shard, rows, src_dir, label_dir = args
    from gobulk_spark import reference_labeler
    from gobulk_spark.corpus import generate_pairs

    pairs, _ = generate_pairs(rows, seed=seed * N_SHARDS + shard)
    # ids are per-call (img-00000000...): prefix the shard so they are
    # unique across the corpus
    ids = pa.array([f"s{shard:02d}-{i}" for i in pairs.column("image_id").to_pylist()])
    pairs = pairs.set_column(0, "image_id", ids)
    pq.write_table(pairs, os.path.join(src_dir, f"part-{shard:03d}.parquet"))
    labels = reference_labeler.label(pairs.to_pandas())
    labels = labels[["image_id", "keep", "scrubbed_caption", "content_hash"]]
    pq.write_table(
        pa.Table.from_pandas(labels, preserve_index=False),
        os.path.join(label_dir, f"labels-{shard:03d}.parquet"),
    )


def ensure_image_corpus(work: str, rows: int, seed: int, procs: int) -> dict:
    """Source shards + reference labels for (rows, seed); cached.

    Returns {"source": dir, "labels": dir, "rows": n}. Duplicates are
    planted within a shard (``generate_pairs`` picks donors from its own
    rows), so labelling shard by shard gives the same duplicate flags as
    labelling the whole corpus."""
    if rows % N_SHARDS:
        raise ValueError(f"rows must be a multiple of {N_SHARDS}")
    parent = os.path.join(work, "corpus")
    root = os.path.join(parent, f"rows{rows}-seed{seed}")
    stamp = {"rows": rows, "seed": seed, "shards": N_SHARDS}
    out = {
        "source": os.path.join(root, "src"),
        "labels": os.path.join(root, "labels"),
        "rows": rows,
    }
    if _stamp_ok(os.path.join(root, "_DONE"), stamp):
        return out
    os.makedirs(parent, exist_ok=True)
    _prune_siblings(parent, root)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(out["source"])
    os.makedirs(out["labels"])
    jobs = [
        (seed, s, rows // N_SHARDS, out["source"], out["labels"])
        for s in range(N_SHARDS)
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        pool.map(_make_shard, jobs, chunksize=1)
        pool.close()
        pool.join()  # reap the workers before the pool is torn down
    # the pool's semaphores started multiprocessing's resource tracker,
    # a process that would outlive this one: stop it and wait for it
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    _write_stamp(os.path.join(root, "_DONE"), stamp)
    return out


def read_labels(label_dir: str):
    return pq.read_table(label_dir).to_pandas()


# --------------------------------------------------------------------------
# documents table
# --------------------------------------------------------------------------

# The shapes of the repository's sf test tables' ``documents`` table, as
# measured on its sf0.01 (500 rows) and sf0.1 (5,000 rows) instances —
# see perfbench/README.md: a 30-word vocabulary used uniformly, 10-99
# words per document (uniform), no exact duplicates, one document in 20
# a near copy (another document's text plus " dup"), doc_id 0..n-1,
# source "src<doc_id % 20>", n_chars = len(text).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
WORDS_PER_DOC = (10, 99)
NEAR_COPY_EVERY = 20
N_SOURCES = 20
LANG_WEIGHTS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def documents_table(n: int, seed: int) -> pa.Table:
    """``n`` documents in the shape of the sf ``documents`` table."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lo, hi = WORDS_PER_DOC
    texts = [" ".join(rng.choice(vocab, size=int(k))) for k in rng.integers(lo, hi + 1, size=n)]
    copies = rng.choice(n, size=n // NEAR_COPY_EVERY, replace=False)
    donors = np.setdiff1d(np.arange(n), copies)
    for i in copies:
        texts[i] = texts[int(rng.choice(donors))] + " dup"
    langs = [l for l, _ in LANG_WEIGHTS]
    w = np.array([x for _, x in LANG_WEIGHTS])
    lang = rng.choice(langs, size=n, p=w / w.sum())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure_tables(work: str, n_docs: int, seed: int) -> dict:
    """The sf-style table directory for the curation legs; cached."""
    parent = os.path.join(work, "tables")
    root = os.path.join(parent, f"docs{n_docs}-seed{seed}")
    stamp = {"n_docs": n_docs, "seed": seed}
    out = {"dir": root, "rows": {"documents": n_docs}}
    if _stamp_ok(os.path.join(root, "_DONE"), stamp):
        return out
    os.makedirs(parent, exist_ok=True)
    _prune_siblings(parent, root)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    pq.write_table(documents_table(n_docs, seed), os.path.join(root, "documents.parquet"))
    _write_stamp(os.path.join(root, "_DONE"), stamp)
    return out
