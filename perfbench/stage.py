"""Seeded input stager: builds each workload's tables from ``--seed``.

The base corpus is a fixed synthetic ``documents`` table that reproduces
the statistics measured on the sf0.1 ``documents`` testdata table, which a
run cannot read since it reads only its own checkout:

* word count per text uniform on 10..100 (sf0.1: mean 54.1, deciles 19,
  28, 37, 45, 54, 63, 72, 80, 90), words drawn uniformly from a 30-word
  vocabulary, single spaces, ~297 characters per text;
* 5% near-duplicates: the text of another document plus the word ``dup``
  (sf0.1: 250 of 5,000; a copy of a near-duplicate gets ``dup dup``);
* ``lang`` en/zh/es/fr/de at 41/15/15/15/14%, ``source`` ``src0``..``src19``
  round-robin, ``n_chars`` the text length.

The seed then decides what differs between runs:

* ``extract_mixed`` and the small ``heavy`` table its traced run feeds the
  heavy registry queries: a seeded permutation of ``doc_id``,
  which moves every document to another payload kind and conversation
  (both are functions of ``doc_id`` in ``transcripts_from_docs``);
* ``commit_distinct``: one row per (document, replica), each text tagged
  with a seeded word, so no two payloads are equal while the golden stays
  computable from the staged documents.

``extract_mixed`` and ``commit_distinct`` get their transcript table built
by the engine's own ``sources.transcripts.transcripts_from_docs`` and
written to parquet; ``heavy`` gets only ``documents.parquet``, since the
registry queries derive their inputs themselves. A staged directory is
cached on disk under a key of workload, seed, sizes and a hash of this
file and of the transcript generator it calls, and is published by an
atomic rename, so an interrupted run never leaves a half-staged input.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_DUP_SHARE = 0.05

# input sizes: (base documents, replicas per document, transcript files)
SIZES = {
    "extract_mixed": (2500, 2, 8),
    "commit_distinct": (2500, 2, 8),
    "heavy": (150, 1, 0),
}
KEEP_STAGED = 3  # staged inputs kept per workload (seeds vary per run)


def base_documents(n: int) -> dict[str, list]:
    """The fixed base corpus: ``n`` documents, identical on every run."""
    rng = np.random.RandomState(20250101)
    lens = rng.randint(10, 101, n)
    words = rng.randint(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    dups = rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)
    for i, src in zip(sorted(dups), rng.randint(0, n, len(dups))):
        if src != i:
            texts[i] = texts[src] + " dup"
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [LANGS[i] for i in lang],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def staged_documents(workload: str, seed: int) -> pa.Table:
    n, replicas, _ = SIZES[workload]
    base = base_documents(n)
    rng = np.random.RandomState(seed)
    if workload == "commit_distinct":
        salts = rng.randint(0, 2**31 - 1, n * replicas)
        ids, texts = [], []
        for i in range(n):
            for r in range(replicas):
                vid = i * replicas + r
                ids.append(vid)
                texts.append(f"{base['text'][i]} t{salts[vid]:08x}{vid:x}")
        cols = {
            "doc_id": ids,
            "text": texts,
            "lang": [base["lang"][i // replicas] for i in ids],
            "source": [base["source"][i // replicas] for i in ids],
            "n_chars": [len(t) for t in texts],
        }
    else:
        perm = rng.permutation(n)
        cols = dict(base)
        cols["doc_id"] = [int(p) for p in perm]
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )


def replicate_of(workload: str) -> int:
    """Replica fan-out ``transcripts_from_docs`` applies to the staged
    documents (commit_distinct has its replicas in the documents already)."""
    return SIZES[workload][1] if workload == "extract_mixed" else 1


def _code_hash() -> str:
    from marie_icr_spark.sources import transcripts

    h = hashlib.sha256()
    for path in (__file__, transcripts.__file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def stage(spark, workload: str, seed: int, root: str) -> dict:
    """Stage (or reuse) one workload's input; returns its description:
    ``dir``, ``documents`` and ``transcripts`` paths, row and byte counts,
    and ``stage_s``, the time this call took."""
    t0 = time.perf_counter()
    n, replicas, files = SIZES[workload]
    key = f"{workload}-s{seed}-n{n}x{replicas}-{_code_hash()}"
    final = os.path.join(root, key)
    if not os.path.exists(os.path.join(final, "info.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        docs = staged_documents(workload, seed)
        pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
        info = {"documents_rows": docs.num_rows, "transcripts_rows": 0}
        if files:
            from marie_icr_spark.sources.transcripts import transcripts_from_docs

            (
                transcripts_from_docs(
                    spark, tmp, replicate=replicate_of(workload), partitions=files
                )
                .write.parquet(os.path.join(tmp, "transcripts"))
            )
            info["transcripts_rows"] = docs.num_rows * replicate_of(workload)
        info["input_bytes"] = _dir_bytes(tmp)
        with open(os.path.join(tmp, "info.json"), "w") as fh:
            json.dump(info, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _evict(root, workload, keep=final)
    with open(os.path.join(final, "info.json")) as fh:
        info = json.load(fh)
    info.update(
        workload=workload,
        seed=seed,
        dir=final,
        documents=os.path.join(final, "documents.parquet"),
        transcripts=os.path.join(final, "transcripts"),
        replicate=replicate_of(workload),
        stage_s=time.perf_counter() - t0,
    )
    return info


def _evict(root: str, workload: str, keep: str) -> None:
    entries = [
        os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith(workload + "-s") and ".tmp" not in e
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[KEEP_STAGED:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)
