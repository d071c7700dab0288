"""Seeded input generator for the citebench workloads.

Imports nothing from the package under test: every file it writes is
plain JSONL or parquet (pyarrow), so the program receives only the
generated inputs. The same ``(workload, seed)`` gives byte-identical
files; another seed gives different files.

Usage (from the repository root)::

    python3 citebench/gen.py --workload lake_analytics --seed 1 --out DIR

writes the workload's inputs and a ``manifest.json`` naming what was
planted (malformed lines, duplicates, near-duplicates, existing keys).
"""

from __future__ import annotations

import argparse
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. An ingest op takes a few seconds and an analytics op under
# two seconds on four local cores.
INGEST_BATCH_LINES = 600
INGEST_SHARDS = 4
INGEST_BASE_DOCS = 10 * INGEST_BATCH_LINES
INGEST_MALFORMED = 8
INGEST_EXACT_DUPS = 12
INGEST_NEAR_DUPS = 15
INGEST_EXISTING = 40

LAKE_DOCS = 1500
LAKE_NEARDUP_CLUSTERS = 30
LAKE_EXACT_DUPS = 20
LAKE_EVENTS = 15000
LAKE_USERS = 150
LAKE_CITATIONS = 6000
LAKE_AUTHORS = 250
EMB_DIM = 64
EMB_LABELS = 8

# Words the lake queries key on (domain classification in the
# pipelines): they must occur, with skewed frequencies, in the text.
DOMAIN_WORDS = ("join", "window", "agg", "hash", "stream")
_SYLLABLES = (
    "ka ri to mu se na lo pe vi da ne ro su ha mi te ba go zu fi "
    "qua sol tur ven pra col lin dex mor pil"
).split()
VOCAB_SIZE = 6000

# one numpy stream per purpose, so adding a table never shifts another
_STREAMS = {
    "vocab": 1,
    "ingest_base": 2,
    "ingest_batch": 3,
    "lake_docs": 6,
    "lake_emb": 7,
    "lake_events": 8,
    "lake_cites": 9,
}


def _rng(seed: int, purpose: str, *extra: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[purpose], *extra])


def vocabulary() -> list[str]:
    """A fixed synthetic vocabulary (seed-independent), most frequent
    first: the domain keywords sit among the common words."""
    rng = np.random.default_rng(_STREAMS["vocab"])
    words: list[str] = []
    seen = set(DOMAIN_WORDS)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    for i, w in enumerate(DOMAIN_WORDS):
        words.insert(3 + 7 * i, w)
    return words


@functools.cache
def _vocab() -> np.ndarray:
    return np.array(vocabulary(), dtype=object)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def texts(rng: np.random.Generator, n: int, lo: int = 40, hi: int = 90) -> list[str]:
    """``n`` texts of ``lo..hi`` words drawn Zipf(0.9) from the vocabulary."""
    vocab = _vocab()
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.choice(len(vocab), int(lens.sum()), p=_zipf_p(len(vocab), 0.9))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[idx[pos : pos + ln]]))
        pos += ln
    return out


def near_copy(rng: np.random.Generator, text: str) -> str:
    """Substitute one word away from the ends: the 3-shingle Jaccard
    with the original stays above 0.8 for texts of 30 words or more."""
    words = text.split(" ")
    vocab = _vocab()
    i = int(rng.integers(3, len(words) - 3))
    words[i] = vocab[int(rng.integers(VOCAB_SIZE // 2, len(vocab)))]
    return " ".join(words)


def _doc(doc_id: int, text: str, rng: np.random.Generator) -> dict:
    lang = ("en", "en", "en", "de", "fr")[int(rng.integers(0, 5))]
    source = ("arxiv", "openalex", "semantic_scholar")[int(rng.integers(0, 3))]
    return {
        "doc_id": int(doc_id),
        "text": text,
        "lang": lang,
        "source": source,
        "n_chars": len(text),
    }


def _write_jsonl(path: str, lines: list[str]) -> int:
    data = "".join(line + "\n" for line in lines).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_manifest(out: str, manifest: dict) -> None:
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


# --------------------------------------------------------------- ingest


def ingest_base(seed: int, out: str) -> dict:
    """The base papers as one JSONL shard: doc_ids are a seeded sample
    of ``[0, 4 * INGEST_BASE_DOCS)`` so existing and new keys interleave."""
    rng = _rng(seed, "ingest_base")
    ids = np.sort(rng.choice(4 * INGEST_BASE_DOCS, INGEST_BASE_DOCS, replace=False))
    docs = [_doc(i, t, rng) for i, t in zip(ids, texts(rng, len(ids)))]
    os.makedirs(out, exist_ok=True)
    nbytes = _write_jsonl(
        os.path.join(out, "base-00000.jsonl"),
        [json.dumps(d, sort_keys=True) for d in docs],
    )
    return {
        "docs": len(docs),
        "jsonl_bytes": nbytes,
        "ids": [int(i) for i in ids],
        "texts": {int(d["doc_id"]): d["text"] for d in docs},
    }


_MALFORMED = (
    lambda d: json.dumps(d, sort_keys=True)[:-7],  # truncated record
    lambda d: "WARN shard writer restarted at offset %d" % d["doc_id"],
    lambda d: json.dumps({**d, "doc_id": "id-%d" % d["doc_id"]}, sort_keys=True),
    lambda d: json.dumps({**d, "n_chars": "many"}, sort_keys=True),
)


def ingest_batch(seed: int, k: int, base: dict, out: str) -> dict:
    """Nightly batch ``k``: ``INGEST_BATCH_LINES`` JSONL lines over
    ``INGEST_SHARDS`` shards with planted malformed lines, exact
    duplicate lines, near-duplicate papers and keys already in the base.

    New doc_ids are the non-base ids in a per-batch range, so no two
    batches share a key or a text."""
    rng = _rng(seed, "ingest_batch", k)
    n_new = (
        INGEST_BATCH_LINES
        - INGEST_MALFORMED
        - INGEST_EXACT_DUPS
        - INGEST_NEAR_DUPS
        - INGEST_EXISTING
    )
    lo = 4 * INGEST_BASE_DOCS + k * 2 * INGEST_BATCH_LINES
    new_ids = np.sort(rng.choice(2 * INGEST_BATCH_LINES, n_new, replace=False)) + lo
    new_docs = [_doc(i, t, rng) for i, t in zip(new_ids, texts(rng, n_new))]
    # near-duplicates: a spare id in the batch range, text one word off
    originals = rng.choice(n_new, INGEST_NEAR_DUPS, replace=False)
    spare = sorted(set(range(lo, lo + 2 * INGEST_BATCH_LINES)) - set(new_ids.tolist()))
    near_ids = rng.choice(spare, INGEST_NEAR_DUPS, replace=False)
    near_pairs = []
    near_docs = []
    for o, nid in zip(originals, near_ids):
        src = new_docs[int(o)]
        near_docs.append(_doc(nid, near_copy(rng, src["text"]), rng))
        a, b = sorted((src["doc_id"], nid))
        near_pairs.append([int(a), int(b)])
    existing = rng.choice(len(base["ids"]), INGEST_EXISTING, replace=False)
    existing_docs = [
        _doc(base["ids"][int(i)], base["texts"][base["ids"][int(i)]], rng)
        for i in existing
    ]
    dup_src = rng.choice(n_new, INGEST_EXACT_DUPS, replace=False)
    lines = [
        json.dumps(d, sort_keys=True)
        for d in new_docs + near_docs + existing_docs
    ]
    lines += [lines[int(i)] for i in dup_src]
    bad_src = rng.choice(n_new, INGEST_MALFORMED, replace=False)
    lines += [
        _MALFORMED[j % len(_MALFORMED)](new_docs[int(i)])
        for j, i in enumerate(bad_src)
    ]
    order = rng.permutation(len(lines))
    lines = [lines[int(i)] for i in order]
    os.makedirs(out, exist_ok=True)
    nbytes = 0
    per = -(-len(lines) // INGEST_SHARDS)
    for s in range(INGEST_SHARDS):
        nbytes += _write_jsonl(
            os.path.join(out, f"part-{s:05d}.jsonl"), lines[s * per : (s + 1) * per]
        )
    return {
        "batch": k,
        "lines": len(lines),
        "jsonl_bytes": nbytes,
        "malformed": INGEST_MALFORMED,
        "exact_dups": INGEST_EXACT_DUPS,
        "near_dup_pairs": sorted(near_pairs),
        "existing_keys": sorted(int(base["ids"][int(i)]) for i in existing),
        "new_keys": n_new,
    }


# ----------------------------------------------------------------- lake


def lake_inputs(seed: int, out: str) -> dict:
    """A lake in the shared test-data schema: ``documents``,
    ``embeddings`` and ``events`` parquet files, plus ``citations``
    ``(citing, cited, author)`` edges. Documents carry planted
    near-duplicate clusters (pairs and triples) and exact duplicates."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, "lake_docs")
    n_plain = LAKE_DOCS - LAKE_EXACT_DUPS
    body = texts(rng, n_plain, 30, 110)
    clusters = []
    src = rng.choice(n_plain // 2, LAKE_NEARDUP_CLUSTERS, replace=False)
    for c, i in enumerate(src):
        size = 3 if c % 4 == 0 else 2
        members = [int(i)]
        for m in range(1, size):
            j = n_plain // 2 + int(c) * 3 + m
            body[j] = near_copy(rng, body[int(i)])
            members.append(j)
        clusters.append(members)
    in_cluster = {m for cl in clusters for m in cl}
    dups = rng.choice(
        [i for i in range(n_plain) if i not in in_cluster], LAKE_EXACT_DUPS, replace=False
    )
    all_text = body + [body[int(i)] for i in dups]
    order = rng.permutation(LAKE_DOCS)
    doc_text = [all_text[int(i)] for i in order]
    inv = np.empty(LAKE_DOCS, dtype=np.int64)
    inv[order] = np.arange(LAKE_DOCS)
    planted = sorted(sorted(int(inv[m]) for m in cl) for cl in clusters)
    lang = rng.choice(["en", "en", "en", "de", "fr"], LAKE_DOCS)
    source = rng.choice(["src0", "src1", "src2", "src3"], LAKE_DOCS)
    _write_parquet(
        os.path.join(out, "documents.parquet"),
        pa.table(
            {
                "doc_id": pa.array(np.arange(LAKE_DOCS), pa.int64()),
                "text": pa.array(doc_text, pa.string()),
                "lang": pa.array(lang.tolist(), pa.string()),
                "source": pa.array(source.tolist(), pa.string()),
                "n_chars": pa.array([len(t) for t in doc_text], pa.int64()),
            }
        ),
    )

    erng = _rng(seed, "lake_emb")
    centers = erng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = erng.integers(0, EMB_LABELS, LAKE_DOCS)
    vecs = centers[labels] + erng.normal(0.0, 1.2, (LAKE_DOCS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.9).astype("float32")
    _write_parquet(
        os.path.join(out, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(LAKE_DOCS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels.astype("int32")),
            }
        ),
    )

    vrng = _rng(seed, "lake_events")
    users = vrng.integers(0, LAKE_USERS, LAKE_EVENTS)
    # bursts separated by gaps: sessions of a few events each
    gaps = np.where(
        vrng.random(LAKE_EVENTS) < 0.15,
        vrng.integers(31 * 60, 6 * 3600, LAKE_EVENTS),
        vrng.integers(1, 20 * 60, LAKE_EVENTS),
    )
    ts = np.empty(LAKE_EVENTS, dtype=np.int64)
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    for u in range(LAKE_USERS):
        sel = np.nonzero(users == u)[0]
        ts[sel] = start_us + np.cumsum(gaps[sel]) * 1_000_000 + vrng.integers(
            0, 1_000_000, len(sel)
        )
    order = np.argsort(ts, kind="stable")
    types = vrng.choice(["click", "view", "error", "purchase"], LAKE_EVENTS, p=[0.5, 0.3, 0.1, 0.1])
    values = np.round(vrng.gamma(2.0, 8.0, LAKE_EVENTS), 2)
    props = ['{"k": %d}' % k for k in vrng.integers(0, 100, LAKE_EVENTS)]
    _write_parquet(
        os.path.join(out, "events.parquet"),
        pa.table(
            {
                "event_id": pa.array(np.arange(LAKE_EVENTS), pa.int64()),
                "ts": pa.array(ts[order], pa.timestamp("us")),
                "user_id": pa.array(users[order], pa.int64()),
                "event_type": pa.array(types[order].tolist(), pa.string()),
                "value": pa.array(values[order], pa.float64()),
                "props": pa.array([props[int(i)] for i in order], pa.string()),
            }
        ),
    )

    crng = _rng(seed, "lake_cites")
    author_of = crng.integers(0, LAKE_AUTHORS, LAKE_DOCS)
    citing = crng.integers(0, LAKE_DOCS, LAKE_CITATIONS)
    cited = crng.choice(LAKE_DOCS, LAKE_CITATIONS, p=_zipf_p(LAKE_DOCS, 0.8)[crng.permutation(LAKE_DOCS)])
    keep = citing != cited
    citing, cited = citing[keep], cited[keep]
    _write_parquet(
        os.path.join(out, "citations.parquet"),
        pa.table(
            {
                "citing": pa.array(citing, pa.int64()),
                "cited": pa.array(cited, pa.int64()),
                "author": pa.array(author_of[cited], pa.int64()),
            }
        ),
    )
    manifest = {
        "documents": LAKE_DOCS,
        "near_dup_clusters": planted,
        "exact_dup_docs": LAKE_EXACT_DUPS,
        "embeddings": LAKE_DOCS,
        "events": LAKE_EVENTS,
        "citations": int(len(citing)),
    }
    _write_manifest(out, manifest)
    return manifest


def ingest_inputs(seed: int, out: str, batches: int = 2) -> dict:
    """Base shard plus the first ``batches`` nightly batches (the
    benchmark generates further batches on demand)."""
    base = ingest_base(seed, os.path.join(out, "base"))
    manifest = {
        "base_docs": base["docs"],
        "base_jsonl_bytes": base["jsonl_bytes"],
        "batches": [
            ingest_batch(seed, k, base, os.path.join(out, f"batch-{k:04d}"))
            for k in range(batches)
        ],
    }
    _write_manifest(out, manifest)
    return manifest


GENERATORS = {
    "ingest_nightly": ingest_inputs,
    "lake_analytics": lake_inputs,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    GENERATORS[args.workload](args.seed, args.out)


if __name__ == "__main__":
    main()
