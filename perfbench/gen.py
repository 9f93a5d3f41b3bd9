"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical inputs. Nothing here imports Spark; the workloads
hand the generated parquet files (or Python rows) to the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Epoch-ms origin of generated timestamps (2024-01-01T00:00:00Z).
T0_MS = 1_704_067_200_000
MIMETYPES = ["image/png", "image/jpeg", "text/plain", "application/octet-stream"]


def write_parquet_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files so a Spark scan of it
    starts with one split per file, not one split for the whole input."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


# --------------------------------------------------------------- namespace


@dataclass
class Namespace:
    """A generated object namespace, column-wise. ``name`` is unique over
    the whole namespace (the leaf file name carries the row number)."""

    bucket_id: list[str]
    name: list[str]
    id: list[str]
    size: np.ndarray
    created_at_ms: np.ndarray
    updated_at_ms: np.ndarray
    mimetype: list[str]
    version: list[str]

    def table(self) -> pa.Table:
        return pa.table(
            {
                "id": self.id,
                "bucket_id": self.bucket_id,
                "name": self.name,
                "size": pa.array(self.size, pa.int64()),
                "created_at_ms": pa.array(self.created_at_ms, pa.int64()),
                "updated_at_ms": pa.array(self.updated_at_ms, pa.int64()),
                "version": self.version,
                "mimetype": self.mimetype,
            }
        )


def bucket_names(n_buckets: int) -> list[str]:
    return [f"bkt-{b:02d}" for b in range(n_buckets)]


def namespace(
    rng: np.random.Generator,
    n_objects: int,
    n_buckets: int,
    n_dirs: int = 40,
    n_subdirs: int = 60,
) -> Namespace:
    """Objects over skewed buckets (Zipf weights, exponent 1.1) with 3-level
    paths ``dNN/sNN/fNNNNNNN.bin`` (85%), 2-level ``dNN/f….bin`` (13%) and
    root leaves ``f….bin`` (2%)."""
    w = 1.0 / np.arange(1, n_buckets + 1) ** 1.1
    buckets = bucket_names(n_buckets)
    b = rng.choice(n_buckets, size=n_objects, p=w / w.sum())
    depth = rng.random(n_objects)
    d = rng.integers(0, n_dirs, n_objects)
    s = rng.integers(0, n_subdirs, n_objects)
    names = []
    for i in range(n_objects):
        leaf = f"f{i:07d}.bin"
        if depth[i] < 0.02:
            names.append(leaf)
        elif depth[i] < 0.15:
            names.append(f"d{d[i]:02d}/{leaf}")
        else:
            names.append(f"d{d[i]:02d}/s{s[i]:02d}/{leaf}")
    created = T0_MS + np.arange(n_objects, dtype=np.int64) * 1000
    return Namespace(
        bucket_id=[buckets[x] for x in b],
        name=names,
        id=[f"{i:012x}" for i in range(n_objects)],
        size=rng.lognormal(10.0, 1.5, n_objects).astype(np.int64) + 1,
        created_at_ms=created,
        updated_at_ms=created + rng.integers(0, 86_400_000, n_objects),
        mimetype=[MIMETYPES[x] for x in rng.integers(0, 4, n_objects)],
        version=["v2" if x else "v1" for x in rng.random(n_objects) < 0.3],
    )


@dataclass
class BackendListing:
    """The object store's own key listing for reconciliation: every object
    key except the planted missing blobs, plus planted orphan keys and
    ``.info`` sidecars (which reconciliation must ignore)."""

    keys: list[str]
    sizes: np.ndarray
    missing: set[str] = field(default_factory=set)  # DB_ORPHAN keys
    orphans: set[str] = field(default_factory=set)  # S3_ORPHAN keys


def object_key(bucket: str, name: str, version: str) -> str:
    return f"{bucket}/{name}/{version}"


def backend_listing(
    rng: np.random.Generator, ns: Namespace, n_missing: int, n_orphans: int
) -> BackendListing:
    n = len(ns.name)
    keys_all = [
        object_key(b, nm, v) for b, nm, v in zip(ns.bucket_id, ns.name, ns.version)
    ]
    drop = set(rng.choice(n, size=n_missing, replace=False).tolist())
    buckets = sorted(set(ns.bucket_id))
    orphans = {
        object_key(buckets[j % len(buckets)], f"lost/o{j:06d}.bin", "v1")
        for j in range(n_orphans)
    }
    sidecar = rng.random(n) < 0.03
    keys, sizes = [], []
    for i, k in enumerate(keys_all):
        if i not in drop:
            keys.append(k)
            sizes.append(int(ns.size[i]))
        if sidecar[i]:
            keys.append(k + ".info")
            sizes.append(64)
    for k in sorted(orphans):
        keys.append(k)
        sizes.append(1024)
    order = rng.permutation(len(keys))
    return BackendListing(
        keys=[keys[i] for i in order],
        sizes=np.asarray(sizes, dtype=np.int64)[order],
        missing={keys_all[i] for i in drop},
        orphans=orphans,
    )


# ------------------------------------------------------------------ corpus

#: Disjoint alphabets: a character 3-gram identifies its language outright.
LANG_ALPHABETS = {"la": "abcdef", "lb": "ghijkl", "lc": "mnopqr", "ld": "stuvwx"}


@dataclass
class Corpus:
    doc_id: list[int]
    text: list[str]
    lang: list[str]
    low_quality: set[int]
    exact_families: list[list[int]]
    near_families: list[list[int]]
    pos_text: list[str]  # high-quality reference set (classifier positives)
    neg_text: list[str]  # low-quality reference set (classifier negatives)
    train: list[tuple[str, str]]  # labeled (lang, text) language-ID set


def _lexicon(rng: np.random.Generator, alphabet: str, n_words: int) -> list[str]:
    letters = np.array(list(alphabet))
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def corpus(
    rng: np.random.Generator,
    lexicon_rng: np.random.Generator,
    n_docs: int,
    words_per_doc: tuple[int, int] = (60, 120),
    n_exact: int = 150,
    n_near: int = 150,
    family_size: int = 3,
    low_quality_share: float = 0.08,
    n_reference: int = 600,
) -> Corpus:
    """Documents over four disjoint-alphabet languages. Each language has
    a 1,500-word lexicon and a separate 40-word "spam" lexicon; low-quality
    documents are spam words only. The lexicons come from ``lexicon_rng``
    (the workload passes a fixed one, so the vocabulary, and with it the
    amount of work per document, is the same for every seed); documents,
    labels and families come from ``rng``. Planted families: exact copies of a base
    document, and near copies that replace 3 random words of it (3-shingle
    Jaccard to the base ~0.8, far above the 0.5 threshold, while unrelated
    documents share almost no 3-shingle)."""
    langs = sorted(LANG_ALPHABETS)
    lex = {}
    spam = {}
    for lg in langs:
        words = _lexicon(lexicon_rng, LANG_ALPHABETS[lg], 1540)
        perm = lexicon_rng.permutation(len(words))
        spam[lg] = [words[i] for i in perm[:40]]
        lex[lg] = [words[i] for i in perm[40:]]

    def text_of(lg: str, vocab: list[str]) -> str:
        n = int(rng.integers(words_per_doc[0], words_per_doc[1] + 1))
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))

    doc_lang = [langs[i] for i in rng.integers(0, len(langs), n_docs)]
    low = rng.random(n_docs) < low_quality_share
    texts = [
        text_of(lg, spam[lg] if bad else lex[lg]) for lg, bad in zip(doc_lang, low)
    ]
    # families are built on high-quality base documents; copies overwrite
    # later slots so every family member keeps its own doc id
    good = [i for i in range(n_docs) if not low[i]]
    picks = rng.permutation(len(good))
    n_fam = n_exact + n_near
    bases = [good[i] for i in picks[:n_fam]]
    slots = [good[i] for i in picks[n_fam : n_fam * family_size]]
    exact_f, near_f = [], []
    for f, base in enumerate(bases):
        members = [base]
        for c in range(family_size - 1):
            slot = slots[f * (family_size - 1) + c]
            doc_lang[slot] = doc_lang[base]
            if f < n_exact:
                texts[slot] = texts[base]
            else:
                toks = texts[base].split(" ")
                for p in rng.choice(len(toks), size=3, replace=False):
                    toks[p] = lex[doc_lang[base]][int(rng.integers(len(lex[doc_lang[base]])))]
                texts[slot] = " ".join(toks)
            members.append(slot)
        (exact_f if f < n_exact else near_f).append(sorted(members))
    pos = [text_of(lg, lex[lg]) for lg in langs for _ in range(n_reference // 4)]
    neg = [text_of(lg, spam[lg]) for lg in langs for _ in range(n_reference // 4)]
    train = [(lg, text_of(lg, lex[lg])) for lg in langs for _ in range(n_reference // 4)]
    return Corpus(
        doc_id=list(range(n_docs)),
        text=texts,
        lang=doc_lang,
        low_quality={i for i in range(n_docs) if low[i]},
        exact_families=exact_f,
        near_families=near_f,
        pos_text=pos,
        neg_text=neg,
        train=train,
    )


# ----------------------------------------------------------------- vectors


def clustered_vectors(
    rng: np.random.Generator,
    centres: np.ndarray,
    n: int,
    spread: float,
) -> np.ndarray:
    """``n`` float64 vectors, ``n / len(centres)`` around each centre (the
    last rows wrap around), each offset by ``spread`` times Gaussian noise."""
    n_clusters, dim = centres.shape
    which = np.arange(n) % n_clusters
    return centres[which] + spread * rng.standard_normal((n, dim))


def vector_table(keys: list[str], vecs: np.ndarray, key_col: str, vec_col: str) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float64())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({key_col: keys, vec_col: pa.ListArray.from_arrays(offsets, flat)})
