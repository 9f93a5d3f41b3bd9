"""Correctness oracles and checkers, computed apart from the program.

Each ``check_*`` function compares one operation's output with an answer
made here (pure Python or NumPy) or by DuckDB in the workload, and returns a
list of human-readable problems; an empty list means the output is right.
Nothing here imports Spark, so ``test_checks.py`` can feed every checker a
planted wrong answer without starting a session.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import numpy as np

#: Symbol separator of the program's BPE merge state (``functions.bpe``).
BPE_SEP = "\x01"


# ------------------------------------------------------------ catalog reads


def check_counts(label: str, got: dict, want: dict) -> list[str]:
    """Equality of two small ``{name: value}`` tables."""
    errors = []
    for k in sorted(set(got) | set(want), key=str):
        if got.get(k) != want.get(k):
            errors.append(f"{label}[{k}]: got {got.get(k)!r}, want {want.get(k)!r}")
    return errors


def check_walk(entries: list[str], want: list[str]) -> list[str]:
    """A paged walk must return every entry under the prefix exactly once,
    in strictly increasing byte order."""
    errors = []
    raw = [e.encode() for e in entries]
    for i in range(1, len(raw)):
        if raw[i] <= raw[i - 1]:
            errors.append(f"walk entry {i} {entries[i]!r} not after {entries[i - 1]!r}")
            break
    dup = [e for e, c in Counter(entries).items() if c > 1]
    if dup:
        errors.append(f"walk repeats {len(dup)} entries, e.g. {dup[0]!r}")
    missing = set(want) - set(entries)
    extra = set(entries) - set(want)
    if missing:
        errors.append(f"walk misses {len(missing)} entries, e.g. {min(missing)!r}")
    if extra:
        errors.append(f"walk has {len(extra)} unexpected entries, e.g. {min(extra)!r}")
    return errors


def check_reconcile(
    rows: list[tuple[str, str]], missing: set[str], orphans: set[str]
) -> list[str]:
    """Reconciliation must report exactly the planted orphans of each kind:
    metadata rows whose blob is missing (DB_ORPHAN) and backend keys with
    no metadata row (S3_ORPHAN)."""
    got_db = {k for k, kind in rows if kind == "DB_ORPHAN"}
    got_s3 = {k for k, kind in rows if kind == "S3_ORPHAN"}
    errors = []
    for label, got, want in (("DB_ORPHAN", got_db, missing), ("S3_ORPHAN", got_s3, orphans)):
        if got != want:
            errors.append(
                f"{label}: {len(want - got)} planted not reported, "
                f"{len(got - want)} reported but not planted"
            )
    if len(rows) != len(got_db) + len(got_s3):
        errors.append(f"reconcile returned {len(rows)} rows with unknown kind or repeats")
    return errors


# --------------------------------------------------------------- curation


def normalize(text: str) -> str:
    """``functions.text.normalized_text``: lowercase, trim spaces, collapse
    whitespace runs to one space."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def nb_weights(pos: list[str], neg: list[str], smoothing: float = 1.0) -> dict[str, float]:
    """Naive-Bayes log-count-ratio weights over the joint vocabulary
    (the closed form ``pipeline.nb_quality_model`` documents)."""
    cp = Counter(t for s in pos for t in normalize(s).split(" "))
    cn = Counter(t for s in neg for t in normalize(s).split(" "))
    vocab = set(cp) | set(cn)
    v, n_p, n_n, a = len(vocab), sum(cp.values()), sum(cn.values()), smoothing
    return {
        t: math.log((cp[t] + a) / (n_p + a * v)) - math.log((cn[t] + a) / (n_n + a * v))
        for t in vocab
    }


def check_weights(got: dict[str, float], want: dict[str, float], rel: float = 1e-9) -> list[str]:
    if set(got) != set(want):
        return [f"model vocabulary differs: {len(set(got) ^ set(want))} tokens"]
    bad = [t for t in want if abs(got[t] - want[t]) > rel * max(1.0, abs(want[t]))]
    return [f"{len(bad)} model weights differ, e.g. {bad[0]!r}"] if bad else []


def _shingles(text: str, n: int) -> set[str]:
    toks = normalize(text).split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def curate_survivors(
    ids: list[int],
    texts: list[str],
    weights: dict[str, float],
    min_logit_1e4: int,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    margin_1e4: float = 10.0,
) -> list[int]:
    """Survivors of ``pipeline.curate_corpus`` with a classifier gate and
    greedy near-duplicate resolution: gate on the mean token weight, keep
    the lowest id of each exact-text group, then drop the higher id of
    every pair whose 3-shingle sets have Jaccard >= ``min_jaccard``
    (pairs found through an inverted index). Raises ``ValueError`` if a
    document's logit lies within ``margin_1e4`` of the gate, where rounding
    could decide it: the generator must not make such inputs."""
    gated = []
    for i, t in zip(ids, texts):
        toks = normalize(t).split(" ")
        logit = sum(weights.get(x, 0.0) for x in toks) / len(toks)
        if abs(logit * 1e4 - min_logit_1e4) < margin_1e4:
            raise ValueError(f"doc {i}: logit {logit} too close to the gate")
        if logit * 1e4 >= min_logit_1e4:
            gated.append((i, t))
    keeper: dict[str, int] = {}
    for i, t in gated:
        fp = hashlib.md5(normalize(t).encode()).hexdigest()[:16]
        keeper[fp] = min(i, keeper.get(fp, i))
    kept = sorted(keeper.values())
    text_of = dict(gated)
    sh = {i: _shingles(text_of[i], shingle_n) for i in kept}
    index = defaultdict(list)
    for i in kept:
        for s in sh[i]:
            index[s].append(i)
    inter: Counter = Counter()
    for docs in index.values():
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                a, b = sorted((docs[x], docs[y]))
                inter[(a, b)] += 1
    losers = set()
    for (a, b), i in inter.items():
        if i / (len(sh[a]) + len(sh[b]) - i) >= min_jaccard:
            losers.add(b)
    return [i for i in kept if i not in losers]


def check_ids(label: str, got: list[int], want: list[int]) -> list[str]:
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    return [
        f"{label}: {sum((g - w).values())} ids not expected "
        f"(e.g. {min((g - w), default=None)}), {sum((w - g).values())} missing "
        f"(e.g. {min((w - g), default=None)})"
    ]


def bpe_replay(texts: list[str], num_merges: int, min_count: int = 1) -> list[tuple]:
    """Merge-frequency BPE, replayed in Python: count every adjacent symbol
    pair (overlaps included) weighted by word frequency, merge the most
    frequent pair (ties: lhs, then rhs ascending), repeat. Words are the
    single-space split of the text. Returns ``(rank, lhs, rhs, merged,
    pair_count)`` rows."""
    wc = Counter(w for t in texts for w in t.split(" ") if w and BPE_SEP not in w)
    state = [(BPE_SEP + BPE_SEP.join(w) + BPE_SEP, c) for w, c in wc.items()]
    merges = []
    for rank in range(num_merges):
        pairs: Counter = Counter()
        for sym, c in state:
            syms = [x for x in sym.split(BPE_SEP) if x]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        pat, rep = BPE_SEP + lhs + BPE_SEP + rhs + BPE_SEP, BPE_SEP + lhs + rhs + BPE_SEP
        state = [(s.replace(pat, rep), c) for s, c in state]
    return merges


def check_merges(got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"bpe learned {len(got)} merges, want {len(want)}"]
    for g, w in zip(got, want):
        if tuple(g) != tuple(w):
            return [f"bpe merge {w[0]}: got {tuple(g)}, want {tuple(w)}"]
    return []


# ----------------------------------------------------------------- vectors


def cosine_distances(corpus: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Float64 brute-force cosine distance, ``(n_queries, n_corpus)``."""
    cn = np.linalg.norm(corpus, axis=1)
    qn = np.linalg.norm(queries, axis=1)
    return 1.0 - (queries @ corpus.T) / np.outer(qn, cn)


def exact_top_k(dist: np.ndarray, keys: list[str], k: int) -> list[str]:
    """Top-k keys by (distance, key) — the program's total order."""
    order = sorted(range(len(keys)), key=lambda j: (dist[j], keys[j]))
    return [keys[j] for j in order[:k]]


def check_neighbours(
    got: list[str], dist: np.ndarray, keys: list[str], k: int, tol: float = 1e-9
) -> list[str]:
    """``got`` must be the exact top-k by (distance, key); a key may differ
    from the brute force only where the two distances lie within ``tol``
    (float64 fold order differs between the program and NumPy)."""
    want = exact_top_k(dist, keys, k)
    if len(got) != len(want) or len(set(got)) != len(got):
        return [f"top-{k} returned {len(got)} keys ({len(set(got))} distinct)"]
    pos = {key: j for j, key in enumerate(keys)}
    for r, (g, w) in enumerate(zip(got, want)):
        if g not in pos:
            return [f"rank {r}: unknown key {g!r}"]
        if g != w and abs(dist[pos[g]] - dist[pos[w]]) > tol:
            return [f"rank {r}: got {g!r} ({dist[pos[g]]:.12f}), want {w!r} ({dist[pos[w]]:.12f})"]
    return []


def recall_at_k(got: dict[str, list[str]], truth: dict[str, list[str]], k: int) -> float:
    hits = sum(len(set(got.get(q, [])[:k]) & set(t[:k])) for q, t in truth.items())
    return hits / (k * len(truth))
