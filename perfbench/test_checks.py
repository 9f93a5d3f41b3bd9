"""Each correctness check must reject a planted wrong answer.

Run from the repository root: ``python3 -m pytest perfbench/test_checks.py -q``.
No Spark session is started; the checkers are pure Python.
"""

from __future__ import annotations

import numpy as np

from perfbench import checks, gen


def _namespace(seed: int = 3):
    rng = np.random.default_rng(seed)
    ns = gen.namespace(rng, 2000, 4)
    return ns, gen.backend_listing(rng, ns, 20, 15)


def test_reconcile_rejects_one_orphan_dropped():
    _ns, be = _namespace()
    rows = [(k, "DB_ORPHAN") for k in be.missing] + [(k, "S3_ORPHAN") for k in be.orphans]
    assert checks.check_reconcile(rows, be.missing, be.orphans) == []
    dropped = [r for r in rows if r != (min(be.orphans), "S3_ORPHAN")]
    assert checks.check_reconcile(dropped, be.missing, be.orphans)


def test_backend_listing_plants_what_it_reports():
    ns, be = _namespace()
    keys = set(be.keys)
    assert be.orphans <= keys and not (be.missing & keys)
    assert len(be.missing) == 20 and len(be.orphans) == 15
    assert all(k.endswith(".info") for k in keys - be.orphans - {
        gen.object_key(b, n, v) for b, n, v in zip(ns.bucket_id, ns.name, ns.version)
    })


def test_walk_rejects_one_page_entry_repeated():
    want = sorted(f"d00/s{j:02d}/" for j in range(60))
    assert checks.check_walk(list(want), want) == []
    repeated = want[:30] + [want[29]] + want[30:]
    assert checks.check_walk(repeated, want)
    assert checks.check_walk(want[::-1], want)  # order is checked too


def test_usage_rejects_one_byte_off():
    want = {"bkt-00": (123456, 7), "bkt-01": (99, 1)}
    assert checks.check_counts("usage", dict(want), want) == []
    off = dict(want, **{"bkt-01": (100, 1)})
    assert checks.check_counts("usage", off, want)


def test_curation_rejects_one_duplicate_kept():
    rng = np.random.default_rng(5)
    c = gen.corpus(rng, np.random.default_rng(0), 400, n_exact=10, n_near=10, n_reference=200)
    w = checks.nb_weights(c.pos_text, c.neg_text)
    kept = checks.curate_survivors(c.doc_id, c.text, w, 0)
    kept_set = set(kept)
    # the gate drops the planted spam; each family keeps its lowest id only
    assert not kept_set & c.low_quality
    for fam in c.exact_families + c.near_families:
        assert kept_set & set(fam) == {fam[0]}
    assert checks.check_ids("kept", list(kept), kept) == []
    dup = c.exact_families[0][1]
    assert checks.check_ids("kept", kept + [dup], kept)


def test_bpe_rejects_one_merge_swapped():
    texts = ["low lower lowest", "newer newest wider", "low low new"]
    merges = checks.bpe_replay(texts, 6)
    assert merges[0] == (0, "l", "o", "lo", 5)  # ties (o, w) at 5; lhs decides
    assert checks.check_merges(list(merges), merges) == []
    swapped = [merges[1], merges[0]] + merges[2:]
    assert checks.check_merges(swapped, merges)


def test_bpe_replay_counts_overlapping_pairs():
    # 'aaa' holds the pair (a, a) twice; the merge replaces left to right
    assert checks.bpe_replay(["aaa"], 2) == [
        (0, "a", "a", "aa", 2), (1, "aa", "a", "aaa", 1),
    ]


def test_neighbours_reject_one_swap():
    rng = np.random.default_rng(9)
    corpus = rng.standard_normal((300, 16))
    q = rng.standard_normal((1, 16))
    keys = [f"v{j:04d}" for j in range(300)]
    d = checks.cosine_distances(corpus, q)[0]
    top = checks.exact_top_k(d, keys, 10)
    assert checks.check_neighbours(list(top), d, keys, 10) == []
    swapped = top[:4] + [checks.exact_top_k(d, keys, 11)[10]] + top[5:]
    assert checks.check_neighbours(swapped, d, keys, 10)


def test_neighbours_allow_ties_within_tolerance():
    corpus = np.array([[1.0, 0.0], [2.0, 0.0], [0.0, 1.0]])
    keys = ["a", "b", "c"]
    d = checks.cosine_distances(corpus, np.array([[1.0, 0.0]]))[0]
    # a and b are at the same distance; either order is an exact answer
    assert checks.check_neighbours(["b", "a"], d, keys, 2) == []


def test_recall():
    truth = {"q": ["a", "b"]}
    assert checks.recall_at_k({"q": ["b", "x"]}, truth, 2) == 0.5


def test_benchmark_json_lists_what_the_runs_report():
    import json
    import os

    from perfbench.trace import per_layer_metrics
    from perfbench.workloads import LAYERS, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"] for m in doc["end_to_end"]} == {"setup_s", "pass_s", "cpu_s", "written_mb"}
    want = per_layer_metrics(LAYERS)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == want
    assert len(want) <= 128
