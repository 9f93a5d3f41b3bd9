"""The workloads: inputs, one pass of operations, and their checks.

A workload is a list of parts; a part is a group of operations over its own
inputs, and one part object lives for one run. ``generate`` makes the seeded inputs,
``build`` does the one-time Spark-side set-up, ``before_pass`` prepares a
pass outside the timed region, ``ops`` lists the operations of one pass as
``(op, layer)`` pairs, ``run_op`` runs one of them and returns
``(output, dataframes)`` (the DataFrame, or list of DataFrames, the
operation executed, or None), and
``check`` compares the outputs of every pass with answers computed apart
from the program. Sizes are fixed per workload; only the seed varies.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

from perfbench import checks, gen
from perfbench.measure import MB, rdd_disk_bytes

#: Layer name -> the module whose public functions the layer's ops call.
LAYERS = {
    "listing": "storage_spark.operators.listing",
    "pagination": "storage_spark.operators.pagination (+ s3proto)",
    "reconcile": "storage_spark.operators.reconcile",
    "aggregates": "storage_spark.operators.aggregates",
    "snapshots": "storage_spark.sources.snapshots",
    "pipeline": "storage_spark.operators.pipeline",
    "langid": "storage_spark.operators.langid",
    "bpe": "storage_spark.functions.bpe",
    "annindex": "storage_spark.sources.annindex",
    "vectors": "storage_spark.functions.vectors",
}


class Part:
    """One group of operations over its own inputs; a workload runs one
    or more parts per pass."""

    name = ""
    ops: list[tuple[str, str]] = []

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.rng = np.random.default_rng([seed, PART_IDS[self.name]])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        pass

    def before_pass(self, i: int) -> None:
        pass

    def after_pass(self, i: int, output_bytes: int) -> None:
        pass

    def run_op(self, op: str, i: int):
        return getattr(self, "op_" + op)(i)

    def check(self, outputs: list[dict]) -> dict[tuple[int, str], list[str]]:
        """``outputs[i][op]`` is op's output in pass ``i`` (pass 0 is the
        warm-up). Returns the problems of every (pass, op) that failed."""
        raise NotImplementedError

    def pass_counters(self, i: int) -> dict[str, float]:
        """Workload-specific per-pass counters for the traced run."""
        return {}

    #: bytes of the blocks the last pass persisted to disk (none by default)
    persisted = 0


# ------------------------------------------------------------ catalog_reads


class CatalogReads(Part):
    """Read-only metadata queries over a bucket-partitioned, name-sorted
    namespace written once with ``layout.write_listing_layout``."""

    name = "catalog_reads"
    ops = [
        ("full_listing", "listing"),
        ("search_v1", "listing"),
        ("paged_walk", "pagination"),
        ("reconcile", "reconcile"),
        ("usage", "aggregates"),
    ]
    N_OBJECTS = 150_000
    N_BUCKETS = 12
    N_MISSING = 500
    N_ORPHANS = 500
    BUCKET = "bkt-00"  # the largest bucket (Zipf rank 1)
    WALK_PREFIX = "d00/"
    PAGE = 250
    SEARCH = "D0"  # matched case-insensitively

    def generate(self) -> None:
        ns = gen.namespace(self.rng, self.N_OBJECTS, self.N_BUCKETS)
        self.backend = gen.backend_listing(self.rng, ns, self.N_MISSING, self.N_ORPHANS)
        gen.write_parquet_parts(ns.table(), self.path("raw", "objects"), 8)
        keys = gen.pa.table({"key": self.backend.keys, "size": self.backend.sizes})
        gen.write_parquet_parts(keys, self.path("raw", "s3_keys"), 8)

    def build(self) -> None:
        from storage_spark.sources.layout import write_listing_layout

        write_listing_layout(
            self.spark.read.parquet(self.path("raw", "objects")), self.path("layout")
        )
        self.objects = self.spark.read.parquet(self.path("layout"))
        self.s3_keys = self.spark.read.parquet(self.path("raw", "s3_keys"))

    def op_full_listing(self, i):
        from storage_spark.operators.listing import list_objects_with_delimiter

        df = list_objects_with_delimiter(self.objects, prefix="")
        pdf = df.toPandas()
        names = pdf["name"].tolist()
        return {
            "folders": int(pdf["id"].isna().sum()),
            "leaves": int(pdf["id"].notna().sum()),
            "sorted": names == sorted(names, key=str.encode),
        }, df

    def op_search_v1(self, i):
        from storage_spark.operators.listing import search_objects_v1

        df = search_objects_v1(self.objects, self.BUCKET, search=self.SEARCH, limit=100)
        return [r["name"] for r in df.collect()], df

    def op_paged_walk(self, i):
        from storage_spark.operators.listing import list_objects_with_delimiter
        from storage_spark.operators.pagination import paginate
        from storage_spark.operators.s3proto import shape_list_objects_v2

        def listing(after):
            return list_objects_with_delimiter(
                self.objects, self.BUCKET, self.WALK_PREFIX, start_after=after
            )

        pages = list(paginate(listing, self.PAGE))
        first = shape_list_objects_v2(listing(None), self.PAGE)
        shaped = sorted([c["Key"] for c in first.contents] + first.common_prefixes)
        return {
            "entries": [r["name"] for p in pages for r in p.rows],
            "last_truncated": pages[-1].is_truncated,
            "v2_first_page": shaped == sorted(r["name"] for r in pages[0].rows)
            and first.is_truncated == pages[0].is_truncated,
        }, None

    def op_reconcile(self, i):
        from storage_spark.operators.reconcile import consistency_report

        df = consistency_report(self.objects, self.s3_keys)
        return [(r["key"], r["kind"]) for r in df.collect()], df

    def op_usage(self, i):
        from storage_spark.operators.aggregates import bucket_usage

        df = bucket_usage(self.objects)
        return {r["bucket_id"]: (r["total_size"], r["n_objects"]) for r in df.collect()}, df

    def _oracle(self) -> dict:
        """DuckDB's answers over the same layout parquet."""
        con = duckdb.connect()
        glob = self.path("layout", "*", "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW o AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)")
        folders, leaves = con.execute(
            "SELECT count(DISTINCT split_part(name, '/', 1)) FILTER (WHERE contains(name, '/')),"
            " count(*) FILTER (WHERE NOT contains(name, '/')) FROM o"
        ).fetchone()
        p, b, s = self.WALK_PREFIX, self.BUCKET, self.SEARCH.lower()
        walk = con.execute(
            "SELECT DISTINCT CASE WHEN contains(substr(name, length($p) + 1), '/')"
            " THEN $p || split_part(substr(name, length($p) + 1), '/', 1) || '/'"
            " ELSE name END AS e FROM o WHERE bucket_id = $b AND starts_with(name, $p)",
            {"p": p, "b": b},
        ).fetchall()
        search = con.execute(
            "SELECT e FROM (SELECT DISTINCT split_part(name, '/', 1) AS e, 0 AS leaf FROM o"
            "  WHERE bucket_id = $b AND starts_with(lower(name), $s) AND contains(name, '/')"
            " UNION ALL SELECT name, 1 FROM o"
            "  WHERE bucket_id = $b AND starts_with(lower(name), $s) AND NOT contains(name, '/'))"
            " ORDER BY lower(e), e LIMIT 100",
            {"b": b, "s": s},
        ).fetchall()
        usage = con.execute(
            "SELECT bucket_id, sum(size)::BIGINT, count(*) FROM o GROUP BY bucket_id"
        ).fetchall()
        con.close()
        return {
            "listing": {"folders": folders, "leaves": leaves, "sorted": True},
            "walk": [r[0] for r in walk],
            "search": [r[0] for r in search],
            "usage": {r[0]: (r[1], r[2]) for r in usage},
        }

    def check(self, outputs):
        want = self._oracle()
        bad = {}
        for i, out in enumerate(outputs):
            errs = {
                "full_listing": checks.check_counts("listing", out.get("full_listing", {}), want["listing"]),
                "search_v1": [] if out.get("search_v1") == want["search"] else ["search_v1 rows differ from DuckDB"],
                "reconcile": checks.check_reconcile(
                    out.get("reconcile", []), self.backend.missing, self.backend.orphans
                ),
                "usage": checks.check_counts("usage", out.get("usage", {}), want["usage"]),
            }
            walk = out.get("paged_walk", {})
            errs["paged_walk"] = checks.check_walk(walk.get("entries", []), sorted(want["walk"], key=str.encode))
            if walk.get("last_truncated", True) or not walk.get("v2_first_page", False):
                errs["paged_walk"].append("walk ended truncated or the V2 page shape disagrees")
            bad.update({(i, op): e for op, e in errs.items() if e and op in out})
        return bad


# ---------------------------------------------------------- catalog_commits


class CatalogCommits(Part):
    """Copy-on-write commits on a ``snapshots.SnapshotTable``: upsert and
    delete batches in a few hot buckets, a usage read of the new snapshot,
    then compaction, snapshot expiry and vacuum, so each pass leaves the
    table in the same shape (one name-sorted file per bucket, constant row
    count per bucket)."""

    name = "catalog_commits"
    ops = [
        ("merge_upsert", "snapshots"),
        ("merge_delete", "snapshots"),
        ("commit_usage", "aggregates"),
        ("compact", "snapshots"),
        ("expire", "snapshots"),
        ("vacuum", "snapshots"),
    ]
    N_OBJECTS = 100_000
    N_BUCKETS = 8
    HOT = ["bkt-01", "bkt-02", "bkt-03"]
    N_UPDATES = 1000  # per hot bucket
    N_INSERTS = 1000  # per hot bucket, and as many deletes
    KEEP = 4  # manifests kept: the pass's three commits + the state before it
    KEYS = ["bucket_id", "name"]

    def generate(self) -> None:
        ns = gen.namespace(self.rng, self.N_OBJECTS, self.N_BUCKETS)
        tbl = ns.table()
        gen.write_parquet_parts(tbl, self.path("raw", "objects"), 8)
        self.columns = tbl.column_names
        # model: bucket -> {name: full row}
        self.model: dict[str, dict[str, tuple]] = {}
        for row in zip(*[tbl.column(c).to_pylist() for c in self.columns]):
            r = dict(zip(self.columns, row))
            self.model.setdefault(r["bucket_id"], {})[r["name"]] = row
        self.usage_at: dict[int, dict] = {}
        self.expected: list[dict] = []
        self.write_check: list[tuple[int, int]] = []

    def _usage(self) -> dict:
        si = self.columns.index("size")
        return {b: (sum(r[si] for r in rows.values()), len(rows)) for b, rows in self.model.items()}

    def build(self) -> None:
        from storage_spark.sources.snapshots import SnapshotTable

        self.table = SnapshotTable(self.spark, self.path("table"))
        src = self.spark.read.parquet(self.path("raw", "objects"))
        self.schema = src.schema
        v = self.table.create(src)
        self.usage_at[v] = self._usage()

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, names in os.walk(self.path("table", "data")):
            for n in names:
                if n.endswith(".parquet"):
                    f = os.path.join(root, n)
                    out[f] = os.path.getsize(f)
        return out

    def before_pass(self, i: int) -> None:
        rng = np.random.default_rng([self.seed, 7, i])
        ci = {c: j for j, c in enumerate(self.columns)}
        upserts, deletes = [], []
        for b in self.HOT:
            rows = self.model[b]
            names = sorted(rows)
            pick = rng.choice(len(names), self.N_UPDATES + self.N_INSERTS, replace=False)
            for j in pick[: self.N_UPDATES]:
                r = list(rows[names[j]])
                r[ci["size"]] = int(rng.integers(1, 1 << 30))
                r[ci["updated_at_ms"]] += 1000 * (i + 1)
                upserts.append(tuple(r))
            for j in pick[self.N_UPDATES :]:
                deletes.append((b, names[j]))
            for j in range(self.N_INSERTS):
                r = list(rows[names[pick[j]]])
                r[ci["name"]] = f"d{j % 40:02d}/new/p{i:04d}-{j:05d}.bin"
                r[ci["id"]] = f"n{i:05d}{b}{j:05d}"
                upserts.append(tuple(r))
        self.upserts = self.spark.createDataFrame(upserts, self.schema)
        self.deletes = self.spark.createDataFrame(deletes, "bucket_id string, name string")
        self.version_before = self.table.versions()[-1]
        self.files_before = self._files()
        # advance the model to the state this pass must leave
        for r in upserts:
            self.model[r[ci["bucket_id"]]][r[ci["name"]]] = r
        for b, n in deletes:
            del self.model[b][n]
        self.expected.append(self._usage())

    def op_merge_upsert(self, i):
        return self.table.merge_upsert(self.upserts, self.KEYS), None

    def op_merge_delete(self, i):
        return self.table.merge_delete(self.deletes, self.KEYS), None

    def op_commit_usage(self, i):
        from storage_spark.operators.aggregates import bucket_usage

        df = bucket_usage(self.table.read())
        return {r["bucket_id"]: (r["total_size"], r["n_objects"]) for r in df.collect()}, df

    def op_compact(self, i):
        return self.table.compact(sort_by=["name"]), None

    def op_expire(self, i):
        return len(self.table.expire_snapshots(keep_last=self.KEEP)), None

    def op_vacuum(self, i):
        return len(self.table.vacuum()), None

    def after_pass(self, i: int, output_bytes: int) -> None:
        self.usage_at[self.table.versions()[-1]] = self.expected[i]
        sizes = self._files()
        new = set(sizes) - set(self.files_before)
        self.write_check.append((output_bytes, sum(sizes[f] for f in new)))

    def pass_counters(self, i: int) -> dict[str, float]:
        """Data files the pass's commits wrote and carried by reference,
        read from the manifests it created."""
        written = carried = 0
        vs = [v for v in self.table.versions() if v > self.version_before]
        parent = self.table._manifest(self.version_before)
        for v in vs:
            m = self.table._manifest(v)
            old = {f for fs in parent["files"].values() for f in fs}
            new = {f for fs in m["files"].values() for f in fs}
            written += len(new - old)
            carried += len(new & old)
            parent = m
        return {"snapshots.files_written": written, "snapshots.files_carried": carried}

    def check(self, outputs):
        bad = {}
        for i, out in enumerate(outputs):
            errs = {"commit_usage": checks.check_counts("usage", out.get("commit_usage", {}), self.expected[i])}
            out_b, disk_b = self.write_check[i]
            if out_b != disk_b:
                errs["compact"] = [f"status store output bytes {out_b} != new files on disk {disk_b}"]
            n_expired = 0 if i == 0 else 3  # the warm-up pass finds only 4 manifests
            if out.get("expire") not in (None, n_expired):
                errs["expire"] = [f"expired {out.get('expire')} manifests, want {n_expired}"]
            bad.update({(i, op): e for op, e in errs.items() if e and op in out})
        # the newest and the oldest retained version read as the model did
        for v in (self.table.versions()[0], self.table.versions()[-1]):
            from storage_spark.operators.aggregates import bucket_usage

            got = {
                r["bucket_id"]: (r["total_size"], r["n_objects"])
                for r in bucket_usage(self.table.read(version=v)).collect()
            }
            errs = checks.check_counts(f"usage@v{v}", got, self.usage_at.get(v, {}))
            if errs:
                bad[(len(outputs) - 1, "vacuum")] = errs
        return bad


# ---------------------------------------------------------- corpus_curation


class CorpusCuration(Part):
    """Quality-gated dedup, language ID and BPE training over a generated
    multi-language corpus with planted duplicate families and spam."""

    name = "corpus_curation"
    ops = [
        ("nb_quality_model", "pipeline"),
        ("curate_corpus", "pipeline"),
        ("langid_fit", "langid"),
        ("langid_predict", "langid"),
        ("bpe_learn_merges", "bpe"),
    ]
    N_DOCS = 1_500
    NUM_MERGES = 4
    MIN_LOGIT_1E4 = 0

    def generate(self) -> None:
        self.corpus = c = gen.corpus(
            self.rng, np.random.default_rng(0), self.N_DOCS, n_exact=30, n_near=30, n_reference=400
        )
        gen.write_parquet_parts(
            gen.pa.table({"doc_id": gen.pa.array(c.doc_id, gen.pa.int64()), "text": c.text}),
            self.path("raw", "docs"),
            8,
        )
        for name, texts in (("pos", c.pos_text), ("neg", c.neg_text)):
            gen.write_parquet_parts(gen.pa.table({"text": texts}), self.path("raw", name), 1)
        gen.write_parquet_parts(
            gen.pa.table({"lang": [x[0] for x in c.train], "text": [x[1] for x in c.train]}),
            self.path("raw", "train"),
            1,
        )

    def build(self) -> None:
        read = self.spark.read.parquet
        self.docs = read(self.path("raw", "docs"))
        self.pos, self.neg = read(self.path("raw", "pos")), read(self.path("raw", "neg"))
        self.train = read(self.path("raw", "train"))

    def op_nb_quality_model(self, i):
        from storage_spark.operators.pipeline import nb_quality_model

        self.model = nb_quality_model(self.pos, self.neg)
        return {r["tok"]: r["w"] for r in self.model.collect()}, self.model

    def op_curate_corpus(self, i):
        from storage_spark.operators.dedup import materialize_scope
        from storage_spark.operators.pipeline import curate_corpus

        before = rdd_disk_bytes(self.spark)
        with materialize_scope():
            df = curate_corpus(
                self.docs, classifier=self.model, min_logit_1e4=self.MIN_LOGIT_1E4,
                materialize="disk",
            ).select("doc_id")
            kept = [r["doc_id"] for r in df.collect()]
            # the DISK_ONLY blocks this call pinned, read before the scope
            # unpersists them
            self.persisted = sum(
                b for rdd, b in rdd_disk_bytes(self.spark).items() if rdd not in before
            )
        return kept, df

    def op_langid_fit(self, i):
        from storage_spark.operators.langid import langid_fit

        self.lang_model = langid_fit(self.train)
        rows = self.lang_model.collect()
        return sorted({r["lang"] for r in rows}), self.lang_model

    def op_langid_predict(self, i):
        from storage_spark.operators.langid import langid_predict

        df = langid_predict(self.docs, self.lang_model)
        return {r["doc_id"]: r["lang"] for r in df.collect()}, df

    def op_bpe_learn_merges(self, i):
        from storage_spark.functions.bpe import bpe_learn_merges

        df = bpe_learn_merges(self.docs, num_merges=self.NUM_MERGES)
        rows = df.orderBy("merge_rank").collect()
        return [(r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rows], None

    def pass_counters(self, i: int) -> dict[str, float]:
        return {"pipeline.persisted_mb": self.persisted / MB}

    def check(self, outputs):
        c = self.corpus
        weights = checks.nb_weights(c.pos_text, c.neg_text)
        survivors = checks.curate_survivors(c.doc_id, c.text, weights, self.MIN_LOGIT_1E4)
        merges = checks.bpe_replay(c.text, self.NUM_MERGES)
        langs = dict(zip(c.doc_id, c.lang))
        bad = {}
        for i, out in enumerate(outputs):
            errs = {
                "nb_quality_model": checks.check_weights(out.get("nb_quality_model", {}), weights),
                "curate_corpus": checks.check_ids("kept", out.get("curate_corpus", []), survivors),
                "langid_fit": [] if out.get("langid_fit") == sorted(gen.LANG_ALPHABETS) else ["langid model languages"],
                "langid_predict": checks.check_counts("lang", out.get("langid_predict", {}), langs),
                "bpe_learn_merges": checks.check_merges(out.get("bpe_learn_merges", []), merges),
            }
            bad.update({(i, op): e for op, e in errs.items() if e and op in out})
        return bad


# ------------------------------------------------------------ vector_search


class VectorSearch(Part):
    """ANN search through a persisted JL-LSH index with exact rerank, plus
    an exact top-k query, over clustered 384-dim embeddings."""

    name = "vector_search"
    ops = [
        ("jl_lsh_search", "annindex"),
        ("query_vectors", "vectors"),
    ]
    N_VECTORS = 2_000
    DIM = 384
    N_CLUSTERS = 24
    N_QUERIES = 20
    N_EXACT = 1
    K = 10
    #: recall@10 floors against the float64 brute force (see README)
    RECALL_FLOOR = {"jl_lsh_search": 0.5}

    def generate(self) -> None:
        # fixed centres: the seed moves every vector, but not the clusters
        # the LSH buckets split, so the candidate volume stays alike
        centres = np.random.default_rng(0).standard_normal((self.N_CLUSTERS, self.DIM))
        self.corpus = gen.clustered_vectors(self.rng, centres, self.N_VECTORS, 0.6)
        self.queries = gen.clustered_vectors(self.rng, centres, self.N_QUERIES, 0.6)
        self.keys = [f"v{j:06d}" for j in range(self.N_VECTORS)]
        self.qkeys = [f"q{j:04d}" for j in range(self.N_QUERIES)]
        gen.write_parquet_parts(
            gen.vector_table(self.keys, self.corpus, "key", "embedding"), self.path("raw", "corpus"), 8
        )
        gen.write_parquet_parts(
            gen.vector_table(self.qkeys, self.queries, "q_key", "q_vec"), self.path("raw", "queries"), 1
        )

    def build(self) -> None:
        from storage_spark.sources.annindex import build_ann_index

        self.vectors = self.spark.read.parquet(self.path("raw", "corpus"))
        self.qdf = self.spark.read.parquet(self.path("raw", "queries"))
        build_ann_index(
            self.vectors, self.path("jl"), "jl_lsh", self.DIM, n_vectors=self.N_VECTORS,
            encode_arrow=True,
        )

    def _search(self, index: str, **probe):
        from storage_spark.sources.annindex import ann_index_search

        df = ann_index_search(self.spark, self.path(index), self.qdf, self.K, **probe)
        df = df.orderBy("q_key", "rank")
        got: dict[str, list] = {}
        for r in df.collect():
            got.setdefault(r["q_key"], []).append(r["key"])
        return got, df

    def op_jl_lsh_search(self, i):
        return self._search("jl", probe_radius=1)

    def op_query_vectors(self, i):
        from storage_spark.functions.vectors import query_vectors

        out, dfs = [], []
        for q in self.queries[: self.N_EXACT]:
            dfs.append(query_vectors(self.vectors, q.tolist(), self.K))
            out.append([r["key"] for r in dfs[-1].collect()])
        return out, dfs

    def check(self, outputs):
        dist = checks.cosine_distances(self.corpus, self.queries)
        truth = {q: checks.exact_top_k(dist[j], self.keys, self.K) for j, q in enumerate(self.qkeys)}
        self.recall = {}
        bad = {}
        for i, out in enumerate(outputs):
            errs = {}
            for op, floor in self.RECALL_FLOOR.items():
                r = checks.recall_at_k(out.get(op, {}), truth, self.K)
                self.recall.setdefault(op, []).append(r)
                errs[op] = [] if r >= floor else [f"{op} recall@{self.K} {r:.3f} < {floor}"]
            print(f"perfbench: pass {i} recall@{self.K} {self.recall}", file=sys.stderr)
            errs["query_vectors"] = [
                e
                for j, got in enumerate(out.get("query_vectors", []))
                for e in checks.check_neighbours(got, dist[j], self.keys, self.K)
            ]
            bad.update({(i, op): e for op, e in errs.items() if e and op in out})
        return bad


PART_IDS = {"catalog_reads": 0, "catalog_commits": 1, "corpus_curation": 2, "vector_search": 3}


class Workload:
    """A named list of parts; one pass runs every part's operations in
    order, and every method fans out to the parts."""

    def __init__(self, parts, spark, work: str, seed: int):
        self.parts = [p(spark, work, seed) for p in parts]
        self.ops = [(op, layer) for p in self.parts for op, layer in p.ops]
        self._owner = {op: p for p in self.parts for op, _layer in p.ops}

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def build(self) -> None:
        for p in self.parts:
            p.build()

    def before_pass(self, i: int) -> None:
        for p in self.parts:
            p.before_pass(i)

    def after_pass(self, i: int, output_bytes: int) -> None:
        for p in self.parts:
            p.after_pass(i, output_bytes)

    def run_op(self, op: str, i: int):
        return self._owner[op].run_op(op, i)

    def check(self, outputs: list[dict]) -> dict[tuple[int, str], list[str]]:
        bad = {}
        for p in self.parts:
            own = [{op: v for op, v in out.items() if self._owner[op] is p} for out in outputs]
            bad.update(p.check(own))
        return bad

    def pass_counters(self, i: int) -> dict[str, float]:
        out = {}
        for p in self.parts:
            out.update(p.pass_counters(i))
        return out

    def persisted_bytes(self) -> int:
        return sum(p.persisted for p in self.parts)


#: workload name -> its parts
WORKLOADS = {
    "catalog": (CatalogReads, CatalogCommits),
    "corpus": (CorpusCuration, VectorSearch),
}
