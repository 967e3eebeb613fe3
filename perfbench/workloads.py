"""The benchmark's workloads: one cold batch job each, as a fresh process.

``graph_sync`` is the graph's life cycle: a cold initial load through the
bulk build (one commit), then an incremental staged sync at a second
update tag (the buffered store merging against committed slices, then stale
cleanup and an analysis job), then a resume of that sync, which must commit
nothing.

``doc_pipeline`` is the documents path over a corpus of base documents,
each replicated ten times with a `` rep <n>`` suffix: mention triples (extract -> link -> canonicalize ->
materialize), MinHash-LSH pairs written once, the clusters built from those
pairs (connected components over the non-forest pair graph of each
family of replicas), and n-gram
Jaccard pairs.  It never touches the graph store.
"""

from __future__ import annotations

import os

import checks
import gen
import numpy as np
import pyarrow.parquet as pq


def update_tags(seed: int) -> tuple[int, int]:
    """Two increasing update tags drawn from the seed."""
    rng = np.random.default_rng([7, seed])
    t1 = 100_000_000 + int(rng.integers(0, 1_000_000))
    return t1, t1 + 1 + int(rng.integers(0, 1_000_000))


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024 * 1024)


def live_snapshot_mb(root: str, meta: dict) -> float:
    """Size of the slices the current manifest references."""
    return sum(
        dir_mb(os.path.join(root, e["path"]))
        for table in ("nodes", "edges")
        for e in meta.get(table, {}).values()
    )


class Workload:
    """A sequence of operations; ``ops`` yields (name, callable)."""

    name = ""
    shape: gen.Shape

    def __init__(self, spark, inputs: str, out_dir: str, seed: int, expected: dict):
        self.spark, self.inputs, self.out, self.seed = spark, inputs, out_dir, seed
        self.expected = expected
        self.t1, self.t2 = update_tags(seed)
        self.digests: dict = {}
        self.report: dict[str, tuple[float, str]] = {}

    def prepare(self) -> None:
        """Per-run set-up the program needs before the first operation."""
        for name in gen.TABLES:
            self.spark.read.parquet(f"{self.inputs}/{name}.parquet").schema

    def expect(self, key: str):
        return self.expected.get(key)


class GraphSync(Workload):
    name = "graph_sync"
    shape = gen.Shape.scale(0.02, base_docs=1000)

    # a subset of run_sync's stages over the families the bulk build
    # loads, in run_sync's order: the full provider sweep takes minutes per
    # sync on a 4-cpu host, longer than one benchmark run may last
    def staged_sync(self, store, tag: int, variant: str) -> None:
        from cartography_spark.analysis import registry
        from cartography_spark.core.store import BufferedSyncStore
        from cartography_spark.kg import materialize, pipeline
        from cartography_spark.modules import aws_base, aws_emr, aws_iam, aws_s3, okta, permissions
        from cartography_spark.sources import docs_synth
        from cartography_spark.sources import fixtures as fx

        spark, sf = self.spark, self.inputs
        st = BufferedSyncStore(store)
        policies, statements = fx.iam_policies(spark, sf), fx.iam_policy_statements(spark, sf)
        roles = fx.iam_roles(spark, sf, variant)
        aws_base.sync_accounts(st, fx.aws_accounts(spark, sf), tag)
        aws_iam.sync_principals(st, fx.iam_users(spark, sf, variant), fx.iam_groups(spark, sf), roles, tag)
        aws_iam.sync_policies(st, policies, statements, tag)
        aws_iam.sync_memberships(st, fx.iam_group_memberships(spark, sf, variant), tag)
        aws_emr.sync_emr(st, fx.emr_clusters(spark, sf, variant), tag)
        aws_s3.sync_s3(st, fx.s3_buckets(spark, sf), fx.s3_acls(spark, sf), tag)
        okta.sync_okta(st, fx.okta_orgs(spark, sf), fx.okta_groups(spark, sf),
                       fx.okta_users(spark, sf), fx.okta_group_members(spark, sf), tag)
        permissions.sync_permission_mappings(st, policies, statements, tag)
        st.flush()
        materialize.sync_documents(st, docs_synth.interleaved_documents(spark, sf), tag)
        pipeline.run_cleanup(spark, st, tag)
        jobs = [j for j in registry.default_jobs() if j.name == "aws_s3acl"]
        registry.run_analysis_jobs(st, spark, sf, tag, jobs=jobs)
        st.flush()

    def prepare(self) -> None:
        from cartography_spark.core.store import GraphStore

        super().prepare()
        self.root = os.path.join(self.out, "store")
        self.store = GraphStore(self.spark, self.root)

    def ops(self, tracer=None):
        from cartography_spark.kg import bulk

        tags = [self.t1, self.t2]
        spark, store = self.spark, self.store

        def bulk_load():
            nodes, edges = bulk.build_graph(spark, self.inputs, self.t1)
            if tracer is not None:  # compute-only pass, traced runs only
                with tracer.span("kg.bulk.compute", "kg.bulk"):
                    nodes.write.format("noop").mode("overwrite").save()
                    edges.write.format("noop").mode("overwrite").save()
            store.upsert(nodes, edges, "bulk", self.t1)

        def check_bulk():
            self.digests["bulk"] = d = checks.graph_digest(store, tags)
            checks.compare("bulk snapshot", d, self.expect("bulk"))
            checks.check_graph(store, self.inputs, self.t1, "t1")

        def sync_t2():
            self.staged_sync(store, self.t2, "t2")

        def check_t2():
            self.version_t2 = store.current_meta()["version"]
            self.digests["t2"] = d = checks.graph_digest(store, tags)
            checks.compare("t2 graph", d, self.expect("t2"))
            checks.check_graph(store, self.inputs, self.t2, "t2")

        def resume():
            self.staged_sync(store, self.t2, "t2")

        def check_resume():
            v = store.current_meta()["version"]
            checks.require(v == self.version_t2, f"resume advanced the store {self.version_t2} -> {v}")

        return [("bulk_build", bulk_load, check_bulk), ("sync_t2", sync_t2, check_t2),
                ("resume", resume, check_resume)]

    def trace_counts(self) -> dict[str, float]:
        from cartography_spark.kg.link import identifier_dictionary

        return {"dict_rows": identifier_dictionary(self.store.nodes()).count()}

    def summarize(self, walls: dict[str, float]) -> None:
        meta = self.store.current_meta()
        self.output_mb = live_snapshot_mb(self.root, meta)
        self.report = {
            "bulk_build_s": (walls.get("bulk_build", 0.0), "s"),
            "sync_t2_s": (walls.get("sync_t2", 0.0), "s"),
            "resume_s": (walls.get("resume", 0.0), "s"),
            "store_mb": (self.output_mb, "MB"),
            "graph_nodes": (meta.get("metrics", {}).get("node_rows", 0), "count"),
            "graph_edges": (meta.get("metrics", {}).get("edge_rows", 0), "count"),
        }


class DocPipeline(Workload):
    name = "doc_pipeline"
    shape = gen.Shape.scale(0.02, base_docs=1000, replicas=10)

    def ops(self, tracer=None):
        from cartography_spark.kg import materialize
        from cartography_spark.ops import dedup

        spark, out = self.spark, self.out
        docs = spark.read.parquet(f"{self.inputs}/documents.parquet")
        paths = {k: os.path.join(out, k) for k in ("mentions", "lsh", "clusters", "ngram")}

        def write(df, key):
            df.write.mode("overwrite").parquet(paths[key])

        def read(key):
            return pq.read_table(paths[key]).to_pylist()

        texts = {}

        def load_texts():
            if not texts:
                t = pq.read_table(f"{self.inputs}/documents.parquet", columns=["doc_id", "text"])
                texts.update(zip(*(c.to_pylist() for c in t.columns)))
            return texts

        def pairs(key):
            return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in read(key)}

        def check_mentions():
            df = spark.read.parquet(paths["mentions"])
            self.digests["mentions"] = d = checks.frame_digest(df)
            checks.compare("mention triples", d, self.expect("mentions"))
            got = {(r["doc_id"], r["entity_id"], r["entity_label"]) for r in read("mentions")}
            checks.require(got == checks.expected_mentions(self.inputs),
                           "mention triples differ from the oracle")

        def check_lsh():
            self.digests["lsh"] = d = checks.frame_digest(spark.read.parquet(paths["lsh"]))
            checks.compare("lsh pairs", d, self.expect("lsh"))
            self.lsh = pairs("lsh")
            checks.check_pairs("lsh pairs", self.lsh, load_texts())

        def check_clusters():
            self.digests["clusters"] = d = checks.frame_digest(spark.read.parquet(paths["clusters"]))
            checks.compare("clusters", d, self.expect("clusters"))
            rows = [(r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])
                    for r in read("clusters")]
            checks.check_clusters(rows, sorted(load_texts()), self.lsh)

        def check_ngram():
            self.digests["ngram"] = d = checks.frame_digest(spark.read.parquet(paths["ngram"]))
            checks.compare("ngram pairs", d, self.expect("ngram"))
            self.ngram = pairs("ngram")
            checks.require(self.ngram == checks.expected_ngram_pairs(load_texts()),
                           "ngram pairs differ from the oracle")

        return [
            ("mentions", lambda: write(materialize.mention_triples(spark, self.inputs, self.t1),
                                       "mentions"), check_mentions),
            ("lsh_pairs", lambda: write(dedup.minhash_lsh_pairs(docs, hash_fn="xxhash"), "lsh"),
             check_lsh),
            ("clusters", lambda: write(dedup.duplicate_clusters(
                docs, pairs=spark.read.parquet(paths["lsh"])), "clusters"), check_clusters),
            ("ngram_pairs", lambda: write(dedup.ngram_jaccard_pairs(docs), "ngram"), check_ngram),
        ]

    def trace_counts(self) -> dict[str, float]:
        from cartography_spark.kg.link import identifier_dictionary
        from cartography_spark.kg.materialize import fixture_nodes

        nodes = fixture_nodes(self.spark, self.inputs, self.t1)
        return {"dict_rows": identifier_dictionary(nodes).count(),
                "lsh_pairs": len(getattr(self, "lsh", {})),
                "ngram_pairs": len(getattr(self, "ngram", {}))}

    def summarize(self, walls: dict[str, float]) -> None:
        self.output_mb = sum(dir_mb(os.path.join(self.out, k))
                             for k in ("mentions", "lsh", "clusters", "ngram"))
        dedup_s = sum(walls.get(k, 0.0) for k in ("lsh_pairs", "clusters", "ngram_pairs"))
        m = walls.get("mentions", 0.0)
        self.report = {
            "mentions_s": (m, "s"),
            "mentions_docs_per_s": (self.shape.docs / m if m else 0.0, "docs/s"),
            "dedup_s": (dedup_s, "s"),
            "lsh_pairs": (len(getattr(self, "lsh", {})), "count"),
            "ngram_pairs": (len(getattr(self, "ngram", {})), "count"),
        }


WORKLOADS = {w.name: w for w in (GraphSync, DocPipeline)}
