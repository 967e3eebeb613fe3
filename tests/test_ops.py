"""Training-data ops: dedup, similarity, textstats, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from cartography_spark.sources.fixtures import read_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_DIR, "embeddings").cache()


def test_exact_dedup_idempotent_canonical(spark, docs):
    from cartography_spark.ops.dedup import exact_duplicates

    d = exact_duplicates(docs)
    assert d.count() == docs.count()
    # canonical ids are themselves members of their group
    assert d.where(F.col("canonical_doc_id") > F.col("doc_id")).count() == 0


def test_prefix_dedup_groups(spark, docs):
    from cartography_spark.ops.dedup import prefix_duplicates

    d = prefix_duplicates(docs)
    # every returned row belongs to a group of >=2 and canonical <= member
    assert d.where(F.col("group_size") < 2).count() == 0
    assert d.where(F.col("canonical_doc_id") > F.col("doc_id")).count() == 0


def test_minhash_candidates_superset_check(spark, docs):
    """Every high-Jaccard pair found by exact n-gram search should also be
    surfaced by MinHash LSH at these parameters (high threshold, small corpus
    -> banding catches near-identical docs)."""
    from cartography_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert exact <= lsh or len(exact - lsh) <= max(1, len(exact) // 10)


def test_simhash_similar_docs_close(spark, docs):
    from cartography_spark.ops.dedup import ngram_jaccard_pairs, simhash

    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    near = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    if near:
        for r in near:
            ham = bin(sh[r.doc_a] ^ sh[r.doc_b]).count("1")
            assert ham <= 10, f"near-dup pair {r.doc_a},{r.doc_b} hamming {ham}"


def test_cosine_topk_arrow_matches_jvm(spark, emb):
    """The numpy/BLAS kernel and the JVM aggregate path agree on top-k."""
    from cartography_spark.ops.similarity import cosine_topk, cosine_topk_arrow

    rows = emb.where(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = [[float(x) for x in r.embedding] for r in rows]
    arrow = cosine_topk_arrow(emb, queries, k=10).collect()
    by_q = {}
    for r in arrow:
        by_q.setdefault(r.query_idx, []).append((r.vec_id, round(r.cosine, 6)))
    for qi, q in enumerate(queries):
        jvm = [(r.vec_id, r.cosine) for r in cosine_topk(emb, q, k=10).collect()]
        got = sorted(by_q[qi], key=lambda t: (-t[1], t[0]))
        assert got == jvm, f"query {qi}: {got} != {jvm}"


def test_multimodal_decode_plumbing(spark):
    from cartography_spark.ops.multimodal import decode_media, frame_sample_plan
    from cartography_spark.sources.docs_synth import exploded_spans, interleaved_documents

    spans = exploded_spans(interleaved_documents(spark, SF_DIR))
    decoded = decode_media(spans, fake=True)
    rows = decoded.collect()
    media_count = spans.where(F.col("kind").isin("image", "audio")).count()
    assert len(rows) == media_count
    r0 = rows[0]
    assert 1 <= r0.width <= 1920 and 1 <= r0.height <= 1080
    assert len(r0.feature) == 8
    # determinism: same input -> same features
    again = decode_media(spans, fake=True).collect()
    assert {(r.media_ref, tuple(r.feature)) for r in rows} == {
        (r.media_ref, tuple(r.feature)) for r in again
    }
    # frame sampling plumbing explodes deterministic frame indexes
    plan = frame_sample_plan(decoded.limit(10))
    assert plan.where(F.col("frame_idx") < 0).count() == 0


def test_decode_real_path_raises(spark):
    from cartography_spark.ops.multimodal import decode_media
    from cartography_spark.sources.docs_synth import exploded_spans, interleaved_documents

    # take media spans explicitly: row order is not deterministic (the doc
    # scan is spread), so a bare limit(5) can yield only text spans and the
    # decode kernel would never run
    spans = (
        exploded_spans(interleaved_documents(spark, SF_DIR))
        .where(F.col("kind").isin("image", "audio"))
        .limit(5)
    )
    with pytest.raises(Exception):  # DecodeUnavailable surfaces as PythonException
        decode_media(spans, fake=False).collect()


def test_langid_and_quality_bounds(spark, docs):
    from cartography_spark.ops.textstats import language_id, quality_score

    q = quality_score(docs)
    assert q.where((F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)).count() == 0
    li = language_id(docs)
    assert {r.pred_lang for r in li.select("pred_lang").distinct().collect()} <= {"en", "unk"}


def test_ann_indexed_and_batch_recall(spark, emb, tmp_path):
    """Materialized-index probes (physical partition pruning) reach usable
    recall against brute force, and each query is its own nearest
    neighbour in both."""
    from cartography_spark.ops.similarity import ann_topk_indexed, build_ann_index, cosine_topk

    dim = len(emb.select("embedding").head()[0])
    path = str(tmp_path / "ann_idx")
    build_ann_index(emb, dim, path, num_planes=6)

    k = 10
    for row in emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect():
        q = [float(x) for x in row.embedding]
        exact = [r.vec_id for r in cosine_topk(emb, q, k=k).collect()]
        approx = {r.vec_id for r in ann_topk_indexed(spark, path, q, k=k).collect()}
        # weakly-clustered synthetic data: radius-2 multi-probe recall is
        # bounded by per-plane collision probability
        assert len(set(exact) & approx) / k >= 0.5, f"ANN recall for {row.vec_id}"
        assert exact[0] == row.vec_id and row.vec_id in approx


def test_embedding_near_dup_pairs_verified(spark, emb):
    """Every emitted pair is ordered, above threshold, and candidate
    generation actually prunes (bucketed join, never all-pairs)."""
    from cartography_spark.ops.dedup import embedding_near_dup

    rows = embedding_near_dup(emb, threshold=0.3).collect()
    assert rows, "sf0.001 embeddings should contain >=1 pair above 0.3"
    n = emb.count()
    assert len(rows) < n * (n - 1) / 2
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cosine >= 0.3


def test_embedding_near_dup_multiprobe_superset(spark, emb):
    """Radius-1 multiprobe finds at least the radius-0 pairs."""
    from cartography_spark.ops.dedup import embedding_near_dup

    r0 = {(r.id_a, r.id_b) for r in embedding_near_dup(emb, threshold=0.3, probe_radius=0).collect()}
    r1 = {(r.id_a, r.id_b) for r in embedding_near_dup(emb, threshold=0.3).collect()}
    assert r0 <= r1


def test_duplicate_clusters_transitive_and_total(spark, docs):
    """Cluster assignment covers every doc, is transitive over the pair
    graph (both ends of any pair share a cluster_id), and canonical ids are
    the numeric min of their cluster."""
    from cartography_spark.ops.dedup import duplicate_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, hash_fn="xxhash").cache()
    clusters = duplicate_clusters(docs, pairs=pairs).cache()
    assert clusters.count() == docs.count()

    a = clusters.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    b = clusters.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    assert joined.where(F.col("ca") != F.col("cb")).count() == 0

    # cluster_id is the min doc_id of its cluster and a member of it
    bad = clusters.groupBy("cluster_id").agg(F.min("doc_id").alias("mn")).where(
        F.col("cluster_id") != F.col("mn")
    )
    assert bad.count() == 0
    # exactly one canonical per cluster
    per = clusters.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
    )
    assert per.where(F.col("n_canon") != 1).count() == 0


def test_decontaminate_flags_benchmark_copies(spark, docs):
    """A training doc that IS a benchmark doc's text (the planted exact
    dups in the fixture corpus) must be fully contaminated; disjoint docs
    report ratio 0 and every training doc gets a row."""
    from cartography_spark.ops.dedup import decontaminate

    bench = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    out = decontaminate(train, bench, k=3).cache()
    assert out.count() == train.count()
    assert out.where(F.col("n_collisions") > F.col("n_shingles")).count() == 0

    # plant: a train doc whose text equals some benchmark doc's text
    dup = (
        train.alias("t")
        .join(bench.alias("b"), F.col("t.text") == F.col("b.text"))
        .select(F.col("t.doc_id").alias("doc_id"))
        .limit(1)
        .collect()
    )
    if dup:
        row = out.where(F.col("doc_id") == dup[0].doc_id).collect()[0]
        assert row.contamination_ratio == 1.0 and row.contaminated


def test_hash_sample_deterministic_and_stratified(spark, docs):
    from cartography_spark.ops.sampling import hash_sample

    s1 = hash_sample(docs, 0.25)
    s2 = hash_sample(docs.repartition(7), 0.25)
    # identical sample under any partitioning
    assert s1.select("doc_id").exceptAll(s2.select("doc_id")).count() == 0
    assert s1.count() == s2.count()
    # rate=1 keeps everything; rate=0 keeps nothing
    assert hash_sample(docs, 1.0).count() == docs.count()
    assert hash_sample(docs, 0.0).count() == 0
    # stratified override: the 'en' stratum of the stratified sample is a
    # subset of the global-rate sample's 'en' stratum (threshold monotone)
    strat = hash_sample(docs, 0.25, rate_by=("lang", {"en": 0.0625}))
    en_strat = strat.where(F.col("lang") == "en").select("doc_id")
    en_glob = s1.where(F.col("lang") == "en").select("doc_id")
    assert en_strat.exceptAll(en_glob).count() == 0


def test_repetition_stats_known_values_and_plan(spark):
    from cartography_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a b"),          # top token a: 4/5; bigram 'a a': 3/4
            (2, "a b c d e f g h i j k l"),  # all distinct: 1/12; bigrams 1/11
            (3, "solo",),              # single token: no bigrams
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].top_token_fraction == 0.8
    assert rows[1].top_bigram_fraction == 0.75
    assert not rows[1].repetition_ok
    assert rows[2].top_token_fraction == 0.0833
    assert rows[2].repetition_ok
    assert rows[3].n_tokens == 1 and rows[3].top_bigram_fraction == 0.0
    # zero-shuffle invariant: the whole op is per-row higher-order functions
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_matches_sql_oracle_and_invariants(spark, docs):
    import duckdb

    from cartography_spark.ops.packing import pack_sequences, pack_stats

    placed = pack_sequences(docs, seq_len=64).toPandas()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    exp = con.execute(
        """
        WITH t AS (
          SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), ' +')) END
                      AS BIGINT) AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT *, SUM(n_tokens) OVER (
                      PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM t
        )
        SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
               CAST((cum_tokens - n_tokens) // 64 AS BIGINT) AS seq_first,
               CAST((cum_tokens - n_tokens) % 64 AS BIGINT) AS seq_offset,
               CAST((cum_tokens - 1) // 64 - (cum_tokens - n_tokens) // 64 + 1
                    AS BIGINT) AS n_seqs_spanned
        FROM c
        """
    ).df()
    cols = sorted(placed.columns)
    a = placed[cols].sort_values(["source", "doc_id"]).reset_index(drop=True)
    b = exp[cols].sort_values(["source", "doc_id"]).reset_index(drop=True)
    assert a.equals(b)

    # placement is a bijection onto the token stream: within each stream,
    # consecutive docs are contiguous (prev cum == next start)
    import pandas as pd

    for _, g in a.groupby("source"):
        g = g.sort_values("doc_id")
        starts = (g.cum_tokens - g.n_tokens).tolist()
        assert starts == [0] + g.cum_tokens.tolist()[:-1]

    # partitioning invariance: same placement at a different parallelism
    re = pack_sequences(docs.repartition(7), seq_len=64).toPandas()
    re = re[cols].sort_values(["source", "doc_id"]).reset_index(drop=True)
    assert re.equals(a)

    stats = {r.source: r for r in pack_stats(docs, seq_len=64).collect()}
    for src, r in stats.items():
        assert r.n_sequences == -(-r.total_tokens // 64)
        assert 0 < r.fill_ratio <= 1.0


def test_redact_pii_counts_and_replacement(spark):
    from cartography_spark.ops.textstats import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org here"),
            (2, "role arn:aws:iam::000000000001:role/r-1 plain"),
            (3, "both x@y.io arn:aws:s3:::bucket-1 end"),
            (4, "nothing to scrub"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert rows[1].n_emails == 2 and rows[1].n_arns == 0
    assert rows[1].clean == "mail <EMAIL> and <EMAIL> here"
    assert rows[2].n_arns == 1 and rows[2].clean == "role <ARN> plain"
    assert rows[3].n_emails == 1 and rows[3].n_arns == 1
    assert rows[3].clean == "both <EMAIL> <ARN> end"
    assert rows[4].clean == "nothing to scrub"
    # zero shuffle: pure per-row regexp codegen
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_degenerate_docs(spark):
    """NULL / empty / whitespace-only text packs 0 tokens; an all-empty
    stream yields fill_ratio 0.0, not a divide-by-zero NULL (ADVICE r4)."""
    from cartography_spark.ops.packing import pack_sequences, pack_stats

    df = spark.createDataFrame(
        [
            ("a", 1, None),
            ("a", 2, ""),
            ("a", 3, "   "),
            ("b", 4, "one two three"),
            ("b", 5, "  padded  tokens  "),
        ],
        ["source", "doc_id", "text"],
    )
    placed = {r.doc_id: r for r in pack_sequences(df, seq_len=8).collect()}
    assert placed[1].n_tokens == 0 and placed[2].n_tokens == 0
    assert placed[3].n_tokens == 0 and placed[3].cum_tokens == 0
    assert placed[4].n_tokens == 3
    assert placed[5].n_tokens == 2  # trimmed before splitting
    stats = {r.source: r for r in pack_stats(df, seq_len=8).collect()}
    assert stats["a"].n_sequences == 0 and stats["a"].fill_ratio == 0.0
    assert stats["b"].total_tokens == 5 and stats["b"].fill_ratio == 0.625


def test_minhash_md5_kernel_matches_sql_formula(spark):
    """r6: the hashlib mapInPandas kernel must reproduce the old JVM
    conv(substring(md5('{i}:'||shingle),1,8),16,10) family bit-for-bit."""
    import hashlib

    from cartography_spark.ops.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x y"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: list(r.sig) for r in minhash_signatures(docs, hash_fn="md5").collect()}

    def h(i, s):
        return int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16)

    assert 3 not in out  # empty doc yields no signature (string-path parity)
    assert out[2] == [h(i, "x y") for i in range(16)]  # short doc: one shingle
    assert out[1] == [
        min(h(i, "alpha beta gamma"), h(i, "beta gamma delta")) for i in range(16)
    ]


def test_minhash_degenerate_docs_no_signature(spark):
    """r5 advice: NULL/empty docs must be absent from BOTH hash families —
    the per-row xxhash path used to emit a constant signature for them,
    colliding every empty doc into one LSH bucket."""
    from cartography_spark.ops.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real text here")], "doc_id long, text string"
    )
    for fn in ("md5", "xxhash"):
        ids = {r.doc_id for r in minhash_signatures(docs, hash_fn=fn).collect()}
        assert ids == {3}, fn


def test_ann_index_memo_survives_session_recreation():
    """r5 verdict #7: the index-handle memo must not alias a GC'd session's
    id(); weak-keyed map drops dead sessions and never crosses them."""
    import gc

    from cartography_spark.ops import similarity as S

    class _FakeRead:
        def __init__(self, tag):
            self.tag = tag

        def parquet(self, p):
            return (self.tag, p)

    class _FakeSession:
        def __init__(self, tag):
            self.read = _FakeRead(tag)

    a = _FakeSession("a")
    h1 = S._index_df(a, "/idx")
    assert S._index_df(a, "/idx") is h1
    del a
    gc.collect()
    b = _FakeSession("b")
    assert S._index_df(b, "/idx") == ("b", "/idx")
