"""Deduplication operators for training-data pipelines.

Six tiers, each a standard large-scale technique:
  * exact          — hash-groupBy on the content fingerprint (one shuffle)
  * prefix/block   — groupBy on a cheap blocking key
  * n-gram Jaccard — shingle blocking join + set-overlap verification
  * MinHash + LSH  — signature bands -> bucket join -> Jaccard verify
  * SimHash        — bitwise majority fingerprint, groupable/hamming-banded
  * embedding near-dup — hyperplane-LSH bucketed candidates + exact cosine

Hash family is parameterized (``hash_fn``):
  * ``xxhash`` (default) — Spark-native xxhash64: contention-free and ~7x
    faster than md5.  Measured on this box, Spark's ``md5`` expression
    *anti-scales* with thread count (a per-call MessageDigest behind a
    contended provider lookup: 50M hashes 4.8s @ 8 threads -> 6.8s @ 32);
    xxhash64 is pure codegen.  Production always wants this.
  * ``md5``               — bit-for-bit reproducible in the DuckDB oracle
    (used by the correctness-gate queries; same algorithm, same candidates,
    only the hash family differs).

Scale notes: every operator is blocking-key-first — candidate pairs are only
generated inside a shared bucket, never via cross join.  The shingle
explode is the big intermediate (docs x shingles); it hash-partitions on
the shingle, which is also the skew axis (stopword shingles) — mitigated by
dropping top-frequency shingles (``max_shingle_freq``), the standard
suppression used in web-scale dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cartography_spark.core.partition import spread_partitions as _spread


def _content_fp(col, hash_fn: str):
    """Fingerprint family for exact/prefix dedup: md5 for oracle parity,
    xxhash64 for production (codegen-native, no per-call digest lookup —
    same split as the MinHash family)."""
    return F.md5(col) if hash_fn == "md5" else F.xxhash64(col).cast("string")


def exact_duplicates(docs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """Exact dedup by normalized-content fingerprint.
    Returns doc_id, canonical_doc_id (min doc_id of the content group)."""
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _content_fp(F.lower(F.regexp_replace("text", " +", " ")), hash_fn).alias("fp"),
    )
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .select("doc_id", "canonical_doc_id")
    )


def prefix_duplicates(
    docs: DataFrame, prefix_len: int = 64, hash_fn: str = "md5"
) -> DataFrame:
    """Blocking-key dedup on a text prefix; returns only docs in groups >1:
    doc_id, canonical_doc_id, group_size."""
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _content_fp(F.substring("text", 1, prefix_len), hash_fn).alias("fp"),
    )
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .where(F.col("group_size") > 1)
        .select("doc_id", "canonical_doc_id", F.col("group_size").cast("long").alias("group_size"))
    )


def _shingles(docs: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word-k-shingles.

    ``distinct=True`` gives set semantics (required for Jaccard sizes).
    Since round 6 this is NARROW too: duplicates of a (doc_id, shingle)
    pair can only come from within one document, so a per-document
    ``array_distinct`` before the explode yields exactly the global
    distinct set without the full shuffle of the exploded corpus the old
    ``.distinct()`` paid (guide §2.4 — remove shuffles outright).
    ``distinct=False`` keeps the multiset — correct wherever the consumer
    is duplicate-insensitive, e.g. MinHash (min over a multiset == min
    over its set).
    """
    toks = _spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.lower(F.col("text")), " +").alias("t"),
    )
    arr = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("t") - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, k)),
        ),
        lambda s: F.length(s) > 0,
    )
    if distinct:
        arr = F.array_distinct(arr)
    return toks.select("doc_id", F.explode(arr).alias("shingle"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 50,
) -> DataFrame:
    """Near-dup pairs by word-k-shingle Jaccard.

    Pipeline: shingle -> suppress hot shingles -> self-join on shingle
    (candidate blocking) -> count shared -> Jaccard >= threshold.
    Output: doc_a < doc_b, jaccard (4dp).
    """
    sh = _shingles(docs, k)
    # ONE corpus shuffle (guide §2.3/§2.4): group doc ids per shingle, drop
    # hot shingles by group size (same predicate as the old count>max
    # suppression), and emit candidate pairs directly from each group's
    # sorted doc array — the old shape shuffled the exploded corpus again
    # into a self-join to produce exactly these pairs.  Suppressed groups
    # are bounded (<= max_shingle_freq docs), so the pair fan-out per
    # shingle is bounded too.
    grp = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.size("docs") <= max_shingle_freq)
        .select(F.array_sort("docs").alias("docs"))
    )
    sizes = (
        grp.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    ds = F.col("docs")
    pair_arrays = F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + F.lit(2), F.size(ds)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    )
    shared = (
        grp.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _minhash_hash(i: int, hash_fn: str):
    """32-bit hash family member h_i(shingle)."""
    if hash_fn == "md5":
        # oracle-reproducible: int(md5(i ':' s)[:8], 16)
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))), 1, 8), 16, 10
        ).cast("long")
    # fast path: seed the family by hashing the index alongside the value
    return F.pmod(F.xxhash64(F.lit(i), F.col("shingle")), F.lit(2**32)).cast("long")


def minhash_signatures(
    docs: DataFrame, k: int = 3, num_hashes: int = 16, hash_fn: str = "xxhash"
) -> DataFrame:
    """(doc_id, sig array<long>) MinHash signatures over word-k-shingles.

    hash_fn='xxhash' (production): fully PER-ROW, two passes —

      1. one base hash per shingle position: ``xxhash64(w[j+1..j+k])``
         over the k words directly (no shingle string is materialized);
      2. family member i = min over ``xxhash64(i, base_hash)`` — a seeded
         rehash of the 64-bit digest, so each position pays ONE string
         hashing pass total instead of num_hashes of them (the naive
         per-family fold re-hashed the words 16x and measured 2.5x slower
         than the exploded shape at sf0.1).

    Nothing explodes and there is NO shuffle: the explode + groupBy shape
    allocated one ~20-byte shingle string per position (the measured
    allocation-bound scaling bottleneck on this host), where this shape
    allocates one long array per row.  min-over-positions == min over the
    shingle multiset, so the signature semantics are unchanged; sharing
    one 64-bit base digest across the family only merges hash families on
    a 2^-64 collision — immaterial to LSH banding.

    hash_fn='md5' (oracle parity): md5 of the literal ``"{i}:{shingle}"``
    string, reproduced bit-for-bit by the DuckDB oracle.  Since round 6
    this runs as a ``mapInPandas`` kernel over the raw docs: Python's
    ``hashlib.md5`` is the same C digest without the per-call
    MessageDigest provider lookup Spark's ``md5`` expression pays (the
    measured anti-scaling hot spot), shingling/min-fold happen per row, and
    only ``num_hashes`` longs per doc ever leave the worker — same
    zero-shuffle shape as the xxhash path.  A per-task digest-prefix
    ``copy()`` amortizes hashing the ``"{i}:"`` prefixes.
    """
    if hash_fn == "md5":
        kk = int(k)
        nh = int(num_hashes)

        def _sig_md5(batches):
            import hashlib
            import re

            import pandas as pd

            pat = re.compile(" +")
            prefixes = [hashlib.md5(f"{i}:".encode()) for i in range(nh)]
            for pdf in batches:
                out_ids, out_sigs = [], []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    if text is None or doc_id is None:
                        continue
                    t = pat.split(text.lower())
                    hi = len(t) - kk
                    if hi < 0:
                        hi = 0
                    mins = [None] * nh
                    seen = set()
                    for j in range(hi + 1):
                        s = " ".join(t[j:j + kk])
                        if not s or s in seen:
                            continue
                        seen.add(s)
                        sb = s.encode()
                        for i in range(nh):
                            m = prefixes[i].copy()
                            m.update(sb)
                            v = int.from_bytes(m.digest()[:4], "big")
                            if mins[i] is None or v < mins[i]:
                                mins[i] = v
                    if mins[0] is None:
                        continue
                    out_ids.append(int(doc_id))
                    out_sigs.append(mins)
                if out_ids:  # an all-degenerate batch yields nothing — an
                    # empty numeric Series cannot Arrow-cast to array<long>
                    yield pd.DataFrame({"doc_id": out_ids, "sig": out_sigs})

        src = _spread(docs).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        return src.mapInPandas(_sig_md5, "doc_id long, sig array<long>")

    # degenerate-doc parity with the md5 path (r5 advice): a NULL/empty text
    # yields no signature row there (its only shingle is zero-length and is
    # filtered), while sequence(0, greatest(size-k, 0)) here always yields
    # position [0] — which would give every empty doc the SAME constant
    # signature and collide them all into one LSH bucket.  The exclusion set
    # is exactly {NULL, ""}: any other text produces >= 1 non-empty shingle.
    toks = _spread(docs).where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.lower(F.col("text")), " +").alias("t"),
    )
    positions = F.sequence(F.lit(0), F.greatest(F.size("t") - k, F.lit(0)))

    def base_hash(j):
        # try_element_at: docs shorter than k tokens index past the end
        # (ANSI mode would throw); xxhash64 skips NULL args, matching the
        # string path's short-shingle behavior
        return F.xxhash64(*[F.try_element_at(F.col("t"), j + off) for off in range(1, k + 1)])

    hb = toks.withColumn("hbase", F.transform(positions, base_hash))
    two32 = F.lit(2**32).cast("long")
    mins = [
        F.array_min(
            F.transform("hbase", lambda h, i=i: F.pmod(F.xxhash64(F.lit(i), h), two32))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = hb.select("doc_id", *mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures -> bucket join ->
    exact-Jaccard verification of candidates only.
    Output: doc_a < doc_b, jaccard (4dp)."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, k, num_hashes, hash_fn)

    band_cols = []
    for b in range(bands):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)])).alias(
                    "bucket"
                ),
            )
        )
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    l = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (
        l.join(r, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        # checkpoint: candidates are tiny (pairs that band-collide) and are
        # consumed three times below (shared-shingle join + the doc prune);
        # without the barrier each consumer re-runs the signature+band join
        .localCheckpoint()
    )

    # Verify candidates with exact shingle Jaccard — over CANDIDATE DOCS
    # only.  Jaccard is computed per candidate pair, so shingling the
    # non-candidate 99% of the corpus was dead work (and after the narrow
    # _shingles rewrite there is no exchange for Spark to reuse between the
    # sizes/a/b branches — pruning docs first makes all three cheap).
    cand_docs = (
        cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    docs_c = docs.join(
        cand_docs,
        docs["doc_id"].cast("long") == cand_docs["doc_id"],
        "left_semi",
    )
    sh = _shingles(docs_c, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cands.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, bits: int = 32, hash_fn: str = "xxhash") -> DataFrame:
    """(doc_id, simhash long): bitwise-majority fingerprint over tokens.

    bit b of token t = bit b of h(t); simhash bit b is set iff more tokens
    have it set than not.  hash_fn='md5' is oracle-reproducible.
    """
    toks = _spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " +"))).alias("tok"),
    ).where(F.length("tok") > 0)
    h_expr = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        if hash_fn == "md5"
        else F.pmod(F.xxhash64("tok"), F.lit(2**32)).cast("long")
    )
    h = toks.withColumn("h", h_expr)
    # ONE shuffle: per-bit majorities as `bits` conditional sums in a single
    # wide groupBy(doc_id) — map-side partial aggregation carries 32 longs
    # per doc instead of exploding (doc, token) x bits rows and shuffling
    # twice.  Whole-stage codegen keeps the 32 CASE branches JVM-native.
    bit_sums = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = h.groupBy("doc_id").agg(*bit_sums)
    fingerprint = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)" for b in range(bits)
    )
    return per_doc.select("doc_id", F.expr(fingerprint).alias("simhash"))


def rademacher_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic +/-1 hyperplanes keyed by md5 digit parity.

    Component (p, i) is +1 iff the first hex digit of md5("{p}-{i}") is in
    0..7 (i is 1-indexed).  The same formula is reproducible in ANSI SQL
    (``substr(md5(p || '-' || i), 1, 1)``), so the DuckDB oracle buckets
    identically — the dedup analog of the md5 MinHash parity trick above.
    Rademacher entries are a standard random-projection family (sign-LSH,
    Charikar 2002); no RNG keeps runs reproducible across cluster sizes.
    """
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{p}-{i}".encode()).hexdigest()[0] in "01234567"
            else -1.0
            for i in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    dim: int = 64,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking.

    Pipeline (all JVM-native, no UDFs):
      1. signature: ``n_planes`` hyperplane dot products per vector fold into
         an int bucket (one narrow projection — no shuffle);
      2. candidates: self-join on bucket with radius-``probe_radius``
         multiprobe (each LEFT row also probes the buckets at Hamming
         distance 1, so pairs whose signatures differ by one bit are still
         candidates).  A (x, y) pair with ``x < y`` matches exactly once —
         distance-0 via y's own bucket, distance-1 via exactly one flip — so
         no dedup pass is needed;
      3. verify: exact cosine on candidates only, keep ``>= threshold``.

    At scale: the join shuffles on ``bucket`` — pick ``n_planes ~
    log2(N / target_bucket_rows)`` so buckets stay executor-sized; skewed
    (dense-region) buckets are handled by AQE skew-join splitting.  The
    full vectors ride the candidate shuffle only, never a cross join.
    Recall is the standard sign-LSH curve ``P(agree) = 1 - theta/pi`` per
    bit; raise ``probe_radius`` (or band over multiple signatures like
    ``minhash_lsh_pairs``) for higher recall.

    Output: id_a, id_b, cosine (rounded 6dp), id_a < id_b.

    Implementation note (round 6, guide §4.2): the per-pair verification is
    a cogrouped numpy kernel, not a JVM expression.  The candidate join is
    the O(sum of bucket^2) hot loop — at 20k vectors it is already 63M
    pairs x 64 dims, and Spark's per-pair evaluation (HOF fold or unrolled
    codegen alike, both measured) costs microseconds per pair where a
    vectorized batch kernel costs nanoseconds.  Both sides are shuffled by
    ``(bucket, salt)`` — only the vectors themselves (~N x dim floats, NOT
    the pair grid) cross to Python — and each group is scored as a block.

    fp-exactness: the kernel accumulates ``acc += x[:, i] * y[:, i]`` over
    ``i`` in ascending order in float64, i.e. the exact IEEE add/mul
    sequence of the previous ``aggregate(zip_with(...))`` left fold, and
    the final ``round(cosine, 6)`` stays in Spark — results are
    bit-identical to the HOF implementation (oracle-verified at 3 SFs).

    ``salt`` splits the probe side of each bucket deterministically
    (``pmod(xxhash64(id), s)`` — stable under task retry) and replicates
    the build side ``s`` ways, so parallelism is ``2^n_planes * s`` even
    though there are only ``2^n_planes`` buckets; default sizes it to
    ~2 tasks per core.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    planes = rademacher_planes(n_planes, dim)

    def _dot_plane(plane):
        arr = F.array(*[F.lit(c) for c in plane])
        return F.aggregate(
            F.zip_with(v, arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )

    bucket = None
    for p, plane in enumerate(planes):
        bit = F.when(_dot_plane(plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    sig = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
        bucket.cast("int").alias("bucket"),
    )

    probes = sig.select("vid", "v", "nrm", F.col("bucket").alias("probe"))
    if probe_radius >= 1:
        flips = sig.select(
            "vid", "v", "nrm",
            F.explode(
                F.array(*[F.expr(f"int(bucket ^ {1 << p})") for p in range(n_planes)])
            ).alias("probe"),
        )
        probes = probes.unionByName(flips)

    sc = embeddings.sparkSession.sparkContext
    s = max(1, -(-2 * sc.defaultParallelism // (1 << n_planes)))  # ceil
    left = probes.withColumn(
        "salt", F.pmod(F.xxhash64("vid"), F.lit(s)).cast("int")
    )
    right = sig.select(
        F.col("vid").alias("vid_b"), F.col("v").alias("v_b"),
        F.col("nrm").alias("nrm_b"), F.col("bucket").alias("probe"),
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(s)])))

    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    thr = float(threshold)
    ndim = int(dim)

    def _score_block(lpdf, rpdf):
        import numpy as np
        import pandas as pd

        def _clean(pdf, vcol):
            ok = pdf[vcol].map(lambda a: a is not None and len(a) == ndim)
            return pdf[ok]

        lpdf = _clean(lpdf, "v")
        rpdf = _clean(rpdf, "v_b")
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        xl = np.stack(lpdf["v"].to_numpy()).astype(np.float64)
        xr = np.stack(rpdf["v_b"].to_numpy()).astype(np.float64)
        nl = lpdf["nrm"].to_numpy(dtype=np.float64)
        nr = rpdf["nrm_b"].to_numpy(dtype=np.float64)
        il = lpdf["vid"].to_numpy()
        ir = rpdf["vid_b"].to_numpy()
        out_a, out_b, out_c = [], [], []
        # chunk the left side so the (chunk x |right|) accumulator stays
        # cache-sized; chunking along rows does not change any pair's fold
        chunk = max(1, (4 << 20) // (8 * max(len(rpdf), 1)))
        for st in range(0, xl.shape[0], chunk):
            xlc = xl[st:st + chunk]
            acc = np.zeros((xlc.shape[0], xr.shape[0]))
            for i in range(ndim):
                # ascending-i accumulation == the HOF left fold, bit-exact
                acc += xlc[:, i:i + 1] * xr[:, i]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (nl[st:st + chunk, None] * nr[None, :])
                mask = (cos >= thr) & (il[st:st + chunk, None] < ir[None, :])
            ia, ib = np.nonzero(mask)
            out_a.append(il[st + ia])
            out_b.append(ir[ib])
            out_c.append(cos[ia, ib])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        })

    pairs = (
        left.groupBy("probe", "salt")
        .cogroup(right.groupBy("probe", "salt"))
        .applyInPandas(_score_block, out_schema)
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.5,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Transitive near-dup clusters: LSH pairs -> connected components ->
    canonical assignment (min doc_id per component).

    Pairwise dedup under-removes: if A~B and B~C but A!~C, keeping "one of
    each pair" can keep two of {A,B,C}.  Production pipelines therefore
    cluster the near-dup graph and keep ONE representative per component
    (e.g. C4, RefinedWeb).  Output, for EVERY doc (singletons included):
    (doc_id, cluster_id, cluster_size, is_canonical) — a training pipeline
    keeps ``is_canonical`` rows.

    Scale: candidate pairs are bucket-generated (never all-pairs) and the
    component step (kg/canonicalize.py: one shuffle plus a per-partition
    union-find, star rounds only on the partition-spanning residue) runs
    over the near-dup EDGE LIST only — a tiny fraction of corpus size.
    Ids travel zero-padded so lexicographic min == numeric min.  The join
    back to the corpus is left to AQE: components exist only for docs with
    >=1 near-dup pair, which can be anywhere from ~0 (clean corpus ->
    broadcast) to ~30% of 10^12 rows (raw web crawl -> sort-merge on
    doc_id) — a hardcoded hint would be wrong at one end.
    """
    from cartography_spark.kg.canonicalize import connected_components

    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold=threshold, hash_fn=hash_fn)

    def _pad(c: str):
        return F.lpad(F.col(c).cast("string"), 20, "0")

    comps = connected_components(
        pairs.select(_pad("doc_a").alias("src"), _pad("doc_b").alias("dst"))
    ).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    assigned = base.join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    ratio_threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share word-k-grams
    with an evaluation corpus (the n-gram-collision check run before any
    training-set release; see GPT-3 appx C / PaLM-style 13-gram filters —
    k is a parameter because the synthetic docs here are short).

    Output per training doc: (doc_id, n_collisions, n_shingles,
    contamination_ratio, contaminated).

    Scale: eval suites are ~10^6-10^7 distinct n-grams — broadcast the
    benchmark shingle set so the 10^12-doc training side never shuffles for
    the probe; the only wide exchange is the distinct-(doc, shingle) set
    semantics on the training side, partitioned by doc_id.
    """
    sh = _shingles(train, k)
    bench_sh = _shingles(benchmark, k).select("shingle").distinct()
    hits = (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    out = sizes.join(hits, "doc_id", "left").na.fill({"n_collisions": 0})
    ratio = F.round(F.col("n_collisions") / F.col("n_shingles").cast("double"), 4)
    return out.select(
        "doc_id",
        "n_collisions",
        "n_shingles",
        ratio.alias("contamination_ratio"),
        (ratio >= ratio_threshold).alias("contaminated"),
    )
