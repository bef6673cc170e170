"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB story):
- exact: one hash-groupBy shuffle on a 32-char digest — minimal width.
- jaccard/minhash: candidate generation NEVER compares all pairs; pairs
  come from co-occurrence joins (shared shingle / shared LSH bucket), and
  ubiquitous shingles are dropped by a document-frequency cap before the
  self-join — the same reason Halyard decimates oversized inputs
  (tools/.../HalyardBulkLoad.java:444-450): a key shared by everything
  produces a quadratic reducer.
- all hashes are content-derived (md5 / xxhash64 of the shingle text), so
  results are independent of partitioning and cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from halyard_spark.ops.text import tokens


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", by_digest: bool = True
) -> DataFrame:
    """(id, canonical_id): canonical = min id among byte-identical texts.

    Default (``by_digest=True``) shuffles a 64-hex-char sha256 digest —
    at 100 TB the groupBy key must be 32 bytes, not the document text;
    sha256 collision odds are 2^-128, and the digest is content-derived so
    results are identical at any parallelism.  ``by_digest=False`` groups
    on the VALUE itself — Spark compares group keys by value, so even a
    deliberate hash collision can never merge distinct texts (the
    reference's collision re-check, HBaseSail.java:756-761 /
    HalyardTableUtilsTest.java:81-107); use it when texts are narrow and
    absolute collision-proofness matters more than shuffle width.
    """
    key = F.sha2(F.col(text_col).cast("binary"), 256) if by_digest else F.col(text_col)
    hashed = docs.select(F.col(id_col), key.alias("k"))
    canon = hashed.groupBy("k").agg(F.min(id_col).alias("canonical_id"))
    return hashed.join(canon, "k").select(F.col(id_col), "canonical_id")


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The input scan is widened first (session.widen_small_input): a small
    corpus written as one parquet file is a ONE-task scan, and the
    explode + per-shingle hashing chain downstream is the most
    compute-heavy narrow work in the dedup family — serializing it on a
    single core doubled the dedup_minhash wall at sf0.1 (guide §2.5
    input skew).  No-op for large or already-parallel inputs.
    """
    from halyard_spark.session import widen_small_input

    # project before the widening shuffle: only (id, text) cross the wire
    docs = widen_small_input(docs.select(F.col(id_col), F.col(text_col)))
    t = tokens(text_col)
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))


def _pair_candidates(sh: DataFrame, id_col: str, key: str, max_df: int) -> DataFrame:
    """Self-join docs sharing a key, a < b; keys with doc-freq > max_df are
    dropped (no-signal keys would create quadratic pair blowup).

    ``sh`` is materialized once (eager localCheckpoint): its plan is consumed
    THREE times below (doc-freq cap + both self-join sides), and column
    pruning gives each consumer a different projection, which defeats
    Spark's ReuseExchange — measured as the whole signature aggregation
    executing twice, each time as a one-task stage (guide §2.4: remove
    duplicated subtree work before tuning anything else).
    """
    sh = sh.localCheckpoint(eager=True)
    df_ok = sh.groupBy(key).agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_df)
    pruned = sh.join(df_ok.select(key), key)
    a = pruned.select(F.col(key), F.col(id_col).alias("a"))
    b = pruned.select(F.col(key), F.col(id_col).alias("b"))
    return a.join(b, key).where(F.col("a") < F.col("b"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingle sets
    RESTRICTED to the df-capped vocabulary (shingles with doc-freq >
    max_df carry no pair signal and would blow up the candidate join).

    (a, b, jaccard) for pairs with jaccard >= threshold.  Intersections
    AND set sizes are both computed over the same pruned shingle set, so
    the ratio is the exact Jaccard within that vocabulary — mixing pruned
    intersections with unpruned sizes would bias the metric low whenever
    near-identical docs share a ubiquitous (boilerplate) shingle.
    """
    # one materialization each for the two multiply-consumed frames: sh
    # feeds the df cap AND the pruned join; pruned feeds sizes + both
    # self-join sides (projection differences defeat ReuseExchange —
    # without this the shingle explode re-runs up to 5x, guide §2.4)
    sh = shingles(docs, id_col, text_col, n).localCheckpoint(eager=True)
    df_ok = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_df)
    )
    pruned = sh.join(df_ok.select("shingle"), "shingle").localCheckpoint(eager=True)
    sizes = pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = pruned.select("shingle", F.col(id_col).alias("a"))
    b = pruned.select("shingle", F.col(id_col).alias("b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # filter on the UNROUNDED ratio (a pair in [threshold-5e-7, threshold)
    # must not sneak through rounding); round only the projected column
    raw = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .where(raw >= threshold)
        .select("a", "b", F.round(raw, 6).alias("jaccard"))
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2, k: int = 8
) -> DataFrame:
    """k MinHash values per doc: minhash_i = min over shingles of
    md5(i || shingle).  md5 is engine-portable and content-derived, so
    signatures are identical on any cluster size."""
    sh = shingles(docs, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"mh{i}:"), F.col("shingle")).cast("binary"))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 8,
    bands: int = 4,
    max_df: int = 200,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding: k hashes split into
    `bands` bands of k/bands rows; docs sharing any full band collide.
    Returns (a, b, n_shared_bands)."""
    if bands <= 0 or k % bands != 0:
        raise ValueError(
            f"minhash_lsh_pairs: bands ({bands}) must divide k ({k}) — "
            "otherwise band keys silently drop hashes (and bands > k "
            "degenerates every key to the empty string)"
        )
    r = k // bands
    sig = minhash_signatures(docs, id_col, text_col, n, k)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{bi * r + j}") for j in range(r)]).alias("key"),
        )
        for bi in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.concat_ws("#", F.col("bk.band").cast("string"), F.col("bk.key")).alias("bucket"))
    return (
        _pair_candidates(buckets, id_col, "bucket", max_df)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_chunk_spans(max_hamming: int) -> list[tuple[int, int]]:
    """Balanced (start, length) spans of the 64 simhash bits into
    ``max_hamming + 1`` chunks — the pigeonhole guarantee: two signatures
    with <= max_hamming differing bits MUST agree on at least one chunk,
    so chunk-equality banding is a COMPLETE candidate generator."""
    n = min(max_hamming + 1, 64)
    base, rem = divmod(64, n)
    spans, start = [], 0
    for i in range(n):
        ln = base + (1 if i < rem else 0)
        spans.append((start, ln))
        start += ln
    return spans


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over distinct tokens, sign-summed per bit.

    Token-hash bit i is derived from md5 hex nibbles (bit i = bit (i%4) of
    the hex value of md5 char i//4), so the signature is engine-portable:
    DuckDB reproduces it exactly with strpos('0123456789abcdef', ...) —
    unlike xxhash64, which exists only in Spark.  All arithmetic stays in
    the JVM as generated column expressions (whole-stage codegen)."""
    from halyard_spark.session import widen_small_input

    # project before the widening shuffle: only (id, text) cross the wire
    docs = widen_small_input(docs.select(F.col(id_col), F.col(text_col)))
    tok = docs.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
    md5c = F.md5(F.col("tok").cast("binary"))
    nibs = tok.select(
        F.col(id_col),
        *[F.conv(F.substring(md5c, n + 1, 1), 16, 10).cast("int").alias(f"nib{n}") for n in range(16)],
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col(f"nib{i // 4}"), i % 4).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(64)
    ]
    sums = nibs.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: xor == or
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_df: int = 200,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates via (max_hamming + 1)-way chunk banding — complete by
    pigeonhole for ANY max_hamming (a pair within the radius always shares
    a full chunk) — then verified with bit_count(xor).  The df cap only
    drops pairs whose EVERY shared chunk is ubiquitous (no-signal bands),
    mirroring the max_df guard of the other dedup ops."""
    sig = simhash64(docs, id_col, text_col)
    spans = simhash_chunk_spans(max_hamming)
    chunk_cols = [
        F.concat_ws(
            "#",
            F.lit(i).cast("string"),
            F.shiftright("simhash", start)
            .bitwiseAND(F.lit((1 << ln) - 1 if ln < 64 else -1))
            .cast("string"),
        )
        for i, (start, ln) in enumerate(spans)
    ]
    # chunks is consumed 3x (df cap + both join sides) — materialize once
    chunks = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_cols)).alias("bucket")
    ).localCheckpoint(eager=True)
    a = chunks.select(F.col("bucket"), F.col(id_col).alias("a"), F.col("simhash").alias("sim_a"))
    b = chunks.select(F.col("bucket"), F.col(id_col).alias("b"), F.col("simhash").alias("sim_b"))
    df_ok = chunks.groupBy("bucket").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_df)
    a = a.join(df_ok.select("bucket"), "bucket")
    cand = a.join(b, "bucket").where(F.col("a") < F.col("b")).select("a", "b", "sim_a", "sim_b").distinct()
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_clusters(pairs: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Near-dup pair list -> (doc_id, cluster_id) assignments.

    The missing last mile of every pairwise dedup (Jaccard / MinHash /
    SimHash emit PAIRS): transitively connect them with the large-star /
    small-star connected-components operator (pipeline/cc.py) so each
    near-dup group gets one deterministic cluster id — the lexicographic
    minimum member.  Docs that appear in no pair are singletons and are
    simply absent (they are their own cluster).  Scales like CC:
    O(log^2 n) rounds of shuffle joins, no driver-side graph state.
    """
    from halyard_spark.pipeline.cc import connected_components

    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def dedup_representatives(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep ONE document per near-dup cluster (the cluster representative,
    i.e. the min-id member) plus every unpaired document — the
    "drop near-duplicates" materialization at corpus scale.  A single
    anti-join against the non-representative id set; no full-corpus
    shuffle of document text (ids only)."""
    non_rep = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(non_rep, on=id_col, how="left_anti")


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    cosine >= threshold — the semantic-dedup stage of a training-data
    pipeline (exact/minhash/simhash catch lexical dups; this catches
    paraphrases via the embedding space).

    method='exact' is the all-pairs baseline (id<id self-join; correct at
    any scale but O(n^2) — the small-side/oracle path).  method='lsh' is
    the scale path: candidates come from an equi-join on multi-table
    random-hyperplane buckets (ops/simsearch.lsh_buckets) so only
    same-bucket pairs are scored — the shuffle carries (id, bucket) pairs,
    never a cross product; the exact cosine filter then removes false
    positives, so precision is 1.0 and only recall depends on the band
    shape (tested >= 0.8 vs exact in pytest).  Tune bands to the
    threshold: per-plane collision p = 1 - acos(threshold)/pi, recall =
    1-(1-p^n_planes)^n_tables — low thresholds need FEWER planes or more
    tables (cos>=0.4: 3 planes x 10 tables ~ 0.94; cos>=0.9: 6 x 8 ~ 0.98).
    """
    from halyard_spark.ops.simsearch import _dot, _norm, lsh_buckets
    from halyard_spark.session import widen_small_input

    # widen a one-file scan before the per-pair dot-product compute: the
    # exact path's a<b condition plans a nested-loop join whose streamed
    # side is otherwise a single task (measured 20.5 s serial at sf0.1).
    # The vector is pre-cast to array<double> ONCE PER ROW: the per-pair
    # dot product otherwise evaluates an interpreted float->double cast
    # per element per PAIR (O(n^2 * dim) casts); the cast is exact, so
    # the arithmetic is bit-identical to casting inside the fold.
    nrm = (
        widen_small_input(emb.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")))
        .withColumn("__vec", F.transform("__vec", lambda x: x.cast("double")))
        .withColumn("__n", _norm(F.col("__vec")))
        .where(F.col("__n") > 0)  # zero vectors: no direction, ANSI div-by-0
    )

    if method == "exact":
        a = nrm.select(
            F.col("__id").alias("a"), F.col("__vec").alias("__va"), F.col("__n").alias("__na")
        )
        b = nrm.select(
            F.col("__id").alias("b"), F.col("__vec").alias("__vb"), F.col("__n").alias("__nb")
        )
        # a<b FIRST in the conjunction: nested-loop join conditions are
        # evaluated interpreted per ordered pair, And short-circuits, and
        # the cosine term is ~100x the comparison — putting the cheap
        # half-plane cut first halves the dominant cost.  (Left as a
        # .where(), Catalyst pushed the threshold filter in FRONT of the
        # a<b term: every one of the n^2 ordered pairs paid the fold.)
        cand = a.join(
            b,
            (F.col("a") < F.col("b"))
            & (_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")) >= threshold),
        )
    elif method == "lsh":
        # widen the tiny-scan case (hyperplane dot products are the heavy
        # narrow work here) and materialize bk once for its two join sides
        bk = lsh_buckets(
            widen_small_input(emb.select(F.col(id_col), F.col(vec_col))),
            dim=dim, n_planes=n_planes, n_tables=n_tables, vec_col=vec_col, seed=seed,
        ).select(F.col(id_col).alias("__bid"), "bucket").localCheckpoint(eager=True)
        pairs = (
            bk.alias("x")
            .join(bk.alias("y"), on="bucket")
            .where(F.col("x.__bid") < F.col("y.__bid"))
            .select(F.col("x.__bid").alias("a"), F.col("y.__bid").alias("b"))
            .distinct()
        )
        a = nrm.select(F.col("__id").alias("a"), F.col("__vec").alias("__va"), F.col("__n").alias("__na"))
        b = nrm.select(F.col("__id").alias("b"), F.col("__vec").alias("__vb"), F.col("__n").alias("__nb"))
        cand = pairs.join(a, "a").join(b, "b")
    else:
        raise ValueError(f"unknown method {method!r}")

    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    if method == "exact":
        # threshold already enforced inside the join condition (ordered
        # after a<b); re-filtering here would push a THIRD cosine term
        # into the nested-loop condition
        return cand.select("a", "b", F.round(cos, 6).alias("cos"))
    return (
        cand.withColumn("__cos", cos)
        .where(F.col("__cos") >= threshold)
        .select("a", "b", F.round("__cos", 6).alias("cos"))
    )
