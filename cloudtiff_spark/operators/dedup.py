"""Deduplication + similarity-search operators for the documents/embeddings
tables (/root/testdata/sf*/{documents,embeddings}.parquet).

These are the training-data-pipeline ops a 100 TB corpus job needs; each is
designed scale-first:

- exact dedup: one hash aggregation (map-side partial agg for free).
- ngram-jaccard near-dup: *lossless* length-band blocking — Jaccard(A,B) >=
  tau implies tau <= |A|/|B| <= 1/tau, so candidate pairs only need to be
  generated inside compatible shingle-count bands. Set algebra is native
  (array_intersect/array_union sizes), no UDF, no quadratic blow-up.
- MinHash + LSH banding: hash fan-out via native xxhash64, band buckets via
  groupBy; the scale path for low thresholds where banding beats bands of
  size ratio.
- SimHash: 64-bit sign-aggregated fingerprint via native bit ops.
- embedding cosine top-k: brute-force via a broadcast probe set (the exact
  baseline) and an LSH-bucketed variant (random-hyperplane signatures) as
  the approximate scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles as an array column (native)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws("_", F.slice(toks, i + 1, n))
    )
    return df.withColumn("shingles", F.array_distinct(grams))


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text); keeps the smallest doc_id as the
    canonical representative. Output: (doc_id, text_md5, group_size)."""
    h = docs.withColumn("text_md5", F.md5(F.col("text")))
    agg = h.groupBy("text_md5").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("group_size")
    )
    return agg.select("doc_id", "text_md5", "group_size")


def jaccard_pairs(
    docs: DataFrame,
    tau: float = 0.4,
    n: int = 3,
    max_df: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs with shingle-Jaccard >= tau via an
    inverted-index self-join (the scale path for exact all-pairs):

      explode (doc, shingle) -> self-join on shingle -> groupBy pair ->
      count = |A n B| -> jaccard = c / (na + nb - c).

    The intersection is computed by a shuffle AGGREGATION (map-side combine,
    whole-stage codegen), never by pairwise array ops — the cross-join-
    with-array-intersect formulation dies quadratically at corpus scale.
    Additionally applies the size-band prune (J >= tau implies
    tau <= |A|/|B| <= 1/tau) inside the join condition.

    ``max_df`` is the hot-key guard for corpus scale: a shingle appearing in
    f documents contributes f^2 candidate rows to the self-join, so one
    stopword-like shingle in 10^6 docs is 10^12 rows. Shingles with document
    frequency > max_df are dropped from CANDIDATE GENERATION only; surviving
    candidate pairs get an EXACT jaccard by adding back the hot overlap:
    |A n B| = capped-join count + |hot(A) n hot(B)|, where each doc's hot
    subset is bounded by the (tiny, broadcast) hot list — full shingle
    arrays never ride any join. A true pair is missed only if EVERY shingle
    it shares is
    corpus-hot (df > max_df) — for near-duplicate detection those pairs
    share nothing but boilerplate. The DEFAULT is max_df=None — fully
    EXACT, single-pass aggregation, no data-dependent misses; callers at
    corpus scale opt into the cap explicitly (the capped operator is
    approximate-by-contract, see tests/test_spark_ops.py's skewed-corpus
    pin).
    ``sh`` optionally supplies a precomputed ``shingles(docs, n=n)``
    frame (e.g. a session-persisted shared cache) — it MUST have been
    built with the same ``n``.
    Output: (doc_id_a, doc_id_b, jaccard) with a < b.
    """
    src = sh if sh is not None else shingles(docs, n=n)
    s = src.select("doc_id", "shingles", F.size("shingles").alias("n_sh"))
    # postings carry xxhash64(g), not the ~25-byte shingle string (r7,
    # guide §2.3 "narrower types"): the self-join's sort/compare runs on
    # 8-byte longs and the exchange ships ~1/3 the bytes. Shingles are
    # distinct per doc, so per-pair counts are unchanged unless two
    # DISTINCT corpus shingles collide in 64 bits — verified zero
    # collisions over the union of every fixture scale's shingle sets
    # (n=2 and n=3, 28,814 distinct; expected collisions at corpus scale
    # ~D^2/2^65, i.e. ~1e-8 even at 10^6 distinct shingles).
    ex = s.select("doc_id", "n_sh", F.explode("shingles").alias("g")).select(
        "doc_id", "n_sh", F.xxhash64("g").alias("g")
    )
    if max_df is not None:
        # document frequency per shingle; hot list is tiny by construction
        # (only keys with df > max_df), so it broadcasts
        hot = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") > max_df
        ).select("g")
        capped = ex.join(F.broadcast(hot), "g", "left_anti")
        a = capped.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"), "g")
        b = capped.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"), "g")
        # shared NON-hot shingles per pair via the same shuffle AGGREGATION
        # the exact path uses (shingles are distinct per doc, so the count
        # is exactly |A n B minus hot|)
        co = (
            a.alias("a")
            .join(
                b.alias("b"),
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id_a") < F.col("b.doc_id_b"))
                & (F.col("a.na") >= F.ceil(F.lit(tau) * F.col("b.nb")))
                & (F.col("b.nb") >= F.ceil(F.lit(tau) * F.col("a.na"))),
            )
            .groupBy("doc_id_a", "doc_id_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("inter_c"))
        )
        # exact verify WITHOUT shipping full shingle sets: each doc's HOT
        # subset (bounded by the tiny hot list) is re-joined per candidate;
        # |A n B| = capped count + |hot(A) n hot(B)|
        hs = (
            ex.join(F.broadcast(hot), "g", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("g").alias("hs"))
        )
        verified = (
            co.join(hs.withColumnsRenamed({"doc_id": "doc_id_a", "hs": "hs_a"}), "doc_id_a", "left")
            .join(hs.withColumnsRenamed({"doc_id": "doc_id_b", "hs": "hs_b"}), "doc_id_b", "left")
        )
        hot_inter = F.size(
            F.array_intersect(
                F.coalesce("hs_a", F.array().cast("array<bigint>")),
                F.coalesce("hs_b", F.array().cast("array<bigint>")),
            )
        )
        inter = F.col("inter_c") + hot_inter
        j = inter / (F.col("na") + F.col("nb") - inter)
        return (
            verified.withColumn("jaccard", j)
            .filter(F.col("jaccard") >= tau)
            .select("doc_id_a", "doc_id_b", "jaccard")
        )
    a = ex.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"), "g")
    b = ex.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"), "g")
    co = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id_a") < F.col("b.doc_id_b"))
            & (F.col("a.na") >= F.ceil(F.lit(tau) * F.col("b.nb")))
            & (F.col("b.nb") >= F.ceil(F.lit(tau) * F.col("a.na"))),
        )
        .groupBy("doc_id_a", "doc_id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        co.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= tau)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    tau: float = 0.4,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH candidate generation -> exact-jaccard verification.

    shingle -> xxhash64 with per-permutation seeds (native, JVM-side) ->
    min per permutation -> band signature -> groupBy band bucket ->
    within-bucket pairs -> exact verify. Same output contract as
    jaccard_pairs (the pytest asserts recall on the fixture corpus).
    ``sh`` optionally supplies a precomputed ``shingles(docs, n=n)``
    frame (same-``n`` contract as jaccard_pairs).
    """
    nperm = bands * rows_per_band
    src = sh if sh is not None else shingles(docs, n=n)
    s = src.select("doc_id", "shingles")
    # signature as ONE hash aggregation over exploded shingles (r7): the
    # previous form — nperm array_min(transform(...)) expressions per row —
    # evaluates higher-order array lambdas on Catalyst's INTERPRETED path
    # (HOFs are excluded from whole-stage codegen), costing
    # nperm x |shingles| interpreted calls per doc. min(xxhash64(g, i))
    # aggregations are fully codegen'd with map-side partial aggregation,
    # and the exploded relation is already hash-partitioned by doc_id
    # (the _docs repartition), so the groupBy needs no exchange. The hash
    # VALUES are unchanged (same xxhash64(g, seed=i)), hence identical
    # signatures, buckets, candidates, and output. (Null-shingles docs:
    # the explode drops them where the array form carried an all-null
    # signature row — but such a doc could never emit a pair either way,
    # because the verify stage's size(array_intersect/union(NULL, ...))
    # is NULL and NULL >= tau filters false.)
    exg = s.select("doc_id", F.explode("shingles").alias("g"))
    sig = exg.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("g", F.lit(i))).alias(f"m{i}") for i in range(nperm)]
    )
    # band/bucket explode carries ONLY (doc_id, band, bucket) — the shingle
    # arrays must NOT ride the `bands`-way fan-out or the bucket join, or
    # every byte of the corpus is shuffled `bands` times (the round-1
    # payload-amplification weakness). Full sets are re-joined by doc_id
    # only for the deduplicated candidate pairs.
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"m{bi * rows_per_band + ri}").cast("string")
                                    for ri in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    left = banded.select("band", "bucket", F.col("doc_id").alias("doc_id_a"))
    right = banded.select("band", "bucket", F.col("doc_id").alias("doc_id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    verified = (
        cand.join(s.withColumnsRenamed({"doc_id": "doc_id_a", "shingles": "sh_a"}), "doc_id_a")
        .join(s.withColumnsRenamed({"doc_id": "doc_id_b", "shingles": "sh_b"}), "doc_id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # unrounded: |A∪B| == na+nb-|A∩B| exactly (distinct arrays), so this is
    # the byte-identical double jaccard_pairs computes — when banding recall
    # is 1.0 the two operators' outputs are value-identical
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= tau)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash(docs: DataFrame, n: int = 2, sh: DataFrame | None = None) -> DataFrame:
    """64-bit SimHash over word n-grams, fully native: per-bit sign of the
    sum of +-1 votes from xxhash64(shingle) bits. Output: (doc_id, simhash).
    ``sh`` optionally supplies a precomputed ``shingles(docs, n=n)`` frame
    (same-``n`` contract as jaccard_pairs).
    """
    src = sh if sh is not None else shingles(docs, n=n)
    s = src.select("doc_id", F.explode("shingles").alias("g"))
    s = s.withColumn("h", F.xxhash64("g"))
    votes = s.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(64):
        acc = acc + F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(0)
    return votes.select("doc_id", acc.alias("simhash"))


# Manku-style block layout for simhash_pairs: 64 bits -> 6 blocks
# (11,11,11,11,10,10).  A table key concatenates 3 blocks (>= 32 bits),
# one key per C(6,3)=20 block triples.
_SIMHASH_BLOCK_SIZES = (11, 11, 11, 11, 10, 10)
_SIMHASH_BLOCK_OFFSETS = (0, 11, 22, 33, 44, 54)
_SIMHASH_TRIPLES = tuple(
    (i, j, k) for i in range(6) for j in range(i + 1, 6) for k in range(j + 1, 6)
)


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, n: int = 2, sh: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate PAIRS by SimHash hamming distance — the classic
    web-dedup operator (Charikar-sig + Manku/Jain/Sarma multi-table probe,
    WWW'07 "Detecting near-duplicates for web crawling"), fully native:

    1. 64-bit simhash per doc (above),
    2. split into 6 blocks (11/11/11/11/10/10 bits); a pair with <= 3
       differing bits touches at most 3 blocks, so by PIGEONHOLE it agrees
       EXACTLY on >= 3 blocks — hence on at least one of the C(6,3)=20
       3-block concatenations.  Each doc emits 20 (table, key) rows where
       key is the >= 32-bit concatenation of that table's 3 blocks:
       lossless for max_hamming <= 3 AND scale-safe — expected bucket
       population is n/2^32 (vs n/2^16 for naive 4x16 banding, whose
       bucket self-join goes quadratic at web corpus sizes),
    3. key-bucket self-join carries only the LEAN (doc_id, band, value)
       rows — the 64-bit signatures are NOT shipped through the 20x
       fan-out; after the pair dedup they are re-joined by doc_id (the
       repo's standard LSH payload-de-amplification shape, same as
       minhash_lsh_pairs).  The triple reference to ``sig`` does NOT
       recompute the shingle scan + 64-column vote agg: AQE's exchange
       reuse collapses the identical aggregation exchanges (final plan
       shows 3 ReusedExchange nodes — pinned by pytest), so the corpus
       is scanned once,
    4. exact verify: bit_count(a XOR b) <= max_hamming, native bit math.

    No UDFs anywhere: signature, fan-out, join, and verify are all
    whole-stage-codegen expressions. Output: (doc_id_a, doc_id_b,
    hamming) with a < b."""
    if max_hamming > 3:
        raise ValueError("6-block/3-of-6 pigeonhole is lossless only for max_hamming <= 3")
    sig = simhash(docs, n=n, sh=sh)
    blk = [
        F.shiftrightunsigned(F.col("simhash"), _SIMHASH_BLOCK_OFFSETS[i]).bitwiseAND(
            F.lit((1 << _SIMHASH_BLOCK_SIZES[i]) - 1).cast("long")
        )
        for i in range(6)
    ]
    keys = [
        F.shiftleft(blk[i], _SIMHASH_BLOCK_SIZES[j] + _SIMHASH_BLOCK_SIZES[k])
        .bitwiseOR(F.shiftleft(blk[j], _SIMHASH_BLOCK_SIZES[k]))
        .bitwiseOR(blk[k])
        for (i, j, k) in _SIMHASH_TRIPLES
    ]
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*keys)).alias("band", "value"),
    )
    a = bands.select(F.col("doc_id").alias("doc_id_a"), "band", "value")
    b = bands.select(F.col("doc_id").alias("doc_id_b"), "band", "value")
    cand = (
        a.join(b, ["band", "value"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .join(
            sig.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sim_a")),
            "doc_id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sim_b")),
            "doc_id_b",
        )
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding similarity search
# ---------------------------------------------------------------------------


def cosine_topk(
    emb: DataFrame, probe_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the probe set, score with a
    vectorized pandas UDF (one numpy matmul per Arrow batch), rank with a
    window. Output: (query_id, rank, neighbor_id) — self-matches excluded,
    ties by neighbor_id. This is the exact baseline; lsh_cosine_topk is the
    approximate scale path.
    """
    probes = emb.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    pdf = probes.toPandas()  # tiny, broadcast below
    qids = pdf["query_id"].to_numpy()
    qmat = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    @pandas_udf("array<double>")
    def scores(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        mnorm = np.sqrt((m * m).sum(axis=1))
        # dot / (|a|*|b|) — same formula shape as the SQL oracle
        sims = (m @ qmat.T) / (mnorm[:, None] * qnorm[None, :])
        return pd.Series(list(sims))

    scored = emb.select(
        F.col(id_col).alias("neighbor_id"), scores(F.col(vec_col)).alias("sims")
    )
    exploded = scored.select(
        "neighbor_id", F.posexplode("sims").alias("qpos", "sim")
    ).withColumn(
        "query_id",
        F.element_at(F.array(*[F.lit(int(q)) for q in qids]), F.col("qpos") + 1),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        exploded.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def _exact_cosine_rerank(cand: DataFrame, k: int) -> DataFrame:
    """Exact float64 cosine re-rank of (query_id, id, vec, qvec) candidate
    rows — the final stage of every approximate top-k path. Output matches
    cosine_topk: (query_id, rank, neighbor_id), ties by neighbor id."""

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("id").asc())
    return (
        cand.withColumn("sim", cos(F.col("vec"), F.col("qvec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def ivf_cosine_topk(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 6,
    kmeans_iters: int = 8,
    train_cap: int = 20_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    other classic ANN scale path next to lsh_cosine_topk:

    1. train a coarse quantizer: deterministic k-means on a bounded sample
       (driver-side numpy; the codebook is tiny and broadcast),
    2. assign every vector to its nearest centroid (one Arrow-batched pass
       — at corpus scale this is the partitioning key of the index),
    3. probes scan only their n_probe closest lists; candidates are an
       equi-join on list_id, then exact cosine re-rank.

    Recall grows with n_probe (n_probe == n_lists is exhaustive). Output
    contract matches cosine_topk.
    """
    rng = np.random.default_rng(seed)
    # orderBy before limit: Spark's bare limit has no row-selection
    # guarantee, so the trained codebook (hence partial-probe recall) would
    # drift with partitioning/cluster layout. Ordering by id makes the
    # sample — and the docstring's determinism claim — actually hold.
    sample = emb.select(id_col, vec_col).orderBy(id_col).limit(train_cap).toPandas()
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    # k-means++-free deterministic init: evenly spaced sample rows
    cents = Xn[np.linspace(0, len(Xn) - 1, n_lists).astype(int)].copy()
    for _ in range(kmeans_iters):
        assign = (Xn @ cents.T).argmax(axis=1)  # cosine == dot on normalized
        for c in range(n_lists):
            m = assign == c
            if m.any():
                v = Xn[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
            else:  # dead list: reseed deterministically
                cents[c] = Xn[int(rng.integers(len(Xn)))]

    @pandas_udf("int")
    def list_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series((m @ cents.T).argmax(axis=1).astype(np.int32))

    indexed = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), list_of(F.col(vec_col)).alias("list_id")
    )
    probes = emb.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    pdfp = probes.toPandas()
    qm = np.stack(pdfp["qvec"].to_numpy()).astype(np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    top_lists = np.argsort(-(qm @ cents.T), axis=1)[:, :n_probe]
    probe_lists = [
        (int(q), [int(l) for l in ls]) for q, ls in zip(pdfp["query_id"], top_lists)
    ]
    pl = emb.sparkSession.createDataFrame(
        [(q, l) for q, ls in probe_lists for l in ls], "query_id long, list_id int"
    )
    cand = indexed.join(F.broadcast(pl), "list_id").filter(F.col("id") != F.col("query_id"))
    cand = cand.join(F.broadcast(probes), "query_id")
    return _exact_cosine_rerank(cand, k)


def auto_planes(n: int, target_bucket_rows: int = 1024) -> int:
    """Hyperplane count so a balanced table has ~n/2^planes =
    target_bucket_rows rows per bucket: the bucket self-join's candidate
    quadratic stays bounded as the corpus grows (2 planes = 4 buckets/table
    degenerates toward all-pairs on any real corpus). Floor of 2 keeps
    recall high on tiny tables; recall = 1-(1-p^planes)^tables with
    p = 1 - arccos(tau)/pi governs the tables knob."""
    return max(2, int(np.ceil(np.log2(max(1.0, n / target_bucket_rows)))))


def auto_tables(tau: float, n_planes: int, miss_target: float = 1e-6) -> int:
    """Hash-table count for a target per-pair miss probability: a true
    pair at cosine exactly tau collides per plane with
    p = 1 - arccos(tau)/pi (random-hyperplane LSH), per table with
    p^planes, and is missed by ALL tables with (1-p^planes)^T. Solving
    for T at the miss target gives the recall knob as a formula instead
    of a magic number — tau=0.3, planes=2, 1e-6 yields T=32, exactly the
    empirically recall-1.0 setting on the fixtures. Clamped to [4, 64]:
    below 4 the bound is meaninglessly loose, above 64 the fan-out cost
    exceeds what a wider bucket (fewer planes) buys."""
    p = 1.0 - np.arccos(np.clip(tau, -1.0, 1.0)) / np.pi
    per_table = p**n_planes
    if per_table >= 1.0:
        return 4
    t = int(np.ceil(np.log(miss_target) / np.log(1.0 - per_table)))
    return int(np.clip(t, 4, 64))


def auto_lsh_params(n: int, tau: float, target_bucket_rows: int = 1024) -> tuple[int, int]:
    """Co-solve (planes, tables): start from the bucket-size rule
    (auto_planes), then — because RECALL is the contract — widen the
    buckets (fewer planes, more candidate work) while the miss target
    would need more tables than the fan-out ceiling allows. The clamp in
    auto_tables is thus never the silent recall killer: it only binds
    when even 2 planes cannot meet the target (pathologically low tau)."""
    planes = auto_planes(n, target_bucket_rows)
    while planes > 2 and auto_tables(tau, planes) >= 64:
        planes -= 1
    return planes, auto_tables(tau, planes)


def embed_near_dup(
    emb: DataFrame,
    tau: float = 0.3,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "lsh",
    target_bucket_rows: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the corpus-dedup variant of
    lsh_cosine_topk's probe search). Output: (id_a, id_b, cos) with a < b.

    mode='exact' — the brute-force baseline (task brief): the normalized
    matrix is collected once (bounded: rows x dim doubles) and broadcast in
    the UDF closure; each Arrow batch does ONE matmul against it and emits
    its >= tau pairs. Exact by construction; right up to the point the
    matrix stops fitting an executor (~10^6 x 64 = 0.5 GB).

    mode='lsh' — the corpus-scale path: random-hyperplane buckets generate
    candidates, exact-cosine verify keeps pairs >= tau. A true pair is
    missed only if its vectors collide in NO table — recall
    1 - (1 - p^planes)^tables; the fixture pytest asserts lsh == exact for
    the defaults.

    Candidate VERIFICATION is bucket-local (r7 optimization): each
    (table, bucket) group screens its own vectors with ONE numpy matmul
    and emits only the >= tau pairs, deduplicated across tables afterward.
    The earlier shape — a lean (id, table, bucket) self-join producing a
    candidate-PAIR relation, pair dedup, then two joins to re-attach
    vectors and a per-pair cosine UDF — is quadratic in Spark rows: at
    tau=0.3 the per-plane collision probability of a RANDOM pair is 0.5
    vs 0.597 for a pair at tau, so the required table count makes nearly
    every pair collide somewhere (sf1.0: 99.96% of all C(20000,2) pairs
    became candidate rows; ~10^9 join rows and a ~200 GB pair-grain
    vector materialization, measured 101 s in the round-6 driver record).
    Shipping each vector once per table (T x n x dim bytes, LINEAR in n)
    and verifying inside the bucket turns that into Sum-over-buckets
    count^2 dgemm flops — the candidate set, the verified pair set, and
    every cos value are IDENTICAL by construction (same buckets, exact
    verify, elementwise-recomputed cosines).

    n_planes=None auto-sizes from the corpus count so buckets stay small
    as the table grows: planes = max(2, ceil(log2(n / target_bucket_rows))),
    i.e. expected bucket population ~target_bucket_rows under a balanced
    hash. At n_planes=2 a table has only 4 buckets and the self-join
    degenerates toward all-pairs on a large corpus; the auto rule keeps the
    per-bucket candidate quadratic bounded while recall stays governed by
    1-(1-p^planes)^tables with p = 1 - arccos(tau)/pi."""
    # null embeddings can never pair; drop them up front — np.stack inside
    # the signature/cosine UDFs would otherwise crash on a mixed batch
    # (review r5 pass 2 #2)
    emb = emb.filter(F.col(vec_col).isNotNull())
    if mode == "exact":
        return _embed_near_dup_exact(emb, tau, id_col, vec_col)

    def _empty_pairs() -> DataFrame:
        from pyspark.sql import types as T

        id_t = emb.schema[id_col].dataType
        return emb.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id_a", id_t),
                    T.StructField("id_b", id_t),
                    T.StructField("cos", T.DoubleType()),
                ]
            ),
        )

    if n_planes is None or n_tables is None:
        # one aggregation job feeds both knobs (count + an example vector);
        # separate count()/first() actions would re-run the upstream scan
        row = emb.agg(
            F.count(F.lit(1)).alias("n"),
            # ignorenulls: a leading null embedding must not masquerade as
            # an empty table (review r5 — that would silently drop pairs)
            F.first(vec_col, ignorenulls=True).alias("v"),
        ).first()
        if row is None or not row["n"] or row["v"] is None:
            return _empty_pairs()  # empty / all-null table: no pairs by definition
        n, dim = int(row["n"]), len(row["v"])
        auto_p, auto_t = auto_lsh_params(n, tau, target_bucket_rows)
        if n_planes is None:
            n_planes = auto_p
        if n_tables is None:
            n_tables = auto_tables(tau, n_planes)
    else:
        first = emb.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if first is None or first[0] is None:
            return _empty_pairs()
        dim = len(first[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))

    @pandas_udf("array<long>")
    def signatures(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (np.einsum("tpd,bd->btp", planes, m) > 0).astype(np.int64)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        packed = (bits * weights).sum(axis=2)
        return pd.Series([list(row) for row in packed])

    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        signatures(F.col(vec_col)).alias("sig"),
    ).select("id", "vec", F.posexplode("sig").alias("table", "bucket"))

    from pyspark.sql import types as T

    id_t = emb.schema[id_col].dataType
    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_t),
            T.StructField("id_b", id_t),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0], "cos": np.zeros(0)})
        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        norms = np.linalg.norm(X, axis=1)
        out_a, out_b, out_c = [], [], []
        # row-chunked screen bounds peak memory at chunk x bucket doubles
        # even for a degenerate all-one-bucket table
        for c0 in range(0, len(ids), 2048):
            c1 = min(c0 + 2048, len(ids))
            S = Xn[c0:c1] @ Xn.T  # matmul as SCREEN only (see exact path)
            ai, bi = np.nonzero((S >= tau - 1e-9) & (ids[c0:c1, None] < ids[None, :]))
            ai = ai + c0
            # canonical elementwise recompute — the formulation the exact
            # path and the oracle use; a matmul's blocked accumulation can
            # differ in the last ulp, enough to flip a micro-int boundary
            num = (X[ai] * X[bi]).sum(axis=1)
            cos = num / (norms[ai] * norms[bi])
            keep = cos >= tau
            out_a.append(ids[ai[keep]])
            out_b.append(ids[bi[keep]])
            out_c.append(cos[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    # a pair surviving in several tables carries the bit-identical cos in
    # each (same raw vectors, same elementwise expression), so the dedup
    # can keep any one row
    return (
        sig.groupBy("table", "bucket")
        .applyInPandas(verify_bucket, pair_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _embed_near_dup_exact(emb: DataFrame, tau: float, id_col: str, vec_col: str) -> DataFrame:
    rows = emb.select(id_col, vec_col).collect()  # bounded table (see docstring)
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    norms_m = np.linalg.norm(M, axis=1)

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy().astype(np.int64)
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ Mn.T  # (batch, n) — one matmul per Arrow batch, as SCREEN
            # screen slightly below tau, then recompute kept pairs with the
            # CANONICAL elementwise formulation ((x*y).sum/(|x||y|)) — the
            # one the LSH verify UDF and the oracle use. A matmul's
            # blocked accumulation can differ in the last ulp, enough to
            # flip a micro-int at a 1e-6 boundary.
            bi, ci = np.nonzero((S >= tau - 1e-9) & (ids[:, None] < all_ids[None, :]))
            xa, xb = X[bi], M[ci]
            num = (xa * xb).sum(axis=1)
            den = np.linalg.norm(xa, axis=1) * norms_m[ci]
            cos = num / den
            keep = cos >= tau
            yield pd.DataFrame(
                {"id_a": ids[bi[keep]], "id_b": all_ids[ci[keep]], "cos": cos[keep]}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        gen, schema="id_a long, id_b long, cos double"
    )


def lsh_cosine_topk(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH: n_tables
    signatures of n_planes sign bits; candidates = bucket collisions in any
    table; exact re-rank of candidates only. At 10^12 scale the bucket join
    replaces the full scan; here the pytest asserts recall vs cosine_topk.
    """
    rng = np.random.default_rng(seed)
    first = emb.select(vec_col).first()[0]
    dim = len(first)
    planes = rng.normal(size=(n_tables, n_planes, dim))

    @pandas_udf("array<long>")
    def signatures(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (b, dim)
        sigs = []
        bits = (np.einsum("tpd,bd->btp", planes, m) > 0).astype(np.int64)  # (b,t,p)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        packed = (bits * weights).sum(axis=2)  # (b, t)
        for row in packed:
            sigs.append(list(row))
        return pd.Series(sigs)

    # the n_tables-way posexplode and the bucket join carry ONLY
    # (id, table, bucket) — embedding vectors must not ride the fan-out
    # (round-1 weakness: ~n_tables x payload shuffle amplification).
    # Vectors are re-attached by id for the deduplicated candidates only.
    sig = emb.select(
        F.col(id_col).alias("id"), signatures(F.col(vec_col)).alias("sig")
    ).select("id", F.posexplode("sig").alias("table", "bucket"))

    probes = sig.filter(F.col("id").isin(probe_ids)).select(
        "table", "bucket", F.col("id").alias("query_id")
    )
    cand = (
        sig.join(F.broadcast(probes), ["table", "bucket"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "id")
        .dropDuplicates(["query_id", "id"])
    )
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    qvecs = emb.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cand = cand.join(vecs, "id").join(F.broadcast(qvecs), "query_id")
    return _exact_cosine_rerank(cand, k)


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: (id, qvec:binary,
    scale:float). At the 10^12-row design point the float32 embedding
    column dominates ANN scan cost; int8 cuts bytes 4x while symmetric
    per-vector scaling (scale = max|x|/127) keeps cosine rank order
    nearly intact — the standard product-scan compromise. Dequantized
    value = int8 * scale."""

    @pandas_udf("struct<qvec: binary, scale: double>")
    def quant(vecs: pd.Series) -> pd.DataFrame:
        # one stacked matrix per Arrow batch (dims are uniform per table);
        # the only per-row work left is the int8 tobytes conversion
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        s = np.abs(m).max(axis=1) / 127.0
        s[s == 0.0] = 1.0
        qm = np.clip(np.round(m / s[:, None]), -127, 127).astype(np.int8)
        return pd.DataFrame({"qvec": [row.tobytes() for row in qm], "scale": s})

    q = emb.select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("q"))
    return q.select("id", F.col("q.qvec").alias("qvec"), F.col("q.scale").alias("scale"))


def _quantized_screen(q: DataFrame, p_ids, p_n, m_keep: int) -> DataFrame:
    """The int8 screen stage of quantized_cosine_topk with per-BATCH
    partial top-k: each Arrow batch emits only its own top ``m_keep``
    candidates per probe (ordered by the SAME (sim desc, id asc) key the
    downstream global window uses, so boundary ties resolve identically).
    The union of per-batch top-m sets is a superset of the global top-m,
    so the window rank downstream returns the bit-identical result while
    its input shrinks from n*p rows to (n/batch_size)*m_keep*p — at the
    10^12-row design point that is the difference between shuffling
    2.5e13 rows and ~1e9.  ``q`` is quantize_embeddings output; ``p_ids``
    int64 probe ids, ``p_n`` the L2-normalized probe matrix."""
    n_probes = int(p_ids.shape[0])

    def screen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [
                    np.frombuffer(bq, dtype=np.int8).astype(np.float64) * s
                    for bq, s in zip(pdf["qvec"], pdf["scale"])
                ]
            )
            mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            simm = mn @ p_n.T  # (batch, probes)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # a probe is never its own neighbor: mask BEFORE the top-m cut
            # (masking after could leave a batch short of m_keep real rows)
            simm[ids[:, None] == p_ids[None, :]] = -np.inf
            t = min(m_keep, simm.shape[0])
            out_ids, out_qids, out_sims = [], [], []
            for j in range(n_probes):
                # lexsort: last key is primary -> (-sim, id) = sim desc, id asc
                order = np.lexsort((ids, -simm[:, j]))[:t]
                keep_sims = simm[order, j]
                good = keep_sims > -np.inf
                out_ids.append(ids[order][good])
                out_sims.append(keep_sims[good])
                out_qids.append(np.full(int(good.sum()), p_ids[j], dtype=np.int64))
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_ids),
                    "query_id": np.concatenate(out_qids),
                    "sim": np.concatenate(out_sims),
                }
            )

    return q.mapInPandas(screen, "id bigint, query_id bigint, sim double")


def quantized_cosine_topk(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """cosine_topk over the int8-quantized table: candidates scored on
    dequantized int8 (4x less memory traffic per scan); with
    ``rerank > 0``, the top rerank quantized candidates per probe are
    re-scored on the float vectors (the standard two-stage ANN shape) so
    the final top-k recovers exact-rank order when quantization flips
    neighbors. The screen applies per-Arrow-batch partial top-k (see
    _quantized_screen) so the rank window never sees the full n*p score
    explosion. Output schema matches cosine_topk."""
    if rerank:
        # a rerank pool smaller than k could never fill k neighbors —
        # the float stage can only reorder what the int8 screen kept
        rerank = max(rerank, k)
    # a null embedding would crash the vectorized np.stack inside the
    # quantization UDF with an opaque shape error — drop such rows up
    # front (same guard embed_near_dup applies)
    emb = emb.filter(F.col(vec_col).isNotNull())
    q = quantize_embeddings(emb, id_col, vec_col)
    # quantize ONLY the probe rows for the broadcast side — filtering the
    # already-quantized frame would trigger a full-table quantization pass
    # just to fetch k probe rows (per-vector quantization is independent,
    # so the filtered recompute is bit-identical)
    probes = quantize_embeddings(
        emb.filter(F.col(id_col).isin(probe_ids)), id_col, vec_col
    ).toPandas()
    p_ids = probes["id"].to_numpy(dtype=np.int64)
    p_mat = np.stack(
        [
            np.frombuffer(bq, dtype=np.int8).astype(np.float64) * s
            for bq, s in zip(probes["qvec"], probes["scale"])
        ]
    )
    p_n = p_mat / np.linalg.norm(p_mat, axis=1, keepdims=True)

    m_keep = rerank if rerank else k
    cand = _quantized_screen(q, p_ids, p_n, m_keep)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("id").asc())
    ranked = cand.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "rank", F.col("id").alias("neighbor_id")
        )
    # two-stage: keep the quantized top `rerank`, re-score on floats
    keep = ranked.filter(F.col("rank") <= rerank).select("query_id", "id")
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    qvecs = emb.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = keep.join(vecs, "id").join(F.broadcast(qvecs), "query_id")
    return _exact_cosine_rerank(joined, k)
