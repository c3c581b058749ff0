"""LLM-data-pipeline tier (SURVEY §2.C): dedup, similarity search,
text analysis and typed-metadata queries over ``documents`` /
``embeddings`` — the operators a 100 TB training-data pipeline
needs. The reference has none of this surface (SURVEY §2.B); these
derive from the north-star mandate, built on the same tokenizer the
Tier-1 queries trace to the reference (main.c:22-27).

Scale notes per operator are in docstrings; the common rules:
- candidate generation before O(n²) work (LSH in dedup.py is the
  scale path; the quadratic forms here exist as oracles/baselines
  and are explicitly subset- or threshold-bounded),
- array math via higher-order functions (JVM, codegen),
- deterministic outputs: integer arithmetic or round(·, 6), total
  orderings with key tiebreaks.

Integer vector-search kernel (the section headed by PQ_INT_SCALE):
quantize → centroid sample → per-centroid distances → IVF
candidates → integer cosine → top-k per query, plus the Lloyd round
and the PQ sub-space sums, each written once. The oracle-exact IVF,
PQ and IVF-PQ entries, k-means, the recall report and retrain loop,
Matryoshka overlap, SemDeDup, MMR, binary re-rank, embedding
decontamination and ``streaming.stream_ivf_assign`` compose them.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..session import track_persist
from ..functions.text import token_windows, tokens
from ..functions.vectors import cosine_similarity
from ..scratch import scratch_dir

TFIDF_K = 5
SIM_K = 5
SIM_N_QUERIES = 10
EMB_DEDUP_THRESHOLD = 0.40  # fixture cosine max is ~0.46
NGRAM_JACCARD_THRESHOLD = 0.8
# dedup_ngram is an exact ground-truth baseline over a bounded doc
# sample (recall measurement for the approximate paths), never a
# corpus-scale operator — see its docstring.
NGRAM_EXACT_MAX_DOCS = 500
FP_MOD = 1_000_000_007
FP_BASE = 31

# Tiny per-language marker lexicon for the language-ID heuristic.
# Deterministic toy lexicon over the fixture vocabulary — the Spark
# shape (broadcast lexicon join + per-doc argmax) is the point; a
# real pipeline swaps in character-n-gram tables.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "key", "order"),
    "de": ("sort", "table", "scan"),
    "es": ("merge", "part", "window"),
    "fr": ("small", "hash", "join"),
    "zh": ("batch", "stream", "spark"),
}


def _docs_tokens_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, token) — posexplode keeps token order for
    n-gram construction. Narrow op, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )


# --- deduplication ---------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → sha2-256 → keep the lowest doc_id
    per hash. At scale this is one hash-shuffle on the digest (a
    64-hex key distributes uniformly — no skew); the window is
    bounded per digest group.

    Output: text_hash, keeper_doc_id, n_copies.
    """
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("text_hash")
    )
    return hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _cross_source_matrix(docs: DataFrame, fp: Column) -> DataFrame:
    """Shared kernel: per-fingerprint per-source counts folded into
    an ordered source-pair matrix — see cross_source_dup_matrix."""
    per = (
        docs.select(fp.alias("h"), "source")
        .groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # fold each hash's (source, n) list into ordered-pair cells:
    # within-source n·(n−1)/2, cross-source n_a·n_b for a < b
    grouped = per.groupBy("h").agg(
        F.sort_array(F.collect_list(F.struct("source", "n"))).alias("sn")
    )
    cells = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(sn, (x, i) -> concat("
                "array(named_struct('source_a', x.source, 'source_b', x.source,"
                "      'p', x.n * (x.n - 1) DIV 2)),"
                "transform(slice(sn, i + 2, size(sn)), y ->"
                "  named_struct('source_a', x.source, 'source_b', y.source,"
                "               'p', x.n * y.n)))))"
            )
        ).alias("c")
    ).select("c.source_a", "c.source_b", "c.p")
    return (
        cells.groupBy("source_a", "source_b")
        .agg(F.sum("p").alias("n_dup_pairs"))
        .where(F.col("n_dup_pairs") > 0)
        .orderBy("source_a", "source_b")
    )


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE duplication matrix — the provenance signal a
    curation pipeline reads before setting per-source dedup policy
    (CCNet/RefinedWeb-style source analysis): for every ordered
    source pair (a ≤ b), how many DOC PAIRS sharing a fingerprint
    span them. High off-diagonal cells mean sources mirror each
    other (dedup across them first); high diagonal cells mean a
    source repeats itself.

    The registered fingerprint is the TEMPLATE_PREFIX_N-token
    opening prefix (the ``template_prefix_audit`` notion — shared
    boilerplate openings, substantive at every fixture sf); the
    exact-text sha2 notion runs through the same kernel seam and is
    pinned by a planted-dup pytest (the fixtures are exact-dup-free
    at the driver's sf, where an exact matrix would be trivially
    empty).

    The scale trick: pair counts are computed ARITHMETICALLY from
    per-(fingerprint, source) counts — n_a·n_b across sources,
    n·(n−1)/2 within — never by materializing pairs, so a
    boilerplate fingerprint shared by 10⁶ docs costs one row per
    source it appears in, not 10¹² join rows. Two
    map-side-combinable aggregates + one per-fingerprint list fold
    (group width ≤ |sources|, a constant).

    Output: source_a, source_b, n_dup_pairs (BIGINT, > 0 rows only).
    """
    docs = table(spark, sf_dir, "documents")
    fp = F.array_join(
        F.slice(tokens("text"), 1, TEMPLATE_PREFIX_N), " "
    )
    return _cross_source_matrix(docs, fp)


def _cross_source_dup_sql() -> str:
    return f"""
WITH per AS (
  SELECT array_to_string(
           list_filter(regexp_split_to_array(text, '\\s+'),
                       t -> t <> '')[1:{TEMPLATE_PREFIX_N}], ' ') AS h,
         source, count(*)::BIGINT AS n
  FROM documents GROUP BY 1, 2
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
              ELSE a.n * b.n END AS p
  FROM per a JOIN per b
    ON b.h = a.h AND a.source <= b.source
)
SELECT source_a, source_b, sum(p)::BIGINT AS n_dup_pairs
FROM pairs
GROUP BY 1, 2
HAVING sum(p) > 0
ORDER BY 1, 2
"""



def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-Jaccard near-dup pairs — EXACT BASELINE, deliberately
    bounded to the first NGRAM_EXACT_MAX_DOCS doc_ids. This query is
    an oracle-checkable ground-truth generator (the thing you run on
    a SAMPLE to measure an approximate dedup's recall), not a
    corpus-scale operator; calling it unbounded on a dense-sharing
    corpus is quadratic by construction. The 100 TB path is
    dedup_minhash (dedup.py): banded MinHash makes candidate
    generation subquadratic regardless of sharing density.

    Candidate pairs come from an equi-join on shared bigrams — only
    docs sharing at least one bigram are compared, never all pairs.

    Output: a_id, b_id, jaccard (round 6), for jaccard ≥ 0.8.
    """
    bigrams = (
        _bigram_df(spark, sf_dir)
        .filter(F.col("doc_id") < NGRAM_EXACT_MAX_DOCS)
        .select("doc_id", "bigram")
        .distinct()
    )
    sizes = bigrams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bg"))
    a, b = bigrams.alias("a"), bigrams.alias("b")
    shared = (
        a.join(b, (F.col("a.bigram") == F.col("b.bigram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_bg").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_bg").alias("nb"))
    return (
        shared.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


EMB_BLOCK = 256  # vectors per GEMM block (256×64 f64 ≈ 128 KB; small enough that the tile triangle saturates task slots even at modest corpus sizes)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold.

    Exact all-pairs baseline (oracle-checkable), executed as a
    *distributed blocked matrix multiply*: vectors pack into
    EMB_BLOCK-row blocks, the (tiny) block×block upper triangle
    cross-joins, and each task computes one block-pair cosine matrix
    with vectorized float64 NumPy (BLAS GEMM) inside mapInPandas —
    ~100× the throughput of per-pair array folds, with no driver
    collect and no broadcast of the corpus. The UDF prefilters with
    a 1e-4 margin; the EXACT round(·,6) + threshold happens JVM-side
    so the oracle comparison semantics are Catalyst's, not NumPy's.

    At 100 TB the O(n²) block triangle is off the table no matter
    how fast each tile is — the scale path is LSH candidate
    generation (dedup.py); THIS form is what verifies those
    approximations' recall on samples.

    Output: a_id, b_id, cos_sim (round 6) for cos ≥ threshold.
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / EMB_BLOCK).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vs"))
    )
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("vs").alias("vs_a"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("vs").alias("vs_b"))
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    margin = EMB_DEDUP_THRESHOLD - 1e-4

    def _tile_cosine(batches):
        def unpack(vs):
            ids = np.fromiter((r["vec_id"] for r in vs), dtype=np.int64)
            mat = np.array([r["embedding"] for r in vs], dtype=np.float64)
            return ids, mat

        for pdf in batches:
            for _, row in pdf.iterrows():
                ia, ma = unpack(row["vs_a"])
                ib, mb = unpack(row["vs_b"])
                sims = (ma @ mb.T) / np.outer(
                    np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1)
                )
                mask = (sims >= margin) & (ia[:, None] < ib[None, :])
                ai, bi = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "a_id": ia[ai],
                        "b_id": ib[bi],
                        "raw_sim": sims[ai, bi],
                    }
                )

    hits = tiles.mapInPandas(
        _tile_cosine, schema="a_id long, b_id long, raw_sim double"
    )
    return (
        hits.select(
            "a_id", "b_id", F.round("raw_sim", 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= EMB_DEDUP_THRESHOLD)
    )


# --- similarity search -----------------------------------------------------


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the first SIM_N_QUERIES vectors are
    the query set, broadcast against the full corpus; per-query
    top-SIM_K by (rounded sim desc, vec_id asc).

    Scale shape: the query side is small and broadcast — the corpus
    never shuffles; per-partition partial top-k via the rank window
    on a (query_id)-partitioned window whose state is k rows. An
    IVF/LSH variant for huge corpora is dedup.py's bucketed join.

    Output: query_id, neighbor_id, cos_sim.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < SIM_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        q.join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("qe", "embedding"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SIM_K)
        .drop("rn")
    )


# Fixed coarse-centroid count, independent of corpus size (a deploy
# sets K ≈ √n as a config constant and trains k-means at the same
# seam). nprobe/K is the recall knob: the synthetic embeddings are
# near-uniform (no cluster structure), so recall tracks the probed
# fraction — nprobe 8 of 16 cells ≈ half the corpus scored per query,
# which the recall test bounds from below.
IVF_K = 16
IVF_NPROBE = 8


# Kept beside the oracle-exact similarity_ann_ivf_int, measured warm in a
# get_spark session on 4 vCPUs at sf0.1 (median of 3, call + noop write):
# 1.09 s against the twin's 1.17 s (1.03 s against 1.45 s in an earlier
# run).
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the scale
    path next to the brute-force ``similarity_topk`` baseline.

    Structure (classic IVF, all deterministic):
    1. coarse centroids: the IVF_K vectors with the smallest
       ``xxhash64(vec_id)`` — a deterministic uniform sample whose
       size is FIXED at K regardless of corpus size, selected via
       TakeOrderedAndProject (per-partition top-K, no full sort). A
       real deploy trains k-means; the partition/probe dataflow is
       identical and this seam is where it plugs in;
    2. assignment: each corpus vector joins its nearest centroid →
       an inverted list per cell. Centroids broadcast (O(K) rows,
       constant); assignment cost is O(n·K) GEMM and the corpus
       never shuffles for assignment;
    3. probe: each query scores only the cells of its IVF_NPROBE
       nearest centroids — the candidate set is |cells probed| ×
       avg cell size instead of the whole corpus;
    4. exact cosine re-rank of candidates, per-query top-k window.

    Assignment runs as the blocked GEMM of ``dedup_embedding``
    (corpus blocks × a broadcast centroid block). At 100 TB the
    inverted lists become the partitioning key for the index write —
    probing then prunes partitions at scan time. Rows-only driver
    check; recall@k vs the exact baseline is asserted in tests.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_block = (
        emb.orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(IVF_K)
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("cs"))
    )
    return _ivf_pipeline(spark, sf_dir, cent_block, IVF_NPROBE)


def _ivf_pipeline(
    spark: SparkSession, sf_dir: str, cent_block: DataFrame, nprobe: int
) -> DataFrame:
    """Steps 2-4 of the IVF dataflow (assignment GEMM → inverted
    lists → probe → exact re-rank), shared by the hash-sample and
    k-means-trained coarse quantizers. ``cent_block`` is one row
    holding the centroid structs; any (id, vector) set works."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # nearest-centroid ranking via blocked GEMM (corpus blocks ×
    # one centroid block — same tile pattern as dedup_embedding;
    # an expression-cosine cross join recomputes the fold per pair
    # interpreted and was ~4× slower). Ties break on cent_id asc.
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / EMB_BLOCK).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vs"))
    )
    tiles = blocks.crossJoin(F.broadcast(cent_block))

    def _assign(batches):
        def unpack(vs):
            ids = np.fromiter((r["vec_id"] for r in vs), dtype=np.int64)
            mat = np.array([r["embedding"] for r in vs], dtype=np.float64)
            return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)

        for pdf in batches:
            for _, row in pdf.iterrows():
                vids, vm = unpack(row["vs"])
                cids, cm = unpack(row["cs"])
                raw = [r["embedding"] for r in row["vs"]]  # pass-through
                sims = vm @ cm.T
                # stable (-sim, cent_id) order per vector
                order = np.lexsort((np.broadcast_to(cids, sims.shape), -sims), axis=1)
                out_ids, out_cells, out_ranks, out_embs = [], [], [], []
                for i, vid in enumerate(vids):
                    n_cells = nprobe if vid < SIM_N_QUERIES else 1
                    for r in range(min(n_cells, len(cids))):
                        out_ids.append(vid)
                        out_cells.append(cids[order[i, r]])
                        out_ranks.append(r + 1)
                        out_embs.append(raw[i])
                yield pd.DataFrame(
                    {
                        "vec_id": out_ids,
                        "cell": out_cells,
                        "crank": out_ranks,
                        "embedding": out_embs,
                    }
                )

    # The assignment passes each vector's embedding THROUGH (untouched
    # float32 values, so downstream cosine is bit-identical) instead
    # of re-joining the corpus by vec_id on both branches — the r3
    # shape cost two shuffle joins + two extra scans just to re-attach
    # what the GEMM stage already held. ranked feeds both the index
    # (crank==1) and the probe branch — persist the diamond so the
    # GEMM runs once (different downstream filters defeat exchange
    # reuse); spillable level, same policy as dedup_minhash's shingles
    ranked = track_persist(
        tiles.mapInPandas(
            _assign,
            schema="vec_id long, cell long, crank int, embedding array<float>",
        )
    )

    index = ranked.filter(F.col("crank") == 1).select(
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
    )
    probes = ranked.filter(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "cell",
    )

    cands = probes.join(index, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    rerank = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qe", "ne"), 6).alias("cos_sim"),
    )
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rerank.withColumn("rn", F.row_number().over(topw))
        .filter(F.col("rn") <= SIM_K)
        .drop("rn")
    )


EMB_DIM = 64
CENTROID_SCALE = 1_000_000  # micro-units: exact integer sums


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the pooling primitive behind
    class prototypes, cluster summaries, and k-means seeding for the
    IVF index (``similarity_ann_ivf``'s documented training seam).

    Shape: the EMB_DIM per-dimension sums are EMB_DIM aggregate
    expressions over ONE (label) hash aggregate — the simhash trick
    again: map-side partial aggregation, and the shuffle carries
    |labels| rows of 65 longs, not an exploded (row × dim) stream.
    The wide row unpivots to (label, dim, centroid) with ``stack``
    AFTER the aggregate, where it's |labels|·EMB_DIM rows, not
    n·EMB_DIM.

    Float determinism (module policy): each float32 element
    quantizes to exact micro-unit longs before summing — integer
    addition is order-free, so the result is identical whatever the
    combine order — and converts to double in one final division
    both engines perform on identical integers.

    Output: label, dim, centroid.
    """
    emb = table(spark, sf_dir, "embeddings").select("label", "embedding")
    sums = [
        F.sum(
            F.round(F.col("embedding")[i].cast("double") * CENTROID_SCALE).cast(
                "long"
            )
        ).alias(f"s{i}")
        for i in range(EMB_DIM)
    ]
    agg = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"), *sums)
    stack_args = ", ".join(f"{i}L, s{i}" for i in range(EMB_DIM))
    return agg.select(
        "label",
        F.expr(f"stack({EMB_DIM}, {stack_args}) AS (dim, s)"),
        "n",
    ).select(
        "label",
        "dim",
        (F.col("s") / (F.lit(float(CENTROID_SCALE)) * F.col("n"))).alias(
            "centroid"
        ),
    )


KMEANS_K = 8
KMEANS_ITERS = 3
KM_SCALE = 1_000_000  # micro-unit quantization: all k-means math on exact longs


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embeddings — the
    training step behind the IVF index's coarse centroids
    (``similarity_ann_ivf``'s documented k-means seam) and the
    cluster-then-curate pattern (semantic dedup, diversity sampling)
    an LLM data pipeline runs on embedding spaces.

    Fully value-checked against an unrolled SQL oracle, which is
    only possible because every step is EXACT integer arithmetic:

    - vectors quantize to micro-unit longs once up front — integer
      distance sums are combine-order-free, so no float-association
      drift between engines or partitionings;
    - init = the KMEANS_K vectors with the smallest
      ``md5(vec_id)`` (md5 because BOTH engines can compute it on
      identical strings — a deterministic uniform hash-sample,
      selected via TakeOrderedAndProject);
    - assignment = argmin of squared-L2 in micro² longs, ties by
      cluster id;
    - update = per-dimension integer mean re-quantized to longs
      (``_lloyd``).

    Scale shape: assignment is fully NARROW (``_nearest_centroid``:
    one broadcast centroid row, ``array_min`` over per-centroid
    (d2, cid) structs); each round adds the centroid update's
    aggregates and localCheckpoints the K-row result; the training
    corpus is a SAMPLE by construction — production trains on a
    bounded sample exactly like this, then assigns the full corpus.

    Output: vec_id, cluster, dist (squared L2 in micro² units).
    """
    vecs = _quantize(table(spark, sf_dir, "embeddings"), KM_SCALE)
    # pass vecs through so the training loop and this final assignment
    # share one persisted corpus (identical plan -> one cache entry)
    return _nearest_centroid(vecs, _kmeans_cents(spark, sf_dir, vecs)).select(
        "vec_id", F.col("cid").alias("cluster"), "dist"
    )


def _kmeans_cents(
    spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None
) -> DataFrame:
    """Lloyd-trained centroids (cid, cq micro-unit longs) after
    KMEANS_ITERS rounds from the md5 hash-sample init — the shared
    coarse quantizer for embedding_kmeans and the trained IVF.

    The corpus is PERSISTED once: without it, the nested
    per-iteration plans rescan the embeddings KMEANS_ITERS+1 times
    (three extra corpus scans at 100 TB)."""
    if vecs is None:
        vecs = _quantize(table(spark, sf_dir, "embeddings"), KM_SCALE)
    vecs = track_persist(vecs)
    return _lloyd(vecs, _centroid_sample(vecs, KMEANS_K), KMEANS_ITERS)


def similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — the k-means seam
    both ``similarity_ann_ivf`` and ``embedding_kmeans`` document,
    closed: Lloyd-trained centroids (``_kmeans_cents``, KMEANS_K
    cells after KMEANS_ITERS exact-integer rounds) replace the
    hash-sampled vectors, and the identical partition/probe/re-rank
    dataflow (``_ivf_pipeline``) runs on top. Trained cells track
    the corpus density, so the same probe budget buys higher recall
    — asserted against the hash-sample variant in tests. nprobe is
    lower (cells are fewer and fatter: K=KMEANS_K vs IVF_K).

    Rows-only driver check, like the other ANN entries; recall
    lives in tests/test_llm.py.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    cents = _kmeans_cents(spark, sf_dir)
    cent_block = cents.select(
        F.col("cid").alias("vec_id"),
        F.transform("cq", lambda x: x.cast("double") / KM_SCALE).alias("embedding"),
    ).agg(F.collect_list(F.struct("vec_id", "embedding")).alias("cs"))
    return _ivf_pipeline(spark, sf_dir, cent_block, IVF_TRAINED_NPROBE)


IVF_TRAINED_NPROBE = 3  # of KMEANS_K=8 trained cells


# --- product quantization --------------------------------------------------

PQ_M = 8  # subspaces: 64 dims → 8 sub-vectors of 8 dims
PQ_K = 16  # codes per subspace → 8×4 bits = 4 bytes per vector
# ADC candidates re-ranked exactly per query. Generous (10·k) because
# the synthetic embeddings are near-uniform — the no-structure worst
# case for quantization; real embedding corpora cluster, and the
# standard practice is candidates ≈ 2-10× k.
PQ_CAND = 10 * SIM_K


# Kept beside the oracle-exact similarity_pq_int, measured warm in a
# get_spark session on 4 vCPUs at sf0.1 (median of 3, call + noop write):
# 0.74 s against the twin's 2.88 s.
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11) — the third ANN family
    next to IVF (cell pruning) and LSH (hash banding), and the one
    that attacks MEMORY: each corpus vector compresses to PQ_M
    codes (4 bytes here vs 256 bytes of f32), so a 100 TB corpus'
    index fits in RAM and the scan is a table lookup, not a GEMM.

    Dataflow, all deterministic:
    1. codebook: PQ_K hash-sampled vectors (smallest
       ``xxhash64(vec_id)``; the Lloyd seam of
       ``similarity_ann_ivf_trained`` plugs in identically), their
       m-th sub-vectors forming subspace m's centroids; vectors are
       L2-normalized first so inner product == cosine;
    2. encode: per corpus block (the ``EMB_BLOCK`` tiling of
       ``dedup_embedding``), each vector's sub-vector m maps to its
       nearest centroid (L2, ties → lowest code) — one narrow
       mapInPandas pass, no shuffle;
    3. ADC scoring: per query, an M×K lookup table of
       query-subvector · centroid inner products; a vector's
       approximate cosine is the sum of M table lookups over its
       codes. Per-block partial top-PQ_CAND per query bounds the
       shuffle to blocks × queries × PQ_CAND rows (a global top-k
       element is top-k within its own block, so per-block top-k
       loses nothing);
    4. exact re-rank: the global top-PQ_CAND candidates per query
       re-score with true cosine; top-SIM_K wins.

    Rows-only driver check like the other ANN entries; recall@k vs
    the brute-force baseline is asserted in tests.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook = (
        emb.orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(PQ_K)
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("cb"))
    )
    queries = (
        emb.filter(F.col("vec_id") < SIM_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        .agg(F.collect_list(F.struct("query_id", "qe")).alias("qs"))
    )
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / EMB_BLOCK).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vs"))
    )
    tiles = blocks.crossJoin(F.broadcast(codebook)).crossJoin(
        F.broadcast(queries)
    )

    def _norm_rows(mat: "np.ndarray") -> "np.ndarray":
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return mat / n

    def _adc(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids = np.fromiter(
                    (r["vec_id"] for r in row["vs"]), dtype=np.int64
                )
                mat = _norm_rows(
                    np.array([r["embedding"] for r in row["vs"]], np.float64)
                )
                cb = _norm_rows(
                    np.array([r["embedding"] for r in row["cb"]], np.float64)
                )
                qids = np.fromiter(
                    (r["query_id"] for r in row["qs"]), dtype=np.int64
                )
                qm = _norm_rows(
                    np.array([r["qe"] for r in row["qs"]], np.float64)
                )
                d = mat.shape[1] // PQ_M
                # encode: codes[b, m] = nearest centroid of subvec m
                codes = np.empty((len(ids), PQ_M), dtype=np.int64)
                for m in range(PQ_M):
                    sub = mat[:, m * d : (m + 1) * d]
                    csub = cb[:, m * d : (m + 1) * d]
                    d2 = (
                        (sub * sub).sum(1)[:, None]
                        - 2.0 * (sub @ csub.T)
                        + (csub * csub).sum(1)[None, :]
                    )
                    codes[:, m] = np.argmin(d2, axis=1)  # ties → low code
                # ADC: lut[q, m, k] = q_subvec · centroid_subvec
                for qi, qid in enumerate(qids):
                    approx = np.zeros(len(ids))
                    for m in range(PQ_M):
                        lut = (
                            cb[:, m * d : (m + 1) * d]
                            @ qm[qi, m * d : (m + 1) * d]
                        )
                        approx += lut[codes[:, m]]
                    keep = ids != qid
                    kids, kapprox = ids[keep], approx[keep]
                    # block-local partial top: (-approx, vec_id) asc
                    order = np.lexsort((kids, -kapprox))[:PQ_CAND]
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": kids[order],
                            "approx_sim": kapprox[order],
                        }
                    )

    scored = tiles.mapInPandas(
        _adc, schema="query_id long, neighbor_id long, approx_sim double"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    cands = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= PQ_CAND)
        .select("query_id", "neighbor_id")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < SIM_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    exact = (
        cands.join(emb, cands["neighbor_id"] == emb["vec_id"])
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qe", "embedding"), 6).alias("cos_sim"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= SIM_K)
        .drop("rn")
    )


# --- integer vector-search kernel ------------------------------------------
# Every stage of the exact-integer vector search, written once:
# quantize → centroid sample → per-centroid distances (argmin or
# probe order) → IVF candidates → integer cosine → top-k per query,
# plus the Lloyd round and the PQ stages (sub-space sums, encode, ADC
# candidate cut). The IVF, PQ, IVF-PQ, k-means, recall, Matryoshka,
# SemDeDup, MMR, binary re-rank, decontamination and streaming-assign
# entries compose these functions; each DuckDB oracle stays its own
# independent statement of the same arithmetic.

# fixed-point scale of the oracle-exact vector entries (2^20: float32
# embeddings in [-1, 1]-ish quantize with ~6 decimal digits kept;
# every downstream sum stays far under 2^53 so BIGINT→DOUBLE casts
# are exact)
PQ_INT_SCALE = 1 << 20
IVF_INT_K = 16  # coarse cells of the integer IVF
IVF_INT_NPROBE = 4  # cells probed per query


def _quantize(
    emb: DataFrame, scale: int = PQ_INT_SCALE, *keep: Column
) -> DataFrame:
    """(vec_id, *keep, q): every embedding component as round(x ·
    scale) in exact BIGINTs. The float widens to double BEFORE the
    multiply, so the product is exact and both engines round the same
    value."""
    return emb.select(
        "vec_id",
        *keep,
        F.expr(
            "transform(embedding, x -> "
            f"cast(round(cast(x as double) * {scale}) as bigint))"
        ).alias("q"),
    )


def _centroid_sample(vecs: DataFrame, k: int) -> DataFrame:
    """(cid, cq): the k vectors with the smallest ``(md5(vec_id),
    vec_id)``, numbered 0..k-1 in that order — a deterministic uniform
    hash-sample (md5 because both engines compute it on identical
    strings), selected via TakeOrderedAndProject."""
    order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    return (
        vecs.orderBy(*order)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(*order)) - 1)
            .cast("long")
            .alias("cid"),
            F.col("q").alias("cq"),
        )
    )


def _centroid_d2(vecs: DataFrame, cents: DataFrame) -> tuple[DataFrame, Column]:
    """``vecs`` crossJoined to ONE broadcast row holding every (cid,
    cq) centroid, and the per-centroid (d2, cid) struct array over it
    (squared L2 in exact BIGINTs). Struct order IS the (distance,
    cell id) tie-break, and collect_list's order is irrelevant to a
    min or a sort, so assignment is fully narrow — no shuffle of the
    n×K product."""
    carr = cents.agg(F.collect_list(F.struct("cid", "cq")).alias("cents"))
    d2 = F.transform(
        "cents",
        lambda c: F.struct(
            F.aggregate(
                F.zip_with("q", c["cq"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    return vecs.crossJoin(F.broadcast(carr)), d2


def _nearest_centroid(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, q, cid, dist): each vector's nearest centroid —
    ``array_min`` of the (d2, cid) array, no sort."""
    joined, d2 = _centroid_d2(vecs, cents)
    return joined.withColumn("best", F.array_min(d2)).select(
        "vec_id",
        "q",
        F.col("best.cid").alias("cid"),
        F.col("best.d2").alias("dist"),
    )


def _ranked_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, q, ds): the (d2, cid) array sorted ascending — ``ds[0]``
    is the vector's cell, ``_probe_cells()`` its probe set. Sorting
    the K-array is O(K log K) per row with K a constant, still narrow."""
    joined, d2 = _centroid_d2(vecs, cents)
    return joined.select("vec_id", "q", F.array_sort(d2).alias("ds"))


def _probe_cells() -> Column:
    """The IVF_INT_NPROBE nearest cell ids of a ``_ranked_centroids`` row."""
    return F.expr(f"transform(slice(ds, 1, {IVF_INT_NPROBE}), s -> s.cid)")


def _queries(vecs: DataFrame) -> DataFrame:
    """(query_id, qq): the SIM_N_QUERIES probe queries."""
    return vecs.where(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )


def _neighbors(vecs: DataFrame) -> DataFrame:
    """(neighbor_id, nq): every vector as a candidate neighbor."""
    return vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nq"))


def _query_pairs(vecs: DataFrame) -> DataFrame:
    """Every (query, other vector) pair: the broadcast query side
    against one corpus pass (the ``similarity_topk`` shape)."""
    return F.broadcast(_queries(vecs)).join(
        _neighbors(vecs), F.col("neighbor_id") != F.col("query_id")
    )


def _ivf_candidates(ranked: DataFrame) -> DataFrame:
    """(cell, query_id, qq, neighbor_id, nq): the index — every vector
    in its nearest cell — equi-joined to the probe queries exploded
    over their IVF_INT_NPROBE nearest cells. cid is unique per cell,
    so (query, neighbor) pairs are already distinct; the join is
    bounded by nprobe × cell population."""
    index = ranked.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("nq"),
        F.col("ds")[0]["cid"].alias("cell"),
    )
    probes = ranked.where(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.explode(_probe_cells()).alias("cell"),
    )
    return probes.join(index, "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )


def _int_dot(a: str, b: str) -> Column:
    """Exact BIGINT dot product of two BIGINT arrays."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (a, b) -> a * b), 0L, (s, x) -> s + x)"
    )


def _int_cos(qc: str, nc: str) -> Column:
    """Cosine of two BIGINT arrays: exact integer dot and squared
    norms, then one sqrt/multiply/divide on exactly-cast doubles
    (correctly rounded IEEE, identical across engines), round 6.
    Zero-norm guarded to 0.0: 0/0 has no value both engines agree on."""
    dot = _int_dot(qc, nc)
    na = F.expr(f"aggregate({qc}, 0L, (s, x) -> s + x * x)")
    nb = F.expr(f"aggregate({nc}, 0L, (s, x) -> s + x * x)")
    return F.when(
        (na > 0) & (nb > 0),
        F.round(
            dot.cast("double")
            / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
            6,
        ),
    ).otherwise(F.lit(0.0))


def _topk(df: DataFrame, score: str, k: int, nbr: str = "neighbor_id") -> DataFrame:
    """The rows ranked ≤ k per query_id by (score desc, nbr asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(nbr))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _cos_topk(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_sim): the SIM_K best neighbors per
    query by integer cosine over pairs carrying ``qq`` and ``nq``."""
    scored = pairs.select(
        "query_id", "neighbor_id", _int_cos("qq", "nq").alias("cos_sim")
    )
    return _topk(scored, "cos_sim", SIM_K)


def _rerank(vecs: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact re-rank of (query_id, neighbor_id) candidates: attach both
    full vectors (the query side broadcast), then ``_cos_topk``."""
    return _cos_topk(
        cands.join(_neighbors(vecs), "neighbor_id").join(
            F.broadcast(_queries(vecs)), "query_id"
        )
    )


def _lloyd(vecs: DataFrame, cents: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` Lloyd iterations from ``cents`` (cid, cq): assign
    every vector to its nearest centroid, then set each centroid to
    the per-dimension integer mean of its members. The update is a
    narrow unpivot — posexplode the array and aggregate (cid, dim),
    K·dim groups that map-side combine collapses at once (a 64-wide
    sum aggregate computed the same integers but compiled 64
    expressions per round, measured 2.7× slower). Each round's K-row
    result is localCheckpoint-ed, so plan depth stays constant."""
    for _ in range(rounds):
        dims = _nearest_centroid(vecs, cents).select(
            "cid", F.posexplode("q").alias("dim", "v")
        )
        means = dims.groupBy("cid", "dim").agg(
            F.round(F.sum("v") / F.count(F.lit(1))).cast("long").alias("c")
        )
        cents = (
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("s"))
            .select("cid", F.transform("s", lambda x: x["c"]).alias("cq"))
            .localCheckpoint()
        )
    return cents


def _pq_sums(a: str, b: str, term: str) -> Column:
    """Per PQ sub-space m (0..PQ_M-1), Σ ``term`` over that sub-space's
    EMB_DIM/PQ_M components of arrays ``a`` and ``b`` — the squared
    distance of the encode and the inner product of the ADC table."""
    sub_d = EMB_DIM // PQ_M
    return F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"aggregate(slice(zip_with({a}, {b}, (a, b) -> {term}), "
        f"m * {sub_d} + 1, {sub_d}), 0L, (acc, x) -> acc + x))"
    )


def _pq_encode(vecs: DataFrame, v: str, book: DataFrame, c: str) -> DataFrame:
    """(vec_id, m, code): per vector and sub-space, the nearest of the
    PQ_K codewords (k, ``c``) in ``book`` — one broadcast join, then a
    (d2, k) struct-min, so ties go to the lowest code."""
    return (
        vecs.crossJoin(F.broadcast(book))
        .select(
            "vec_id",
            "k",
            F.posexplode(_pq_sums(v, c, "(a - b) * (a - b)")).alias("m", "d2"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "k")).alias("mk"))
        .select("vec_id", "m", F.col("mk.k").alias("code"))
    )


def _adc_candidates(scored: DataFrame) -> DataFrame:
    """(query_id, neighbor_id): per query, the PQ_CAND vectors with the
    largest summed ADC inner product over their (sub-space, code) rows."""
    approx = (
        scored.where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ip").alias("approx"))
    )
    return _topk(approx, "approx", PQ_CAND, "vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )


def similarity_pq_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact product quantization: codebook → per-subspace
    encode → ADC scoring → top-PQ_CAND → exact re-rank → top-SIM_K,
    carried out entirely in fixed-point INTEGER arithmetic
    (embeddings quantized at PQ_INT_SCALE) so DuckDB replays the
    PIPELINE itself and the oracle gate's hash compare pins every stage:
    codebook choice, code assignment ties, ADC sums, candidate cut,
    re-rank order. The float ``similarity_pq`` (numpy ADC) runs the
    same algorithm rows-only.

    Determinism argument: d2 / inner-product sums are exact BIGINTs
    (≤ 64·(2·2^20)² ≈ 2^45); code argmin ties break to the lowest
    code via a (d2, k) struct-min; the re-rank is ``_int_cos``.
    Codebook = the PQ_K lowest vec_ids (deterministic; a trained
    codebook plugs into the same seam).

    Scale shape: encode is |corpus| × PQ_K broadcast-join rows (K is
    a constant 16); ADC is a broadcast lookup-table join keyed
    (m, code) + one hash aggregate per (query, vector); re-rank
    touches PQ_CAND·|queries| rows. No all-pairs stage anywhere.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    cent = qv.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("q").alias("c")
    )
    codes = _pq_encode(qv, "q", cent, "c")
    # ADC lookup table: query-subvector · centroid-subvector, integer
    lut = (
        _queries(qv)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id", "k", F.posexplode(_pq_sums("qq", "c", "a * b")).alias("m", "ip")
        )
    )
    cands = _adc_candidates(
        codes.join(
            F.broadcast(lut),
            (codes["m"] == lut["m"]) & (codes["code"] == lut["k"]),
        )
    )
    return _rerank(qv, cands).orderBy("query_id", F.desc("cos_sim"), "neighbor_id")


_PQ_INT_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), cent AS (
  SELECT vec_id AS k, q AS c FROM qv WHERE vec_id < {PQ_K}
), ms AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), d2 AS (
  SELECT v.vec_id, c.k, ms.m,
         CAST(list_sum(list_transform(generate_series(1, {64 // PQ_M}),
           j -> (v.q[ms.m * {64 // PQ_M} + j] - c.c[ms.m * {64 // PQ_M} + j])
              * (v.q[ms.m * {64 // PQ_M} + j] - c.c[ms.m * {64 // PQ_M} + j])))
         AS BIGINT) AS d2
  FROM qv v, cent c, ms
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
    FROM d2) WHERE rn = 1
), lut AS (
  SELECT v.vec_id AS query_id, c.k, ms.m,
         CAST(list_sum(list_transform(generate_series(1, {64 // PQ_M}),
           j -> v.q[ms.m * {64 // PQ_M} + j] * c.c[ms.m * {64 // PQ_M} + j]))
         AS BIGINT) AS ip
  FROM qv v, cent c, ms
  WHERE v.vec_id < {SIM_N_QUERIES}
), approx AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.ip) AS approx
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx DESC, neighbor_id) AS rn
    FROM approx) WHERE rn <= {PQ_CAND}
), rr AS (
  SELECT cd.query_id, cd.neighbor_id,
         CASE WHEN na.s > 0 AND nb.s > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   j -> a.q[j] * b.q[j])) AS BIGINT)::DOUBLE
                 / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
         ELSE 0.0 END AS cos_sim
  FROM cand cd
  JOIN qv a ON a.vec_id = cd.query_id
  JOIN qv b ON b.vec_id = cd.neighbor_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) na
    ON na.vec_id = cd.query_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) nb
    ON nb.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM rr) WHERE rn <= {SIM_K}
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


def similarity_ann_ivf_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact IVF: partition → probe → re-rank carried out
    entirely in fixed-point integer arithmetic, so DuckDB replays the
    PIPELINE and the oracle gate's hash compare pins every stage —
    centroid choice, cell assignment ties, probe-set cut, re-rank
    order. ``batch_mix`` times it, and it is the dense leg of
    ``rank_fusion_rrf_ann``; the float ``similarity_ann_ivf`` runs
    the same dataflow rows-only.

    Determinism: vectors quantize once at PQ_INT_SCALE; coarse
    centroids are the IVF_INT_K-vector ``_centroid_sample`` (the
    ``embedding_kmeans`` init); assignment is argmin of squared-L2
    in exact BIGINTs with (d2, cid) tie-break; queries probe their
    IVF_INT_NPROBE nearest cells; the re-rank is ``_int_cos``.

    Scale shape: the K-centroid relation folds to ONE broadcast row,
    assignment is fully narrow (zero shuffle of the n×K product),
    the probe is a cell equi-join bounded by nprobe × cell
    population, and only candidates reach the re-rank. No all-pairs
    stage anywhere.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    assigned = track_persist(
        _ranked_centroids(qv, _centroid_sample(qv, IVF_INT_K))
    )
    return _cos_topk(_ivf_candidates(assigned)).orderBy(
        "query_id", F.desc("cos_sim"), "neighbor_id"
    )


_ANN_IVF_INT_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
         q AS cq
  FROM (SELECT * FROM qv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_INT_K})
), d AS (
  SELECT v.vec_id, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS BIGINT) AS d2
  FROM qv v CROSS JOIN c0 c
), assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
), probe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d WHERE vec_id < {SIM_N_QUERIES}) WHERE rn <= {IVF_INT_NPROBE}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), rr AS (
  SELECT cd.query_id, cd.neighbor_id,
         CASE WHEN na.s > 0 AND nb.s > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   j -> a.q[j] * b.q[j])) AS BIGINT)::DOUBLE
                 / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
         ELSE 0.0 END AS cos_sim
  FROM cand cd
  JOIN qv a ON a.vec_id = cd.query_id
  JOIN qv b ON b.vec_id = cd.neighbor_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) na
    ON na.vec_id = cd.query_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) nb
    ON nb.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM rr) WHERE rn <= {SIM_K}
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


def similarity_ann_ivfpq_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition FAISS actually ships for web-scale
    ANN (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search", §IV: coarse quantizer + PQ on the RESIDUALS):
    IVF prunes the corpus to nprobe cells, PQ codes (4 bytes/vector
    here) score the survivors by asymmetric-distance lookup, and
    only the top candidates touch full vectors for the exact
    re-rank. This twin fuses the repo's ``similarity_ann_ivf_int``
    (coarse stage) and ``similarity_pq_int`` (code stage) into that
    production shape, entirely in fixed-point integers so DuckDB
    replays EVERY stage — coarse assignment ties, residual encode,
    ADC sums, candidate cut, re-rank order — and the driver's hash
    compare pins the composed algorithm, not just its row count.

    Faithful-to-FAISS details: the PQ codebook is trained on
    residuals (q − centroid[cell]) and SHARED across cells; each
    query builds a separate ADC table per probed cell from its own
    residual in that cell. Codebook = residuals of the PQ_K lowest
    vec_ids (the deterministic seam a Lloyd-trained codebook plugs
    into, cf. similarity_pq_int).

    Determinism: residual components are exact BIGINTs (≤ 2·2²⁰),
    sub-space d2/ip sums ≤ 8·(2²¹)² ≈ 2⁴⁵; argmins tie-break to the
    lowest code/cell id via struct-min / (d2, cid) windows; the
    re-rank cosine is one sqrt/multiply/divide on exactly-cast
    doubles, round(·, 6) last — the house IEEE rules.

    Scale shape: coarse assignment is fully narrow (ONE broadcast
    centroid fold, no n×K shuffle); residual encode is a 16-row
    broadcast join; PQ code assignment shuffles n·PQ_M rows once;
    the ADC relation is |queries|·nprobe·PQ_K·PQ_M rows — broadcast;
    scoring joins it to codes of vectors IN PROBED CELLS only; the
    exact re-rank touches PQ_CAND·|queries| rows. No all-pairs
    stage anywhere.

    Output: query_id, neighbor_id, cos_sim (round 6).
    """
    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    cents = track_persist(_centroid_sample(qv, IVF_INT_K))
    withcell = _ranked_centroids(qv, cents).select(
        "vec_id",
        "q",
        F.col("ds")[0]["cid"].alias("cell"),
        _probe_cells().alias("probe_cells"),
    )
    # residual w.r.t. the OWN cell's centroid (16-row broadcast join)
    resid = track_persist(
        withcell.join(F.broadcast(cents), F.col("cell") == F.col("cid"))
        .select(
            "vec_id",
            "q",
            "cell",
            "probe_cells",
            F.expr("zip_with(q, cq, (a, b) -> a - b)").alias("r"),
        )
    )
    cb = resid.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("r").alias("rc")
    )
    codes = _pq_encode(resid, "r", cb, "rc")
    # per-(query, probed-cell) residual → per-cell ADC table
    probes_r = (
        resid.where(F.col("vec_id") < SIM_N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.explode("probe_cells").alias("pcell"),
        )
        .join(F.broadcast(cents), F.col("pcell") == F.col("cid"))
        .select(
            "query_id",
            "pcell",
            F.expr("zip_with(qq, cq, (a, b) -> a - b)").alias("rq"),
        )
    )
    lut = probes_r.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "pcell",
        "k",
        F.posexplode(_pq_sums("rq", "rc", "a * b")).alias("m", "ip"),
    )
    ncodes = codes.join(resid.select("vec_id", "cell"), "vec_id")
    cands = _adc_candidates(
        ncodes.join(
            F.broadcast(lut),
            (F.col("cell") == F.col("pcell"))
            & (ncodes["m"] == lut["m"])
            & (F.col("code") == F.col("k")),
        )
    )
    return _rerank(qv, cands).orderBy("query_id", F.desc("cos_sim"), "neighbor_id")


_ANN_IVFPQ_INT_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
         q AS cq
  FROM (SELECT * FROM qv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_INT_K})
), d AS (
  SELECT v.vec_id, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS BIGINT) AS d2
  FROM qv v CROSS JOIN c0 c
), asg AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
), assign AS (
  SELECT vec_id, cid AS cell FROM asg WHERE rn = 1
), probe AS (
  SELECT vec_id AS query_id, cid AS cell FROM asg
  WHERE rn <= {IVF_INT_NPROBE} AND vec_id < {SIM_N_QUERIES}
), resid AS (
  SELECT v.vec_id, a.cell,
         list_transform(generate_series(1, {EMB_DIM}),
                        i -> v.q[i] - c.cq[i]) AS r
  FROM qv v JOIN assign a USING (vec_id) JOIN c0 c ON c.cid = a.cell
), cb AS (
  SELECT vec_id AS k, r AS rc FROM resid WHERE vec_id < {PQ_K}
), ms AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), d2s AS (
  SELECT v.vec_id, c.k, ms.m,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM // PQ_M}),
           j -> (v.r[ms.m * {EMB_DIM // PQ_M} + j] - c.rc[ms.m * {EMB_DIM // PQ_M} + j])
              * (v.r[ms.m * {EMB_DIM // PQ_M} + j] - c.rc[ms.m * {EMB_DIM // PQ_M} + j])))
         AS BIGINT) AS d2
  FROM resid v, cb c, ms
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
    FROM d2s) WHERE rn = 1
), rq AS (
  SELECT p.query_id, p.cell,
         list_transform(generate_series(1, {EMB_DIM}),
                        i -> v.q[i] - c.cq[i]) AS rq
  FROM probe p JOIN qv v ON v.vec_id = p.query_id JOIN c0 c ON c.cid = p.cell
), lut AS (
  SELECT q.query_id, q.cell, c.k, ms.m,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM // PQ_M}),
           j -> q.rq[ms.m * {EMB_DIM // PQ_M} + j] * c.rc[ms.m * {EMB_DIM // PQ_M} + j]))
         AS BIGINT) AS ip
  FROM rq q, cb c, ms
), approx AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.ip) AS approx
  FROM codes cd
  JOIN resid rs ON rs.vec_id = cd.vec_id
  JOIN lut l ON l.cell = rs.cell AND l.m = cd.m AND l.k = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx DESC, neighbor_id) AS rn
    FROM approx) WHERE rn <= {PQ_CAND}
), rr AS (
  SELECT cd.query_id, cd.neighbor_id,
         CASE WHEN na.s > 0 AND nb.s > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   j -> a.q[j] * b.q[j])) AS BIGINT)::DOUBLE
                 / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
         ELSE 0.0 END AS cos_sim
  FROM cand cd
  JOIN qv a ON a.vec_id = cd.query_id
  JOIN qv b ON b.vec_id = cd.neighbor_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) na
    ON na.vec_id = cd.query_id
  JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) nb
    ON nb.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM rr) WHERE rn <= {SIM_K}
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


def _int_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-cosine top-SIM_K per probe query — the ground
    truth the ANN twins are measured against (the full-dim ranking
    of ``matryoshka_overlap``)."""
    qv = _quantize(table(spark, sf_dir, "embeddings"))
    return _cos_topk(_query_pairs(qv)).select("query_id", "neighbor_id")


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@K evaluation of every ANN index family against the
    exact ranking — the table a deploy reads before choosing its
    index (the FAISS-benchmark measurement, as a driver-checkable
    query instead of a test-only gate): per probe query and method
    (``ivf``, ``ivfpq``, ``pq``), how many of the exact integer-
    cosine top-SIM_K the index's top-SIM_K recovered. Every leg is
    the repo's oracle-exact integer twin, so the WHOLE evaluation —
    index answers, exact answers, and the intersection counts —
    replays in DuckDB and the driver hash-pins it (most eval
    harnesses are test-side; making the eval itself a query means a
    recall regression fails the correctness gate, not just a test).

    Scale shape: each leg is the already-bounded twin (no all-pairs
    beyond the exact baseline's broadcast-query scan); intersections
    touch k·|queries| rows; queries with zero hits still emit via
    the query-list left join.

    Output: query_id, method, n_hits (0..SIM_K).
    """
    exact = track_persist(_int_exact_topk(spark, sf_dir))
    legs = {
        "ivf": similarity_ann_ivf_int(spark, sf_dir),
        "ivfpq": similarity_ann_ivfpq_int(spark, sf_dir),
        "pq": similarity_pq_int(spark, sf_dir),
    }
    emb = table(spark, sf_dir, "embeddings")
    qlist = emb.where(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    outs = []
    for method, df in legs.items():
        hits = (
            df.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        outs.append(
            qlist.join(hits, "query_id", "left").select(
                "query_id",
                F.lit(method).alias("method"),
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                    "n_hits"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("query_id", "method")


def _ann_recall_sql() -> str:
    exact = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             CASE WHEN na.s > 0 AND nb.s > 0 THEN
               round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                       j -> a.q[j] * b.q[j])) AS BIGINT)::DOUBLE
                     / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
             ELSE 0.0 END DESC, b.vec_id) AS rn
    FROM qv a
    JOIN qv b ON b.vec_id <> a.vec_id
    JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
            j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) na ON na.vec_id = a.vec_id
    JOIN (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
            j -> q[j] * q[j])) AS BIGINT) AS s FROM qv) nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < {SIM_N_QUERIES}
  ) WHERE rn <= {SIM_K}
"""
    return f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), exact AS ({exact}
), ivf AS ({_ANN_IVF_INT_SQL}
), ivfpq AS ({_ANN_IVFPQ_INT_SQL}
), pq AS ({_PQ_INT_SQL}
), qlist AS (
  SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {SIM_N_QUERIES}
), legs AS (
  SELECT query_id, neighbor_id, 'ivf' AS method FROM ivf
  UNION ALL
  SELECT query_id, neighbor_id, 'ivfpq' AS method FROM ivfpq
  UNION ALL
  SELECT query_id, neighbor_id, 'pq' AS method FROM pq
), hits AS (
  SELECT l.query_id, l.method, count(*)::BIGINT AS n_hits
  FROM legs l JOIN exact e
    ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
  GROUP BY 1, 2
)
SELECT q.query_id, m.method,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits
FROM qlist q
CROSS JOIN (VALUES ('ivf'), ('ivfpq'), ('pq')) AS m(method)
LEFT JOIN hits h ON h.query_id = q.query_id AND h.method = m.method
ORDER BY 1, 2
"""


# --- IVF index maintenance loop -------------------------------------
# Imbalance trigger: retrain iff max_cell · K · DEN > NUM · total,
# i.e. max/mean > NUM/DEN. 5/4 (=1.25×) is the fixture-calibrated
# point where the md5-sampled gen-0 centroids read as skewed and two
# Lloyd rounds measurably rebalance them; a deploy tunes this knob.
IVF_IMB_NUM = 5
IVF_IMB_DEN = 4
IVF_RETRAIN_ITERS = 2  # Lloyd rounds per retrain, from gen-0 centroids


def _ivf_gen_summary(gen, assigned, exact):
    """One summary row for a generation's index (``_ranked_centroids``
    rows): cell balance + the retrieval recall of its nprobe-probed
    top-K vs the exact ranking (the ann_recall_report measurement
    folded to one int)."""
    stats = assigned.groupBy(F.col("ds")[0]["cid"].alias("cell")).count().agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("count").alias("max_n"),
        F.sum("count").alias("total_n"),
    )
    hits = (
        _cos_topk(_ivf_candidates(assigned))
        .join(exact, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("recall_hits"))
    )
    return stats.crossJoin(hits).select(
        F.lit(gen).cast("long").alias("gen"),
        "n_cells",
        "max_n",
        "total_n",
        F.expr(f"max_n * {IVF_INT_K} * 1000 DIV total_n").alias("imb_milli"),
        "recall_hits",
    )


def ivf_retrain_loop(
    spark: SparkSession, sf_dir: str, index_path: str | None = None
) -> DataFrame:
    """THE IVF MAINTENANCE LOOP, end to end — assign → detect →
    retrain → reassign → recall — the cycle ``stream_ivf_assign``'s
    per-cell balance exists to trigger (it emits "the retrain
    signal"; this is the retrain): the gen-0 md5-sampled centroids
    are COMMITTED through the manifest sink (the index version-
    travels like any table — generation g1), the corpus is assigned
    against the COMMITTED index (the sink is load-bearing, not
    decorative), and if the cell balance breaches the
    IVF_IMB_NUM/IVF_IMB_DEN max/mean ratio, IVF_RETRAIN_ITERS Lloyd
    rounds (the ``embedding_kmeans`` update discipline: exact
    integer means, K-key aggregate per round, localCheckpointed)
    retrain the centroids FROM the current index, the new generation
    commits (g2 — g1 stays time-travelable, pinned in pytest), and
    the corpus reassigns under it.

    The imbalance decision is ONE driver-side scalar (the salt-stats
    class: control-plane, 1 row) because it changes the PLAN —
    retrain or not — exactly like AQE's runtime decisions; the
    oracle mirrors the same predicate as a gating WHERE, so both
    engines emit the gen-1 row iff the same integers breach the same
    ratio.

    Output: one row per committed generation — gen, n_cells, max_n,
    total_n, imb_milli (max/mean ×1000, integer), recall_hits
    (Σ over probe queries |IVF top-K ∩ exact top-K| — the
    ann_recall_report measurement, folded per generation so a
    recall REGRESSION from a retrain fails the correctness gate).
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
    )

    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    path = index_path or os.path.join(scratch_dir("ivf_index_"), "centroids")
    spark.dataSource.register(ManifestParquetSink)

    def commit(cents: DataFrame) -> DataFrame:
        """Overwrite the index with ``cents``; the corpus assigned
        against the COMMITTED generation."""
        cents.coalesce(1).write.format("mr_manifest").mode("overwrite").option(
            "path", path
        ).save()
        return _ranked_centroids(qv, read_manifest_table(spark, path))

    exact = track_persist(_int_exact_topk(spark, sf_dir))
    a0 = track_persist(commit(_centroid_sample(qv, IVF_INT_K)))
    rows = _ivf_gen_summary(0, a0, exact)

    # control-plane scalar: does gen 0 breach the balance ratio?
    st = (
        a0.groupBy(F.col("ds")[0]["cid"].alias("cell"))
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .collect()[0]
    )
    if st.mx * IVF_INT_K * IVF_IMB_DEN > IVF_IMB_NUM * st.tot:
        cents = read_manifest_table(spark, path).select("cid", "cq")
        a1 = commit(_lloyd(qv, cents, IVF_RETRAIN_ITERS))
        rows = rows.unionByName(_ivf_gen_summary(1, a1, exact))
    return rows.orderBy("gen")


def _ivf_retrain_loop_sql() -> str:
    """DuckDB replay of the whole loop: md5-sampled gen-0 centroids,
    assignment, balance stats, the SAME imbalance predicate as a
    gating WHERE, the unrolled Lloyd rounds (the _kmeans_oracle_sql
    update expression), reassignment, and both generations' probed
    recall vs the exact ranking."""
    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i])))"
    )
    cos = f"""CASE WHEN na.s > 0 AND nb.s > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   j -> p.qq[j] * x.nq[j])) AS BIGINT)::DOUBLE
                 / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
         ELSE 0.0 END"""

    def gen_block(tag: str, cents: str) -> str:
        return f"""
, a{tag} AS MATERIALIZED (
  SELECT e.vec_id, e.q, c.cid, {dist} AS d2,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {dist}, c.cid) AS rn
  FROM qv e CROSS JOIN {cents} c
), cells{tag} AS MATERIALIZED (
  SELECT cid, count(*)::BIGINT AS n FROM a{tag} WHERE rn = 1 GROUP BY 1
), stats{tag} AS MATERIALIZED (
  SELECT count(*)::BIGINT AS n_cells, max(n)::BIGINT AS max_n,
         sum(n)::BIGINT AS total_n
  FROM cells{tag}
), topk{tag} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, x.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.vec_id ORDER BY {{COS}} DESC,
                              x.vec_id) AS rnn
    FROM (SELECT vec_id, q AS qq, cid FROM a{tag}
          WHERE vec_id < {SIM_N_QUERIES} AND rn <= {IVF_INT_NPROBE}) p
    JOIN (SELECT vec_id, q AS nq, cid FROM a{tag} WHERE rn = 1) x
      ON x.cid = p.cid AND x.vec_id <> p.vec_id
    JOIN norms na ON na.vec_id = p.vec_id
    JOIN norms nb ON nb.vec_id = x.vec_id
  ) WHERE rnn <= {SIM_K}
), hits{tag} AS MATERIALIZED (
  SELECT count(*)::BIGINT AS recall_hits
  FROM (SELECT DISTINCT query_id, neighbor_id FROM topk{tag}) t
  JOIN exact e2 ON e2.query_id = t.query_id
              AND e2.neighbor_id = t.neighbor_id
)""".replace("{COS}", cos)

    lloyd = ""
    prev = "c0"
    for t in range(1, IVF_RETRAIN_ITERS + 1):
        lloyd += f"""
, la{t} AS MATERIALIZED (
  SELECT vec_id, q, cid FROM (
    SELECT e.vec_id, e.q, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM qv e CROSS JOIN {prev} c) WHERE rn = 1
), lc{t} AS MATERIALIZED (
  SELECT cid, list(CAST(round(s * 1.0 / n) AS BIGINT) ORDER BY pos) AS cq
  FROM (
    SELECT cid, pos, sum(v) AS s, count(*) AS n
    FROM (SELECT cid, generate_subscripts(q, 1) AS pos, unnest(q) AS v
          FROM la{t})
    GROUP BY 1, 2)
  GROUP BY cid
)"""
        prev = f"lc{t}"

    exact_cte = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             CASE WHEN na.s > 0 AND nb.s > 0 THEN
               round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                       j -> a.q[j] * b.q[j])) AS BIGINT)::DOUBLE
                     / (sqrt(na.s::DOUBLE) * sqrt(nb.s::DOUBLE)), 6)
             ELSE 0.0 END DESC, b.vec_id) AS rn
    FROM qv a
    JOIN qv b ON b.vec_id <> a.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < {SIM_N_QUERIES}
  ) WHERE rn <= {SIM_K}
"""
    return f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), norms AS MATERIALIZED (
  SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           j -> q[j] * q[j])) AS BIGINT) AS s FROM qv
), exact AS MATERIALIZED ({exact_cte}
), c0 AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
         q AS cq
  FROM (SELECT * FROM qv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_INT_K})
){gen_block("0", "c0")}{lloyd}{gen_block("1", prev)}
SELECT * FROM (
  SELECT 0::BIGINT AS gen, s.n_cells, s.max_n, s.total_n,
         (s.max_n * {IVF_INT_K} * 1000 // s.total_n)::BIGINT AS imb_milli,
         h.recall_hits
  FROM stats0 s, hits0 h
  UNION ALL
  SELECT 1::BIGINT AS gen, s.n_cells, s.max_n, s.total_n,
         (s.max_n * {IVF_INT_K} * 1000 // s.total_n)::BIGINT AS imb_milli,
         h.recall_hits
  FROM stats1 s, hits1 h
  WHERE (SELECT max_n * {IVF_INT_K} * {IVF_IMB_DEN} FROM stats0)
        > (SELECT {IVF_IMB_NUM} * total_n FROM stats0)
)
ORDER BY gen
"""


_IVF_RETRAIN_LOOP_SQL = _ivf_retrain_loop_sql()


MRL_DIM = 16  # truncated-prefix dimensionality under evaluation


def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval agreement (Kusupati et al.
    2022, "Matryoshka Representation Learning", arXiv:2205.13147):
    per query, how many of the FULL-dimension exact top-k neighbors
    the MRL_DIM-PREFIX retrieval recovers — the go/no-go measurement
    before serving truncated embeddings (4× cheaper dot products and
    index memory here) in place of full vectors. Run on a query
    sample, exactly how MRL papers and vector-DB capacity planning
    evaluate truncation.

    Both rankings use the house integer cosine (vectors quantized at
    PQ_INT_SCALE, one sqrt/multiply/divide on exactly-cast doubles,
    round 6, zero-norm guarded — prefix norms CAN be zero where full
    norms are not) with the (cos desc, neighbor asc) tie-break, so
    the oracle replays both rankings and the overlap count exactly.

    Scale shape: ONE pass builds both scores (the broadcast
    query-side join of ``similarity_topk`` — the corpus never
    shuffles, and the truncated score reuses the same scanned row
    rather than a second index); two k-bounded rank windows; the
    overlap join touches k·|queries| rows. Queries with zero overlap
    still emit (left join from the query list).

    Output: query_id, n_overlap (0..SIM_K).
    """
    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    scored = track_persist(
        _query_pairs(qv)
        .withColumn("qt", F.expr(f"slice(qq, 1, {MRL_DIM})"))
        .withColumn("nt", F.expr(f"slice(nq, 1, {MRL_DIM})"))
        .select(
            "query_id",
            "neighbor_id",
            _int_cos("qq", "nq").alias("cos_full"),
            _int_cos("qt", "nt").alias("cos_trunc"),
        )
    )
    overlap = (
        _topk(scored, "cos_full", SIM_K)
        .select("query_id", "neighbor_id")
        .join(
            _topk(scored, "cos_trunc", SIM_K).select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        _queries(qv)
        .select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias(
                "n_overlap"
            ),
        )
        .orderBy("query_id")
    )


_MRL_OVERLAP_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         a.q AS qq, b.q AS nq
  FROM qv a JOIN qv b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {SIM_N_QUERIES}
), norms AS (
  SELECT query_id, neighbor_id, qq, nq,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           j -> qq[j] * qq[j])) AS BIGINT) AS naf,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           j -> nq[j] * nq[j])) AS BIGINT) AS nbf,
         CAST(list_sum(list_transform(generate_series(1, {MRL_DIM}),
           j -> qq[j] * qq[j])) AS BIGINT) AS nat,
         CAST(list_sum(list_transform(generate_series(1, {MRL_DIM}),
           j -> nq[j] * nq[j])) AS BIGINT) AS nbt
  FROM pairs
), scored AS (
  SELECT query_id, neighbor_id,
         CASE WHEN naf > 0 AND nbf > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   j -> qq[j] * nq[j])) AS BIGINT)::DOUBLE
                 / (sqrt(naf::DOUBLE) * sqrt(nbf::DOUBLE)), 6)
         ELSE 0.0 END AS cos_full,
         CASE WHEN nat > 0 AND nbt > 0 THEN
           round(CAST(list_sum(list_transform(generate_series(1, {MRL_DIM}),
                   j -> qq[j] * nq[j])) AS BIGINT)::DOUBLE
                 / (sqrt(nat::DOUBLE) * sqrt(nbt::DOUBLE)), 6)
         ELSE 0.0 END AS cos_trunc
  FROM norms
), tf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_full DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= {SIM_K}
), tt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_trunc DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= {SIM_K}
), ov AS (
  SELECT tf.query_id, count(*)::BIGINT AS n_overlap
  FROM tf JOIN tt ON tt.query_id = tf.query_id
                 AND tt.neighbor_id = tf.neighbor_id
  GROUP BY 1
)
SELECT q.vec_id AS query_id,
       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap
FROM (SELECT vec_id FROM qv WHERE vec_id < {SIM_N_QUERIES}) q
LEFT JOIN ov ON ov.query_id = q.vec_id
ORDER BY 1
"""


SEMDEDUP_CELL_TARGET = 64  # aim for ~this many vectors per cell
SEMDEDUP_MAX_PLANES = 30  # static plane relation; b = used prefix


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540 — public method): partition the
    embedding space into cells, then prune near-duplicates WITHIN
    each cell only — the trick that makes embedding-level dedup
    tractable at web scale (the quadratic is bounded by cell
    population, never corpus², and cells shard across executors).

    Cells are sign-projection buckets (random-hyperplane cosine LSH,
    Charikar 2002): bit j of a vector's cell is the SIGN of its
    integer dot product with plane j, planes being the corpus's
    first SEMDEDUP_MAX_PLANES quantized vectors (the seam a trained
    k-means codebook — ``embedding_kmeans`` — plugs into). The used
    bit count ADAPTS to the corpus: b = len(bin(max(n DIV
    SEMDEDUP_CELL_TARGET, 8))) — integer-exact in both engines, no
    libm — so cell count ∝ corpus size and expected cell population
    stays ~SEMDEDUP_CELL_TARGET. A fixed-k centroid assignment was
    measured quadratic at ×100 (fixed 16 cells → 133k-vector cells
    → 15 G within-cell pairs, >560 s); sign cells keep assignment
    LINEAR (30·n dot products) AND cell size bounded. Identical
    vectors agree on every sign bit, so exact duplicates always
    share a cell.

    Everything is deterministic fixed-point integer arithmetic (the
    ``similarity_pq_int`` discipline, driver hash-pins every stage):
    within-cell pairs score quantized cosine; a vector is PRUNED iff
    a lower-id vector in its cell scores ≥ EMB_DEDUP_THRESHOLD
    against it (greedy keep-first; ``dup_of`` names the lowest such
    keeper, -1 for kept rows).

    Output: vec_id, cell, dup_of, pruned — one row per vector.
    """
    qv = track_persist(_quantize(table(spark, sf_dir, "embeddings")))
    nrow = qv.agg(
        F.length(
            F.bin(
                F.greatest(
                    F.expr(f"count(1) DIV {SEMDEDUP_CELL_TARGET}"), F.lit(8)
                )
            )
        ).alias("b")
    )
    planes = qv.where(F.col("vec_id") < SEMDEDUP_MAX_PLANES).select(
        F.col("vec_id").alias("j"), F.col("q").alias("h")
    )
    dot_h = _int_dot("q", "h")
    # 30·n narrow rows → one hash aggregate; the b-bit prefix mask is
    # a VALUE from the broadcast 1-row scalar, so the plan structure
    # is static while the cell count adapts to the corpus
    assign = (
        qv.crossJoin(F.broadcast(planes))
        .select(
            "vec_id", "j", F.when(dot_h > 0, 1).otherwise(0).alias("sign")
        )
        .crossJoin(F.broadcast(nrow))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.expr("CASE WHEN j < b THEN sign * shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) ELSE 0 END")
            ).alias("cell")
        )
    )
    assign = track_persist(assign)
    # one persisted (vec_id, cell, q) relation feeds BOTH pair sides
    # — av/bv differ only in column naming, but the alias difference
    # defeats exchange reuse, so without the persist the assign⋈qv
    # join (and the persisted inputs' scans) ran twice
    joined = track_persist(assign.join(qv, "vec_id"))
    av = joined.select(
        "cell", F.col("vec_id").alias("a_id"), F.col("q").alias("qa")
    )
    bv = joined.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("qb"),
    )
    dup = (
        av.join(
            bv,
            (F.col("cell") == F.col("cell_b")) & (F.col("a_id") < F.col("b_id")),
        )
        # an all-zero embedding has no direction (cosine 0/0 — a
        # DIVIDE_BY_ZERO error in Spark, NULL in DuckDB): _int_cos
        # scores its pairs 0.0, below the threshold, and the oracle
        # drops them by their zero norm
        .select("a_id", "b_id", _int_cos("qa", "qb").alias("cos_sim"))
        .where(F.col("cos_sim") >= EMB_DEDUP_THRESHOLD)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return (
        assign.join(dup, assign["vec_id"] == dup["b_id"], "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dup_of", F.lit(-1)).alias("dup_of"),
            F.when(F.col("dup_of").isNotNull(), 1).otherwise(0).alias("pruned"),
        )
        .orderBy("vec_id")
    )


_SEMDEDUP_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), nb AS (
  SELECT length(bin(greatest(count(*) // {SEMDEDUP_CELL_TARGET}, 8))) AS b
  FROM qv
), planes AS (
  SELECT vec_id AS j, q AS h FROM qv WHERE vec_id < {SEMDEDUP_MAX_PLANES}
), assign AS (
  SELECT v.vec_id,
         sum(CASE WHEN p.j < nb.b AND
                       CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                         i -> v.q[i] * p.h[i])) AS BIGINT) > 0
                  THEN (1::BIGINT << p.j) ELSE 0 END)::BIGINT AS cell
  FROM qv v, planes p, nb
  GROUP BY 1
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                 j -> qa.q[j] * qb.q[j])) AS BIGINT)::DOUBLE
           / (sqrt(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                j -> qa.q[j] * qa.q[j])) AS BIGINT)::DOUBLE)
            * sqrt(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                j -> qb.q[j] * qb.q[j])) AS BIGINT)::DOUBLE)), 6) AS cos_sim
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN qv qa ON qa.vec_id = a.vec_id
  JOIN qv qb ON qb.vec_id = b.vec_id
  WHERE CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> qa.q[j] * qa.q[j])) AS BIGINT) > 0
    AND CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
          j -> qb.q[j] * qb.q[j])) AS BIGINT) > 0
), dup AS (
  SELECT b_id, min(a_id) AS dup_of FROM pairs
  WHERE cos_sim >= {EMB_DEDUP_THRESHOLD} GROUP BY 1
)
SELECT a.vec_id, a.cell, coalesce(d.dup_of, -1) AS dup_of,
       CASE WHEN d.dup_of IS NULL THEN 0 ELSE 1 END AS pruned
FROM assign a LEFT JOIN dup d ON d.b_id = a.vec_id
ORDER BY a.vec_id
"""


def _kmeans_oracle_sql() -> str:
    """Unrolled Lloyd's iterations as chained CTEs — exact mirror of
    ``embedding_kmeans`` (same integer arithmetic, same md5 init,
    same (dist, cid) tie-break)."""
    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i])))"
    )
    sql = f"""
WITH emb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {KM_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
         q AS cq
  FROM (SELECT * FROM emb ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {KMEANS_K})
)"""
    prev = "c0"
    for t in range(1, KMEANS_ITERS + 1):
        sql += f"""
, a{t} AS (
  SELECT vec_id, q, cid, dist FROM (
    SELECT e.vec_id, e.q, c.cid, {dist} AS dist,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM emb e CROSS JOIN {prev} c)
  WHERE rn = 1
), c{t} AS (
  SELECT cid, list(CAST(round(s * 1.0 / n) AS BIGINT) ORDER BY pos) AS cq
  FROM (
    SELECT cid, pos, sum(v) AS s, count(*) AS n
    FROM (SELECT cid, generate_subscripts(q, 1) AS pos, unnest(q) AS v FROM a{t})
    GROUP BY 1, 2)
  GROUP BY cid
)"""
        prev = f"c{t}"
    # list_sum over BIGINTs is HUGEINT in DuckDB (renders float64 via
    # fetchdf) — ::BIGINT so the exact value-hash matches Spark's long
    sql += f"""
SELECT vec_id, cid AS cluster, dist::BIGINT AS dist FROM (
  SELECT e.vec_id, c.cid, {dist} AS dist,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
  FROM emb e CROSS JOIN {prev} c)
WHERE rn = 1
"""
    return sql


# --- text analysis ---------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc count, token totals,
    averages — integer sums, double division at the end. One narrow
    projection + one tiny-key aggregate."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    per_doc = docs.select(
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("token_chars"),
        F.col("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("avg_tokens_per_doc"),
        (F.sum("token_chars") / F.nullif(F.sum("n_tokens"), F.lit(0).cast("long"))).alias(
            "avg_token_len"
        ),
        F.sum("n_chars").alias("total_chars"),
    )


def _bigram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigram) by sliding over the token array — fully
    narrow (a lead() window computes the same pairs but costs a
    shuffle+sort of every token row first; the order the window
    would rebuild is already in the array). Token array materializes
    as a named column first: Catalyst does not CSE expressions
    inlined into lambda bodies."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    bigram_arr = token_windows(F.col("toks"), 2, partial(F.concat_ws, " "))
    return toks.select("doc_id", F.explode(bigram_arr).alias("bigram"))


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies. The lead() window is partitioned
    per doc (bounded state); the count agg is map-side partial.

    Output: bigram, cnt.
    """
    return _bigram_df(spark, sf_dir).groupBy("bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_K terms per doc: tf·idf with idf = ln(N/df).

    Two aggregates (tf per doc-term, df per term) + a df-side join
    sized by AQE (broadcast when the vocabulary fits, shuffle when
    it doesn't) + bounded rank window. N is a scalar via a count
    aggregate crossJoined (1-row broadcast), not a driver-side
    collect.

    Output: doc_id, term, tf, tfidf (round 6).
    """
    toks = _docs_tokens_pos(spark, sf_dir)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # No broadcast hint on df_: the vocabulary table is small at test
    # scale but unbounded at 100 TB (it grows with the corpus), so
    # let AQE pick broadcast when the stats say it fits and fall back
    # to a shuffle join when they don't.
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("token").alias("term"),
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_K)
        .drop("rn")
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language marker-hit counts as
    compile-time expressions over the token array, argmax with
    lexicographic tiebreak, 'und' when nothing matches.

    The lexicon is a compile-time constant, so it folds into the
    plan instead of being a table at all: one narrow pass, ZERO
    shuffles, no join — vs. the naive explode → broadcast-join →
    two-level agg → window shape, which shuffles every token row
    twice for the same answer. Tiebreak: langs get ranks in
    REVERSE-lex order, so max(struct(n_hits, rank)) picks the
    lexicographically-smallest language on equal hits — identical to
    the oracle's ORDER BY n_hits DESC, lang ASC.

    Output: doc_id, pred_lang, n_hits.
    """
    langs = sorted(LANG_LEXICON)  # rank len..1 = reverse-lex
    docs = table(spark, sf_dir, "documents")
    # explode_outer: a token-less doc still yields one (doc_id, null)
    # row, so every document appears in the output ('und'), matching
    # the oracle's LEFT JOIN shape
    exploded = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("token")
    )
    # per-language hit counters as conditional-sum aggregate
    # expressions — codegen'd WHEN + map-side partial agg; a
    # higher-order filter() per language would run interpreted per
    # token and cost more than the whole rest of the query
    counters = [
        F.sum(
            F.when(F.col("token").isin(*LANG_LEXICON[lang]), 1).otherwise(0)
        )
        .cast("long")
        .alias(f"n_{lang}")
        for lang in langs
    ]
    counts = exploded.groupBy("doc_id").agg(*counters)
    per_lang = F.array(
        *[
            F.struct(
                F.col(f"n_{lang}").alias("n_hits"),
                F.lit(len(langs) - i).alias("rank"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(per_lang)
    lang_by_rank = F.array(*[F.lit(lang) for lang in reversed(langs)])
    return counts.select(
        "doc_id",
        F.when(best.n_hits > 0, F.element_at(lang_by_rank, best.rank))
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
        best.n_hits.alias("n_hits"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality heuristics: token count, mean token length,
    stopword ratio, and a blended [0,1] score. Pure ratio arithmetic
    from integers — bit-stable. Narrow (no shuffle at all).

    Output: doc_id, n_tokens, avg_token_len, stop_ratio, quality.
    """
    stopwords = ("the", "of", "and", "a", "in", "to", "is")
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*stopwords))
    ).cast("long")
    # nullif guard: empty/whitespace-only docs (n_tokens=0) yield
    # NULL metrics instead of an ANSI divide-by-zero job failure —
    # dirty corpora must degrade, not crash.
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        tok_chars.alias("_chars"),
        n_stop.alias("_stop"),
    )
    safe_n = F.nullif(F.col("n_tokens"), F.lit(0))
    # The blended score is computed in EXACT integer micro-units and
    # rounded half-up with integer arithmetic — a float blend
    # (0.4·a + 0.3·b + 0.3·c, round 6) differs between engines by
    # one ulp on ~1-in-25k inputs and flips the 6th decimal
    # (measured on the ×10 synthetic corpus). The single-division
    # metrics below are IEEE-exact as floats and safe to round.
    #   q_e6 = 20000·min(20,n)
    #        + round_half_up((300000·(n−s) + 37500·min(8n, chars)) / n)
    q_e6 = F.expr(
        "20000 * least(20L, n_tokens) + "
        "(2 * (300000 * (n_tokens - _stop) + 37500 * least(8 * n_tokens, _chars))"
        " + n_tokens) DIV (2 * nullif(n_tokens, 0))"
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_chars") / safe_n, 6).alias("avg_token_len"),
        F.round(F.col("_stop") / safe_n, 6).alias("stop_ratio"),
        (q_e6 / F.lit(1e6)).alias("quality"),
    )


SHINGLE_K_REP = 3  # repetition filter n-gram width


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram repetition ratio — the Gopher-style repetition
    quality filter (Rae et al. 2021 §A1.1.3: heavily repetitive text
    is low-quality training data and gets culled before training).

    rep_ratio = 1 − distinct_3grams / total_3grams, computed entirely
    per-row: the shingle array is built by the same sliding-window
    transform as the MinHash pipeline (8-byte xxhash64 identities),
    then ``array_distinct`` counts within the row. Zero shuffle at
    any scale — the canonical embarrassingly-parallel quality pass.
    Docs with <3 tokens have no 3-grams: ratio 0 by convention.

    Output: doc_id, n_3grams, n_distinct, rep_ratio (round 6).
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    shingle_arr = token_windows(F.col("ts"), SHINGLE_K_REP, F.xxhash64)
    total = F.size(shingle_arr).cast("long")
    distinct = F.size(F.array_distinct(shingle_arr)).cast("long")
    ratio = F.when(total > 0, F.round((total - distinct) / total, 6)).otherwise(
        F.lit(0.0)
    )
    return toks.select(
        "doc_id",
        total.alias("n_3grams"),
        distinct.alias("n_distinct"),
        ratio.alias("rep_ratio"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash
    over the raw character stream, mod 1e9+7 (modulus applied per
    step — ANSI-safe, max intermediate ≈ 31·10⁹). Narrow op; the
    fingerprint is the join/dedup key downstream.

    Output: doc_id, fingerprint.
    """
    docs = table(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(FP_BASE) + F.ascii(ch).cast("long"), F.lit(FP_MOD)
        ),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    regex segmentation (alnum runs vs single punctuation marks) —
    the cheap pre-tokenizer count a data pipeline uses for budget
    estimates. Narrow projection only.

    Output: doc_id, n_ws_tokens, n_bpe_tokens.
    """
    docs = table(spark, sf_dir, "documents")
    bpe_pat = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(bpe_pat), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def arrow_grouped_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` — the grouped-Arrow execution seam
    (``arrow_doc_profile`` covers the map seam): each SOURCE's rows
    arrive as one ``pyarrow.Table`` and the answer is computed with
    Arrow compute kernels only — no pandas object-array
    materialization for the string column, no per-row Python. The
    per-group stats (docs, char mass, extremes, distinct langs) are
    exactly SQL-mirrorable, so this seam is hash-checked like every
    expression path.

    Scale note: applyInArrow shuffles on the group key and hands
    EACH group to one Python call — right when groups are bounded
    (domains/sources here, each ≤ thousands of docs), wrong for
    skewed mega-groups (then: pre-aggregate JVM-side, or bucket the
    key like the cogroup lesson). Stated trade-off, tested shape.

    Output: source, n_docs, total_chars, max_chars, n_langs.
    """
    import pyarrow as pa

    def stats(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        chars = pc.utf8_length(tbl.column("text"))
        return pa.table(
            {
                "source": [tbl.column("source")[0].as_py()],
                "n_docs": [tbl.num_rows],
                "total_chars": [pc.sum(chars).as_py()],
                "max_chars": [pc.max(chars).as_py()],
                "n_langs": [pc.count_distinct(tbl.column("lang")).as_py()],
            }
        )

    docs = table(spark, sf_dir, "documents").select("source", "lang", "text")
    return (
        docs.groupBy("source")
        .applyInArrow(
            stats,
            schema=(
                "source string, n_docs bigint, total_chars bigint, "
                "max_chars bigint, n_langs bigint"
            ),
        )
        .orderBy("source")
    )


_ARROW_GROUPED_SQL = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       max(length(text))::BIGINT AS max_chars,
       count(DISTINCT lang)::BIGINT AS n_langs
FROM documents GROUP BY source ORDER BY source
"""


def arrow_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the LAST Python-execution seam the suite
    hadn't isolated (scalar pandas_udf, grouped-agg UDAF, UDTF,
    applyInPandas(WithState), mapInPandas are all exercised
    elsewhere): the UDF receives raw ``pyarrow.RecordBatch``es and
    answers with Arrow kernels only — no pandas materialization, no
    per-row Python, which for string-heavy batches skips the
    Arrow→pandas object-array copy mapInPandas pays (every string
    becomes a Python object there; here they stay in Arrow buffers).

    Per-doc token count (non-overlapping ``\\S+`` matches — C++
    regex kernel) and char length, then a plain JVM hash aggregate
    per language. The Python stage is narrow (batch in, batch out,
    no state), so at 100 TB it pipelines with the scan exactly like
    any projection.

    Output: lang, n_docs, sum_tokens, sum_chars.
    """

    def profile(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("lang")),
                    pc.cast(
                        pc.count_substring_regex(
                            b.column(b.schema.get_field_index("text")), r"\S+"
                        ),
                        pa.int64(),
                    ),
                    pc.cast(
                        pc.utf8_length(
                            b.column(b.schema.get_field_index("text"))
                        ),
                        pa.int64(),
                    ),
                ],
                names=["lang", "n_tokens", "n_chars"],
            )

    docs = table(spark, sf_dir, "documents").select("lang", "text")
    prof = docs.mapInArrow(
        profile, "lang string, n_tokens long, n_chars long"
    )
    return prof.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )


_ARROW_PROFILE = """
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS sum_tokens,
       sum(length(text))::BIGINT AS sum_chars
FROM documents GROUP BY lang
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed struct/array metadata projection: build a struct column
    and array ops over tokens, emitted flat for comparison. The
    struct/array construction is the Spark-native data model the
    multimodal module (multimodal.py) hangs binary payloads off.

    Output: doc_id, meta_lang, meta_source, n_tokens, first_token,
    last_token.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    with_meta = docs.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("source")).alias("meta"),
        toks.alias("toks"),
    )
    return with_meta.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.element_at("toks", 1).alias("first_token"),
        F.element_at("toks", -1).alias("last_token"),
    )


# Per-language keep rates (percent) for the data-mixing sampler, plus
# the default for unknown languages. Golden-ratio multiplicative hash
# on doc_id: the 2^31 pre-mod keeps doc_id * 2654435761 inside a
# signed 64-bit long for ANY doc_id (ANSI mode throws on overflow),
# while preserving a uniform bucket distribution.
SAMPLE_RATES: dict[str, int] = {"en": 80, "de": 60, "es": 40, "fr": 40, "zh": 20}
SAMPLE_DEFAULT = 10
_SAMPLE_MIX = 2654435761  # floor(2^32 / golden ratio), Knuth


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified / budget-weighted sampling — the data-mixing
    primitive of a training pipeline (upsample high-value strata,
    downsample the rest). Bernoulli keep-decision per row from a
    DETERMINISTIC arithmetic hash of the row key, not an RNG:

    - reproducible across reruns, engines, and partitionings (a
      seeded `sample()` is only stable for a fixed partitioning —
      repartition the input and the sample changes);
    - fully narrow: no shuffle, filter evaluated at the scan, so at
      100 TB it costs one pass and prunes to the kept fraction;
    - consistent: the same doc_id keeps or drops in every derived
      dataset, which is what makes downstream joins of two sampled
      tables line up.

    Output: doc_id, lang, bucket (the hash bucket 0-99 that decided).
    """
    docs = table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(_SAMPLE_MIX),
        F.lit(100),
    )
    rate: Column = F.lit(SAMPLE_DEFAULT)
    for lang, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


MIX_BUDGETS = {"en": 3000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
MIX_DEFAULT_BUDGET = 1000  # tokens per unlisted language


def mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus mixing: fill each language's token budget
    with a deterministic hash-ordered prefix of its documents — the
    data-mixing step that hits an exact per-source token target
    (vs ``sample_stratified``'s rate-based Bernoulli form).

    Docs are ordered within each language by ``md5(doc_id)`` (a
    deterministic uniform shuffle both engines compute identically —
    the kmeans-init trick), and a doc is kept while the cumulative
    token count BEFORE it is under the budget, so the first doc
    crossing the line still ships (budgets are floors, and the rule
    stays prefix-decidable). One shuffle: the per-lang window.

    Scale note: a per-lang window totally orders each language —
    fine while languages are few and budgets modest (the training-
    mix case: budgets ≪ corpus). For budgets near corpus scale the
    variant is rate-estimation + the narrow hash-threshold filter of
    ``sample_stratified``, trading exact budgets for zero shuffles.

    Output: doc_id, lang, n_tokens, cum_before.
    """
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    budget: Column = F.lit(MIX_DEFAULT_BUDGET)
    for lang, b in MIX_BUDGETS.items():
        budget = F.when(F.col("lang") == lang, F.lit(b)).otherwise(budget)
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_doc.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("cum_before") < budget)
        .select("doc_id", "lang", "n_tokens", "cum_before")
    )


SHUFFLE_EPOCHS = (0, 1)  # epochs demonstrated side by side
SHUFFLE_SHARDS = 8


def shuffle_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-SEEDED deterministic training shuffle — the data-order
    step between curation and the dataloader: each epoch needs a
    DIFFERENT, REPRODUCIBLE global permutation (same seed ⇒ same
    order on any cluster size/partitioning, different seeds ⇒
    independent orders, so no example ordering repeats across
    epochs). Rank = md5(epoch ‖ doc_id) — the engine-portable
    deterministic-shuffle idiom this repo already uses for
    mix_corpora's prefix order; the shard is the rank's leading byte
    mod SHUFFLE_SHARDS, so shard assignment needs NO sort at all
    (narrow expression), and within-shard order is (rank, doc_id) —
    at 100 TB the dataloader reads shards in parallel and each shard
    is internally ordered by one bounded sort.

    Output proves the two epoch properties the dataloader relies on:
    per (epoch, shard): n_docs, first_doc (the permutation head —
    differs across epochs), and a shard-content checksum
    (sum of doc_id·(position+1) within the shard's order — any
    reordering or membership change moves it).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    epochs = []
    for epoch in SHUFFLE_EPOCHS:
        rank = F.md5(F.concat(F.lit(f"epoch{epoch}:"), F.col("doc_id").cast("string")))
        # total-order sort key: rank ‖ zero-padded doc_id (md5 makes
        # collisions a non-event; the pad keeps the key total anyway)
        skey = F.concat(rank, F.lpad(F.col("doc_id").cast("string"), 12, "0"))
        # shard from the rank's leading BYTE decoded to its hex VALUE
        # (0-255 uniform), engine-portable via ascii()+CASE (no
        # hex-cast dialects). Raw ascii codes were skewed: with
        # shards=8, ascii('0'..'9','a'..'f') % 8 lands residue 1 at
        # 3/16 — the hex-value byte is uniform for any shard count
        # dividing 256.
        def _hexval(c):
            a = F.ascii(c)
            return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))

        shard = F.pmod(
            _hexval(F.substring(rank, 1, 1)) * 16
            + _hexval(F.substring(rank, 2, 1)),
            F.lit(SHUFFLE_SHARDS),
        ).cast("int")
        w = Window.partitionBy("shard").orderBy("skey")
        epochs.append(
            docs.select(
                F.lit(epoch).alias("epoch"),
                "doc_id",
                skey.alias("skey"),
                shard.alias("shard"),
            )
            .withColumn("pos", F.row_number().over(w))
            .groupBy("epoch", "shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min_by("doc_id", "skey").alias("first_doc"),
                F.sum(F.col("doc_id") * F.col("pos")).alias("order_checksum"),
            )
        )
    out = epochs[0]
    for e in epochs[1:]:
        out = out.unionByName(e)
    return out.orderBy("epoch", "shard")


def _shuffle_sql() -> str:
    parts = []
    for epoch in SHUFFLE_EPOCHS:
        parts.append(f"""
    SELECT {epoch} AS epoch, shard, count(*)::BIGINT AS n_docs,
           min_by(doc_id, skey) AS first_doc,
           sum(doc_id * pos)::BIGINT AS order_checksum
    FROM (
      SELECT doc_id, skey, shard,
             row_number() OVER (PARTITION BY shard ORDER BY skey) AS pos
      FROM (
        SELECT doc_id, skey,
               ((a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END) * 16
                + (a2 - CASE WHEN a2 >= 97 THEN 87 ELSE 48 END))
                 % {SHUFFLE_SHARDS} AS shard
        FROM (
          SELECT doc_id,
                 md5('epoch{epoch}:' || doc_id::VARCHAR)
                   || lpad(doc_id::VARCHAR, 12, '0') AS skey,
                 ascii(substr(md5('epoch{epoch}:' || doc_id::VARCHAR), 1, 1)) AS a1,
                 ascii(substr(md5('epoch{epoch}:' || doc_id::VARCHAR), 2, 1)) AS a2
          FROM documents
        )
      )
    ) GROUP BY 1, 2""")
    return " UNION ALL ".join(parts) + " ORDER BY epoch, shard"


MIX_TEMP_TOTAL = 6_000  # total token budget distributed by temperature


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based corpus mixing (T=2, i.e. weights ∝ n^(1/2)) —
    the multilingual-pretraining reweighting that upsamples small
    languages relative to proportional mixing without ignoring size
    entirely. Where ``mix_corpora`` takes externally-given budgets,
    this derives them from the corpus itself:

        budget_lang = TOTAL · √n_lang / Σ √n_j     (floored)

    Determinism across engines: α=0.5 on purpose — √ is an IEEE
    exact-rounded op (unlike pow's libm), so both engines compute
    bit-identical doubles from the exact token-count longs; the
    square roots then quantize to 1e-6-unit longs and every further
    step (Σ, ·, floor-divide) is integer arithmetic (Spark ``DIV`` ≡
    DuckDB ``//``, verified truncation parity). Selection reuses the
    md5-prefix rule of ``mix_corpora``. Two tiny shuffles (lang
    totals, per-lang window) — the same 100 TB shape.

    Output per language: budget, n_docs_kept, tokens_kept.
    """
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    totals = per_doc.groupBy("lang").agg(F.sum("n_tokens").alias("n_lang"))
    sq = totals.select(
        "lang",
        "n_lang",
        F.round(F.sqrt(F.col("n_lang").cast("double")) * 1e6).cast("long").alias("sq"),
    )
    denom = sq.agg(F.sum("sq").alias("denom"))
    budgets = sq.crossJoin(F.broadcast(denom)).select(
        "lang",
        F.expr(f"CAST({MIX_TEMP_TOTAL} AS BIGINT) * sq DIV denom").alias("budget"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        per_doc.join(F.broadcast(budgets), "lang")
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("cum_before") < F.col("budget"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.first("budget").alias("budget"),
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("lang")
    )


_MIX_TEMP = f"""
WITH per_doc AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT
           AS n_tokens,
         md5(doc_id::VARCHAR) AS h
  FROM documents
), totals AS (
  SELECT lang, sum(n_tokens)::BIGINT AS n_lang FROM per_doc GROUP BY 1
), sq AS (
  SELECT lang, round(sqrt(n_lang::DOUBLE) * 1e6)::BIGINT AS sq FROM totals
), denom AS (SELECT sum(sq)::BIGINT AS denom FROM sq),
budgets AS (
  SELECT lang, ({MIX_TEMP_TOTAL}::BIGINT * sq) // denom AS budget
  FROM sq, denom
), cum AS (
  SELECT p.doc_id, p.lang, p.n_tokens, b.budget,
         coalesce(sum(p.n_tokens) OVER (
           PARTITION BY p.lang ORDER BY p.h, p.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM per_doc p JOIN budgets b USING (lang)
)
SELECT lang, any_value(budget) AS budget,
       count(*)::BIGINT AS n_docs_kept,
       sum(n_tokens)::BIGINT AS tokens_kept
FROM cum WHERE cum_before < budget
GROUP BY lang ORDER BY lang
"""


PACK_BUDGET = 512  # tokens per pack
PACK_BAND = 16  # length-band width (tokens)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed-token-budget
    packs for training-batch construction, the step after
    dedup/sampling in a data pipeline.

    Exact bin packing is inherently sequential; the distributed
    approximation here is banded greedy packing: docs bucket into
    length bands (similar lengths pack together, which is where
    greedy packing's efficiency comes from), each band runs an
    ordered running token sum, and the pack index is the running
    sum's budget quotient. Every window is bounded by its band
    partition — no global sort, no sequential pass; band id offsets
    make pack ids globally unique. A pack may overflow the budget by
    at most one document's tokens (the standard streaming-packing
    trade).

    Output: doc_id, n_tok, pack_id. Deterministic (doc_id order
    within band), exact SQL-window oracle.
    """
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    ).withColumn("band", F.expr(f"n_tok DIV {PACK_BAND}"))
    w = (
        Window.partitionBy("band")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    # greatest(cum,1): a run of zero-token docs has cum=0, where
    # Spark's DIV (truncate) and DuckDB's // (floor) disagree on -1/B
    pack_id = F.col("band") * 1_000_000 + F.expr(
        f"(greatest(cum, 1) - 1) DIV {PACK_BUDGET}"
    )
    return (
        sized.withColumn("cum", cum)
        .select("doc_id", "n_tok", pack_id.alias("pack_id"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles.

_TOKS = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token,
         generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''), 1) AS pos
  FROM documents
)
"""

_BIGRAMS = _TOKS + """
, bg AS (
  SELECT doc_id, token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
  FROM toks
  QUALIFY bigram IS NOT NULL
)
"""

_DEDUP_EXACT = """
SELECT sha256(lower(trim(text))) AS text_hash,
       min(doc_id)::BIGINT AS keeper_doc_id,
       count(*)::BIGINT AS n_copies
FROM documents
GROUP BY 1
"""

# curate_corpus oracle is composed below (after _TOKS/_STOPLIST are
# defined) from the same fragments quality_score's oracle uses.

_DEDUP_NGRAM = _BIGRAMS + f"""
, dbg AS (SELECT DISTINCT doc_id, bigram FROM bg WHERE doc_id < {NGRAM_EXACT_MAX_DOCS}),
sizes AS (SELECT doc_id, count(*) AS n_bg FROM dbg GROUP BY 1),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS sh
  FROM dbg a JOIN dbg b ON a.bigram = b.bigram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, round(sh * 1.0 / (x.n_bg + y.n_bg - sh), 6) AS jaccard
FROM shared JOIN sizes x ON x.doc_id = a_id JOIN sizes y ON y.doc_id = b_id
WHERE round(sh * 1.0 / (x.n_bg + y.n_bg - sh), 6) >= {NGRAM_JACCARD_THRESHOLD}
"""

_DEDUP_EMB = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {EMB_DEDUP_THRESHOLD}
"""

_SIM_TOPK = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {SIM_N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {SIM_K}
"""

_TEXT_STATS = _TOKS + """
, per_doc AS (
  SELECT d.lang, d.doc_id, d.n_chars,
         count(t.token) AS n_tokens,
         sum(length(t.token)) AS token_chars
  FROM documents d JOIN toks t USING (doc_id)
  GROUP BY 1, 2, 3
)
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(n_tokens) * 1.0 / count(*) AS avg_tokens_per_doc,
       sum(token_chars) * 1.0 / nullif(sum(n_tokens), 0) AS avg_token_len,
       sum(n_chars)::BIGINT AS total_chars
FROM per_doc GROUP BY lang
"""

_NGRAM_COUNTS = _BIGRAMS + """
SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY bigram
"""

_TFIDF = _TOKS + f"""
, tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token AS term, tf.tf,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= {TFIDF_K}
"""

_LEX_VALUES = ", ".join(
    f"('{lang}', '{tok}')"
    for lang, toks_ in sorted(LANG_LEXICON.items())
    for tok in toks_
)

_LANG_ID = _TOKS + f"""
, lexicon(lex_lang, lex_token) AS (VALUES {_LEX_VALUES}),
hits AS (
  SELECT t.doc_id, l.lex_lang, count(*)::BIGINT AS n_hits
  FROM toks t JOIN lexicon l ON t.token = l.lex_token
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, lex_lang AS pred_lang, n_hits FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY n_hits DESC, lex_lang ASC) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id,
       coalesce(b.pred_lang, 'und') AS pred_lang,
       coalesce(b.n_hits, 0)::BIGINT AS n_hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
"""

def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER EVALUATION for the in-tree language-ID heuristic:
    the confusion matrix of ``lang_id``'s predictions against the
    table's gold ``lang`` labels — the metrics pass every model-based
    curation step needs before its output is trusted (a quality
    classifier you haven't confusion-matrixed is a rumor). Each cell
    carries its recall contribution (share of the ACTUAL language's
    docs landing in this cell, floor-quantized micro) so per-language
    recall is the diagonal cell's share and error hot-spots read
    directly off the off-diagonals.

    One extra broadcast join + one aggregate over the zero-shuffle
    ``lang_id`` pass. Output: actual_lang, pred_lang, n,
    share_of_actual_micro.
    """
    preds = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    gold = table(spark, sf_dir, "documents").select("doc_id", F.col("lang").alias("actual_lang"))
    cells = (
        gold.join(preds, "doc_id")
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("actual_lang").agg(F.sum("n").alias("tot"))
    return (
        cells.join(F.broadcast(totals), "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n",
            F.floor(F.col("n").cast("double") / F.col("tot").cast("double") * 1e6)
            .cast("long")
            .alias("share_of_actual_micro"),
        )
        .orderBy("actual_lang", "pred_lang")
    )


def _lang_confusion_sql() -> str:
    # wrap the lang_id oracle's final SELECT into a CTE and evaluate
    # the confusion cells on top — ONE source of truth for the
    # heuristic's SQL mirror
    final_select = """SELECT d.doc_id,
       coalesce(b.pred_lang, 'und') AS pred_lang,
       coalesce(b.n_hits, 0)::BIGINT AS n_hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id"""
    assert final_select in _LANG_ID
    wrapped = _LANG_ID.replace(final_select, f", pred AS (\n{final_select}\n)")
    return wrapped + """
, cells AS (
  SELECT d.lang AS actual_lang, p.pred_lang, count(*)::BIGINT AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY 1, 2
), totals AS (
  SELECT actual_lang, sum(n)::BIGINT AS tot FROM cells GROUP BY 1
)
SELECT c.actual_lang, c.pred_lang, c.n,
       floor(c.n::DOUBLE / t.tot::DOUBLE * 1e6)::BIGINT
         AS share_of_actual_micro
FROM cells c JOIN totals t USING (actual_lang)
ORDER BY c.actual_lang, c.pred_lang
"""


_STOPLIST = "('the', 'of', 'and', 'a', 'in', 'to', 'is')"

_QUALITY = _TOKS + f"""
, per_doc AS (
  SELECT d.doc_id,
         count(t.token)::BIGINT AS n_tokens,
         coalesce(sum(length(t.token)), 0) AS token_chars,
         coalesce(sum(CASE WHEN t.token IN {_STOPLIST} THEN 1 ELSE 0 END), 0) AS n_stop
  FROM documents d LEFT JOIN toks t USING (doc_id) GROUP BY 1
)
SELECT doc_id, n_tokens,
       round(token_chars * 1.0 / nullif(n_tokens, 0), 6) AS avg_token_len,
       round(n_stop * 1.0 / nullif(n_tokens, 0), 6) AS stop_ratio,
       (20000 * least(20, n_tokens)
        + (2 * (300000 * (n_tokens - n_stop)
                + 37500 * least(8 * n_tokens, token_chars))
           + n_tokens) // (2 * nullif(n_tokens, 0))) / 1000000.0 AS quality
FROM per_doc
"""

_QNORM = (
    "WITH qual AS (" + _QUALITY + ")"
    + """
, j AS (
  SELECT q.doc_id, d.source, q.quality,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY q.quality, q.doc_id) AS rk,
         count(*) OVER (PARTITION BY d.source) AS n
  FROM qual q JOIN documents d USING (doc_id)
)
SELECT doc_id, source, quality,
       ((rk - 1) * 1000000 // greatest(n - 1, 1))::BIGINT AS pct_micro
FROM j ORDER BY doc_id
"""
)

CURATE_MIN_QUALITY = 0.85
CURATE_MIN_TOKENS = 5

_MIX = """
WITH per_doc AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT
           AS n_tokens,
         md5(doc_id::VARCHAR) AS h
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM per_doc
)
SELECT doc_id, lang, n_tokens, cum_before
FROM cum
WHERE cum_before < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1500 WHEN 'es' THEN 1500 WHEN 'fr' THEN 1500 WHEN 'zh' THEN 1500 ELSE 1000 END
"""

_CURATE = _TOKS + f"""
, per_doc AS (
  SELECT d.doc_id,
         count(t.token)::BIGINT AS n_tokens,
         coalesce(sum(length(t.token)), 0) AS token_chars,
         coalesce(sum(CASE WHEN t.token IN {_STOPLIST} THEN 1 ELSE 0 END), 0) AS n_stop
  FROM documents d LEFT JOIN toks t USING (doc_id) GROUP BY 1
), metrics AS (
  SELECT doc_id, n_tokens,
         (20000 * least(20, n_tokens)
          + (2 * (300000 * (n_tokens - n_stop)
                  + 37500 * least(8 * n_tokens, token_chars))
             + n_tokens) // (2 * nullif(n_tokens, 0))) / 1000000.0
           AS quality
  FROM per_doc
), keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY sha256(lower(trim(text)))
)
SELECT d.doc_id, d.lang, m.n_tokens, m.quality
FROM documents d
JOIN keepers k ON d.doc_id = k.doc_id
JOIN metrics m ON d.doc_id = m.doc_id
WHERE m.quality >= {CURATE_MIN_QUALITY} AND m.n_tokens >= {CURATE_MIN_TOKENS}
"""

_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
         (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}
       )::BIGINT AS fingerprint
FROM documents
"""

_BPE = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe_tokens
FROM documents
"""

_MULTIMODAL = _TOKS + """
, arr AS (
  SELECT doc_id, list(token ORDER BY pos) AS toks FROM toks GROUP BY doc_id
)
SELECT d.doc_id, d.lang AS meta_lang, d.source AS meta_source,
       len(a.toks)::BIGINT AS n_tokens,
       a.toks[1] AS first_token,
       a.toks[-1] AS last_token
FROM documents d JOIN arr a USING (doc_id)
"""

_SAMPLE_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES.items())
    + f" ELSE {SAMPLE_DEFAULT} END"
)

_SAMPLE_STRAT = f"""
SELECT doc_id, lang,
       ((doc_id % 2147483648) * {_SAMPLE_MIX}) % 100 AS bucket
FROM documents
WHERE ((doc_id % 2147483648) * {_SAMPLE_MIX}) % 100 < {_SAMPLE_CASE}
"""

_PACK_SEQ = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tok
  FROM documents
), b AS (
  SELECT doc_id, n_tok, n_tok // {PACK_BAND} AS band,
         sum(n_tok) OVER (
           PARTITION BY n_tok // {PACK_BAND} ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM t
)
SELECT doc_id, n_tok,
       (band * 1000000 + (greatest(cum, 1) - 1) // {PACK_BUDGET})::BIGINT AS pack_id
FROM b
"""

EXPORT_MIN_TOK = 5
EXPORT_SHARDS = 8


def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE pipeline — the artifact a training-data run actually
    ships: dedup → length filter → sequence packing → SHARDED
    PHYSICAL EXPORT through the two-phase-commit manifest sink, then
    a read-back aggregate so the round-trip (not just the plan) is
    value-checked. Composes this module's own verified pieces:
    ``dedup_exact``'s keeper rule, ``pack_sequences``'s banded
    greedy packing, and the sink from ``custom_sink_roundtrip``.

    Scale shape: dedup is one digest shuffle; packing windows are
    band-bounded; the export is ``repartition(shard_id)`` — each
    shard file is written by exactly one task, files land under
    unique names and one atomic manifest commit flips visibility
    (a torn export is invisible, the training job never reads a
    half-written shard list). The read-back proves the manifest
    names exactly the committed rows.

    Output: lang, n_docs, n_packs, sum_tokens.
    """
    from ..sources.manifest_sink import ManifestParquetSink, read_manifest_table

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    keepers = (
        docs.select(
            "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("h")
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sized = (
        docs.join(keepers, "doc_id", "left_semi")
        .select(
            "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tok")
        )
        .filter(F.col("n_tok") >= EXPORT_MIN_TOK)
        .withColumn("band", F.expr(f"n_tok DIV {PACK_BAND}"))
    )
    w = (
        Window.partitionBy("band")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn("cum", F.sum("n_tok").over(w)).select(
        "doc_id",
        "lang",
        "n_tok",
        (
            F.col("band") * 1_000_000
            + F.expr(f"(greatest(cum, 1) - 1) DIV {PACK_BUDGET}")
        ).alias("pack_id"),
    )
    out = packed.withColumn(
        "shard_id", F.pmod("pack_id", F.lit(EXPORT_SHARDS)).cast("long")
    )
    path = os.path.join(scratch_dir("export_shards_"), "shards")
    spark.dataSource.register(ManifestParquetSink)
    (
        out.repartition(EXPORT_SHARDS, F.col("shard_id"))
        .write.format("mr_manifest")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back = read_manifest_table(spark, path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("pack_id").alias("n_packs"),
        F.sum("n_tok").alias("sum_tokens"),
    )


_EXPORT_SHARDS_SQL = f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY sha256(lower(trim(text)))
), t AS (
  SELECT d.doc_id, d.lang,
         len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tok
  FROM documents d JOIN keep k ON d.doc_id = k.doc_id
), f AS (
  SELECT * FROM t WHERE n_tok >= {EXPORT_MIN_TOK}
), p AS (
  SELECT doc_id, lang, n_tok,
         (n_tok // {PACK_BAND}) * 1000000
         + (greatest(sum(n_tok) OVER (
              PARTITION BY n_tok // {PACK_BAND} ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING), 1) - 1) // {PACK_BUDGET} AS pack_id
  FROM f
)
SELECT lang, count(*)::BIGINT AS n_docs,
       count(DISTINCT pack_id)::BIGINT AS n_packs,
       sum(n_tok)::BIGINT AS sum_tokens
FROM p GROUP BY 1
"""


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass — the pipeline a training-data run
    actually executes, composed from this module's own operators:
    ``quality_score`` metrics + exact-dedup keeper selection
    (``dedup_exact`` semantics) + quality and length thresholds, in
    ONE declarative plan. The point of the entry is compositionality:
    each stage is the already-verified operator, and Catalyst fuses
    the narrow metric computation into the scan while the only
    shuffles are the digest aggregate (uniform sha2 key) and the two
    keyed joins. A 100 TB curation run adds the near-dup cluster
    filter (``dedup_clusters``) at the same seam the exact keeper
    occupies here.

    Output: doc_id, lang, n_tokens, quality — the curated corpus
    manifest, deterministic and oracle-checked end to end.
    """
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "lang", F.sha2(F.lower(F.trim("text")), 256).alias("text_hash")
    )
    keepers = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    q = quality_score(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    return (
        hashed.join(
            keepers,
            (hashed.text_hash == keepers.text_hash)
            & (hashed.doc_id == keepers.keeper_doc_id),
            "left_semi",
        )
        .join(q, "doc_id")
        .filter(
            (F.col("quality") >= CURATE_MIN_QUALITY)
            & (F.col("n_tokens") >= CURATE_MIN_TOKENS)
        )
        .select("doc_id", "lang", "n_tokens", "quality")
    )


# --- decontamination / chunking / PII / LSH-ANN (round 2 widening) ---

DECON_K = 5  # n-gram width for benchmark-overlap matching
DECON_EVAL_MOD = 97  # doc_id % MOD == 0 → member of the held-out eval set

CHUNK_SIZE = 8  # tokens per training chunk
CHUNK_STRIDE = 6  # chunk start stride (CHUNK_SIZE - CHUNK_STRIDE overlap)

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"

ANN_LSH_PLANES = 64  # hyperplanes = total sign bits
ANN_LSH_BAND_BITS = 16  # MINIMUM bits per band (floor: 4 bands × 16 bits)
ANN_LSH_MAX_BAND_BITS = 32  # ceiling: 2 bands × 32 bits
ANN_LSH_QUANT = 1_000_000  # embedding micro-unit quantization


def _ann_band_bits(n: int) -> int:
    """Bits per LSH band, SIZED TO THE CORPUS: ceil(log2(n)) + 2,
    clamped to [16, 32]. With b bits per band, expected colliding
    pairs per band for hash-uniform keys is ~n²/2^(b+1); b =
    log2(n)+2 pins that at ~n/8 — candidates grow LINEARLY in corpus
    size instead of quadratically past the width a fixed constant
    was tuned for (the r2 weak-list item). The floor keeps fixture
    runs at the original 4×16 layout (identical pairs); the ceiling
    keeps ≥2 bands for recall. The SQL oracle derives the same value
    from count(*) with the same integer formula, so both engines
    band identically at any sf. ceil(log2(·)) is IEEE-double-stable
    across engines: exact powers of two are exact in log2, and
    non-powers sit ≥1e-9 away from integers while a double ulp near
    2^63's log is ~3.5e-15."""
    import math

    if n < 2:
        return ANN_LSH_BAND_BITS
    return max(
        ANN_LSH_BAND_BITS,
        min(ANN_LSH_MAX_BAND_BITS, math.ceil(math.log2(n)) + 2),
    )


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``DECON_K``-gram with a held-out eval set (here the
    deterministic ``doc_id % DECON_EVAL_MOD == 0`` slice; in
    production the benchmark suite). The standard pre-training
    hygiene pass (n-gram overlap against eval benchmarks).

    Scale shape: both sides reduce to distinct 8-byte shingle
    identities; the membership probe is a left-semi equi-join on the
    shingle hash — shuffle ∝ corpus shingle count, never corpus².
    Real eval sets are tiny relative to the corpus, so AQE broadcasts
    the eval side and the probe is shuffle-free; nothing in the plan
    depends on that happening. Per-doc totals are one hash aggregate.

    Output: doc_id, n_ngrams, n_hit_ngrams, contaminated.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    grams = token_windows(F.col("ts"), DECON_K, F.xxhash64)
    sh = toks.select("doc_id", F.explode(grams).alias("sh")).distinct()
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    train_sh = sh.filter(~is_eval)
    eval_sh = sh.filter(is_eval).select("sh").distinct()
    totals = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        train_sh.join(eval_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    base = docs.filter(~is_eval).select("doc_id")
    return (
        base.join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            # int flag, not boolean: the driver's value-hash has
            # never seen a boolean column — don't be the first
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).cast("long").alias("contaminated"),
        )
    )


DUP_SPAN_K = 5  # span width for corpus-duplicate span detection


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL duplication audit (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    public method): for each document, the fraction of its sliding
    word-DUP_SPAN_K-gram windows that occur MORE THAN ONCE anywhere
    in the corpus (other documents or repeats within the same one).
    This is the tractable map-reduce approximation of suffix-array
    substring dedup that large-corpus pipelines actually run — the
    signal is per-document (memorization/boilerplate risk), distinct
    from doc-level similarity (``dedup_ngram``) and eval-overlap
    (``decontaminate_ngram``).

    Scale shape — skew-proof by construction (this operator's whole
    point is corpora where some spans are NOT rare: boilerplate
    5-grams — nav text, license headers — can occur in a large
    fraction of all documents, so anything that serializes one span
    onto one task dies at web scale). The corpus-wide occurrence
    count is therefore NOT a window over the span hash (a window
    spills but still runs each hot span on ONE task); instead:

    1. pre-aggregate ``(doc_id, sh) → c`` — map-side combinable, so
       within-document repeats of a hot span collapse before any
       shuffle;
    2. total per span ``sh → occ = Σc`` — again partial-aggregated,
       so a span present in 50% of all documents arrives at its
       reducer as one partial row per map task, never as a row per
       occurrence;
    3. join the per-doc relation back on ``sh``. The (doc, span)
       side of a boilerplate span still has one row per containing
       doc, but that is a JOIN key, not a window partition: AQE's
       skew-join splits the hot partition across tasks (and at small
       span-dictionary sizes converts the whole join to broadcast,
       removing the sh shuffle entirely). The per-(doc,sh) exchange
       is reused for both the total and the probe, so the corpus is
       scanned and tokenized exactly once.

    Exact integers: dup_micro = dup_spans·10⁶ DIV n_spans. Docs with
    fewer than DUP_SPAN_K tokens have no windows and are absent, on
    both engines.

    Output: doc_id, n_spans, dup_spans, dup_micro.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    spans = token_windows(F.col("ts"), DUP_SPAN_K, F.xxhash64)
    win = toks.select("doc_id", F.explode(spans).alias("sh"))
    per = win.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("c"))
    tot = per.groupBy("sh").agg(F.sum("c").alias("occ"))
    return (
        per.join(tot, "sh")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("occ") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "dup_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.expr("(dup_spans * 1000000) DIV n_spans").alias("dup_micro"),
        )
        .orderBy("doc_id")
    )


def remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup REMOVAL — the rewrite pass to
    ``dup_span_stats``'s audit (Lee et al. 2022, arXiv:2107.06499,
    ExactSubstr dedup at word-DUP_SPAN_K-gram granularity, public
    method): for every sliding span that occurs more than once
    corpus-wide, keep only the globally FIRST occurrence (minimum
    (doc_id, window_pos), lexicographic) and remove every token
    covered by any later occurrence. The canonical "train on each
    substring once" preprocessing pass.

    Skew-proof shape (same rebuild as ``dup_span_stats`` r9): the
    global first-occurrence per span is ONE map-side-combinable
    ``groupBy(sh).agg(min(struct(doc_id, i)))`` — lexicographic
    struct-min, identical semantics in DuckDB's ``min(row(...))`` —
    followed by an equi-join-back on the span hash (AQE
    skew-splittable; a boilerplate 5-gram in half the corpus arrives
    at its reducer as one partial row per map task). Token coverage
    is a narrow sequence-explode + per-doc distinct; the text
    rebuild is a per-row index filter — no window over the span
    hash anywhere.

    Exactness: spans are xxhash64 identities Spark-side, string
    identities in the oracle (the ``dup_span_stats`` twin
    arrangement — identity-equal unless a 64-bit collision, which
    the hash compare would surface). Output witnesses the rewrite
    via md5 of the cleaned text, so masking exactly the duplicated
    spans and nothing else is what the driver pins. Docs shorter
    than DUP_SPAN_K tokens have no windows and pass through
    unchanged (present, n_removed = 0).

    Output: doc_id, n_tokens, n_removed, clean_hash.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    spans = token_windows(F.col("ts"), DUP_SPAN_K, F.xxhash64)
    win = toks.select("doc_id", F.posexplode(spans).alias("i", "sh"))
    keep = win.groupBy("sh").agg(F.min(F.struct("doc_id", "i")).alias("k"))
    dup_wins = (
        win.join(keep, "sh")
        .where(
            ~(
                (F.col("doc_id") == F.col("k.doc_id"))
                & (F.col("i") == F.col("k.i"))
            )
        )
        .select("doc_id", "i")
    )
    removed = dup_wins.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + DUP_SPAN_K - 1)).alias("p"),
    ).distinct()
    rem_arr = removed.groupBy("doc_id").agg(F.collect_set("p").alias("rp"))
    return (
        toks.join(rem_arr, "doc_id", "left")
        .select(
            "doc_id",
            "ts",
            F.coalesce("rp", F.array().cast("array<int>")).alias("rp"),
        )
        .select(
            "doc_id",
            F.size("ts").cast("long").alias("n_tokens"),
            F.size("rp").cast("long").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.filter(
                        "ts", lambda x, i: ~F.array_contains(F.col("rp"), i)
                    ),
                )
            ).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


# string-identity span twin (see _DUP_SPAN_EXPR below — defined
# here too because this SQL is built before that block)
_RDS_SPAN_EXPR = " || chr(31) || ".join(
    f"ts[i+{j}]" for j in range(DUP_SPAN_K)
)

_REMOVE_DUP_SPANS_SQL = f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id, i - 1 AS pos, {_RDS_SPAN_EXPR} AS sh
  FROM arr, unnest(generate_series(1, greatest(len(ts) - {DUP_SPAN_K - 1}, 0))) AS t(i)
), keep2 AS (
  -- lexicographic (doc_id, pos) min PACKED into one BIGINT
  -- (doc_id·2^21 + pos; pos < 2^21 by doc length): identical order
  -- semantics to min(row(...)), but DuckDB's hash join with a
  -- STRUCT payload hits a >25x cliff at ~3M build rows (measured
  -- r10: scalar payload 4.2 s, struct payload OOM-killed the x10
  -- synth gate) — scalar payloads only in join-carried aggregates
  SELECT sh, min(doc_id * 2097152 + pos) AS k FROM win GROUP BY 1
), dupwin AS (
  SELECT w.doc_id, w.pos
  FROM win w JOIN keep2 ON w.sh = keep2.sh
  WHERE w.doc_id * 2097152 + w.pos <> keep2.k
), removed AS (
  SELECT DISTINCT d.doc_id, u.p
  FROM dupwin d, unnest(generate_series(d.pos, d.pos + {DUP_SPAN_K - 1})) AS u(p)
), tokpos AS (
  SELECT doc_id, i - 1 AS p, ts[i] AS tok
  FROM arr, unnest(generate_series(1, len(ts))) AS t(i)
), kept AS (
  SELECT t.doc_id, t.p, t.tok
  FROM tokpos t LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.p = t.p
  WHERE r.p IS NULL
), clean AS (
  SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY p), '') AS ctext
  FROM kept GROUP BY 1
)
SELECT a.doc_id, len(a.ts)::BIGINT AS n_tokens,
       coalesce(rc.n, 0)::BIGINT AS n_removed,
       md5(coalesce(c.ctext, '')) AS clean_hash
FROM arr a
LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n FROM removed GROUP BY 1) rc
  ON rc.doc_id = a.doc_id
LEFT JOIN clean c ON c.doc_id = a.doc_id
ORDER BY a.doc_id
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep chunking: split each document's token stream
    into fixed-size windows (``CHUNK_SIZE`` tokens, stride
    ``CHUNK_STRIDE`` → 2-token overlap) — the doc→sample explosion
    every context-window pipeline runs before packing/tokenization.

    Fully narrow: chunk starts are a per-row ``sequence`` over the
    token array, windows are ``slice`` — no shuffle anywhere, so the
    operator scales with scan bandwidth alone and composes with
    ``pack_sequences`` downstream. Empty docs yield zero chunks.

    Output: doc_id, chunk_idx, n_tokens, chunk_text.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    n = F.size("ts")
    starts = F.filter(
        F.when(n >= 1, F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))).otherwise(
            F.array().cast("array<int>")
        ),
        lambda s: s < n,
    )
    chunks = F.transform(starts, lambda s: F.slice(F.col("ts"), s + 1, CHUNK_SIZE))
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and mask email / phone patterns. The
    fixture corpus has no organic PII, so the query plants
    deterministic markers first (an email per doc, a phone on every
    third doc — identical construction in the oracle), then the
    operator under test redacts them; the md5 of the redacted text is
    the oracle-checked witness that masking hit exactly the planted
    spans and nothing else.

    Zero shuffle: regex extraction and replacement are per-row
    expressions inside the scan stage; at 100 TB the pass is
    bandwidth-bound, which is exactly the profile a redaction sweep
    wants. Java regex and RE2 agree on this pattern subset (kept to
    character classes + bounded repeats, no lookaround).

    Output: doc_id, n_emails, n_phones, clean_hash.
    """
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id"),
            F.lit("@ex"),
            F.col("doc_id") % 7,
            F.lit(".com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" call +1-555-"), F.lpad(F.col("doc_id") % 10000, 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text2"),
    )
    clean = F.regexp_replace(
        F.regexp_replace("text2", PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all("text2", F.lit(PII_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text2", F.lit(PII_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


def _ann_lsh_weights() -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-1000, 1000] via
    multiplicative hashing of the flat (plane, dim) index:
    w[p][d] = (((p·64 + d) · 2654435761) mod 2^31) mod 2001 - 1000.
    The double mod (Knuth constant, then 2001) breaks the linearity
    an affine formula would leave across planes — affine weights make
    consecutive hyperplanes near-parallel and band bits correlated,
    collapsing LSH selectivity. Pure integer arithmetic →
    bit-identical in any engine, no RNG, no collect."""
    return [
        [(((p * 64 + d) * 2_654_435_761) % 2_147_483_648) % 2_001 - 1_000 for d in range(64)]
        for p in range(ANN_LSH_PLANES)
    ]


def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity candidates via random-hyperplane LSH over the
    embedding column — the bucketed alternative to the IVF path
    (similarity_ann_ivf), and unlike it fully ORACLE-CHECKED: every
    arithmetic step (quantization, sign bits, band keys, cosine) is
    exact integer math reproduced verbatim in the SQL oracle, so the
    driver hash-compares the whole pipeline instead of rows-only.

    Algorithm: embeddings quantized to micro-units; 64 deterministic
    integer hyperplanes give 64 sign bits; packed into 4 bands of
    ``ANN_LSH_BAND_BITS`` bits; candidate pairs collide on ≥1 band
    (claimed at their FIRST matching band — the same trick
    dedup_simhash uses, replacing a candidate distinct() shuffle
    with a narrow filter); candidates re-ranked by exact cosine.

    Scale shape: shuffle is one self-equi-join on (band, key) —
    ∝ corpus, never corpus². Band width is DERIVED from the corpus
    count (``_ann_band_bits``: ceil(log2(n))+2, clamped [16, 32]),
    so random-collision candidates stay ~n/8 per band at any scale
    instead of exploding ~n²/2^b past a hand-set width; the count
    itself is a parquet-metadata job, negligible next to the GEMM
    pass. 16-bit bands (the fixture floor) target the
    high-similarity regime LSH is used for (cos ≥ 0.9 near-dup:
    per-band collision p^16 with p = 1 - θ/π); the fixture's weak
    cosines (≤ ~0.46) exercise the machinery, not the recall.

    Output: vec_a, vec_b, cosine (all candidate pairs, re-ranked;
    0.0 when either vector has zero norm).
    """
    weights = _ann_lsh_weights()
    emb = table(spark, sf_dir, "embeddings")
    band_bits = _ann_band_bits(emb.count())
    q = _quantize(emb, ANN_LSH_QUANT).select("vec_id", F.col("q").alias("qe"))
    # 64 sign bits via one Arrow-batched int64 GEMM per partition
    # (W is a constant 64×64 matrix, closure-captured — same shape as
    # the IVF assignment GEMM). Expressing the 4096 multiply-adds as
    # column expressions blows Janino's 64 KB method limit into an
    # interpreted fallback; NumPy int64 matmul is exact (|terms| <
    # 2^40) and vectorized, and stays O(batch) memory.
    import numpy as np

    n_bands = ANN_LSH_PLANES // band_bits
    w_mat = np.array(weights, dtype=np.int64)  # planes × dims
    pow2 = np.int64(1) << np.arange(band_bits, dtype=np.int64)

    def add_band_keys(batches):
        for pdf in batches:
            if len(pdf):
                q_mat = np.array(pdf["qe"].tolist(), dtype=np.int64)
                bits = (q_mat @ w_mat.T >= 0).astype(np.int64)
                for band in range(n_bands):
                    seg = bits[:, band * band_bits : (band + 1) * band_bits]
                    pdf[f"band{band}"] = seg @ pow2
            else:
                for band in range(n_bands):
                    pdf[f"band{band}"] = []
            yield pdf

    band_fields = ", ".join(f"band{i} long" for i in range(n_bands))
    keyed = q.mapInPandas(
        add_band_keys, schema=f"vec_id long, qe array<long>, {band_fields}"
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    exploded_a = a.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("a.qe").alias("qa"),
        *[F.col(f"a.band{i}").alias(f"a_band{i}") for i in range(n_bands)],
    ).select(
        "vec_a",
        "qa",
        F.array(*[F.col(f"a_band{i}") for i in range(n_bands)]).alias("a_bands"),
        F.posexplode(
            F.array(*[F.col(f"a_band{i}") for i in range(n_bands)])
        ).alias("band_id", "band_key"),
    )
    exploded_b = b.select(
        F.col("b.vec_id").alias("vec_b"),
        F.col("b.qe").alias("qb"),
        F.array(*[F.col(f"b.band{i}") for i in range(n_bands)]).alias("b_bands"),
        F.posexplode(
            F.array(*[F.col(f"b.band{i}") for i in range(n_bands)])
        ).alias("band_id", "band_key"),
    )
    cand = (
        exploded_a.join(exploded_b, ["band_id", "band_key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        # first-matching-band claim: drop the pair unless no earlier
        # band also collides (narrow filter, replaces distinct())
        .filter(
            ~F.exists(
                F.sequence(F.lit(0), F.col("band_id") - 1),
                lambda i: F.get("a_bands", i) == F.get("b_bands", i),
            )
            | (F.col("band_id") == 0)
        )
    )
    # zero-norm guarded (_int_cos): two all-zero embeddings set every
    # sign bit, so they share every band and reach the cosine
    return cand.select("vec_a", "vec_b", _int_cos("qa", "qb").alias("cosine"))


_DECON_SHINGLE_EXPR = " || chr(31) || ".join(
    f"ts[i+{j}]" for j in range(DECON_K)
)

# string-identity twin of the xxhash64 span ids (same k), the usual
# oracle arrangement: identity-equal unless a 64-bit collision, which
# the hash compare would surface
_DUP_SPAN_EXPR = " || chr(31) || ".join(
    f"ts[i+{j}]" for j in range(DUP_SPAN_K)
)

_DUP_SPAN_SQL = f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ts) - {DUP_SPAN_K - 1}, 0)),
           i -> {_DUP_SPAN_EXPR})) AS sh
  FROM arr
), flagged AS (
  SELECT doc_id,
         (count(*) OVER (PARTITION BY sh) >= 2)::BIGINT AS dup
  FROM win
)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(dup)::BIGINT AS dup_spans,
       ((sum(dup) * 1000000) // count(*))::BIGINT AS dup_micro
FROM flagged GROUP BY 1 ORDER BY 1
"""

_DECON = f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ts) - {DECON_K - 1}, 0)),
           i -> {_DECON_SHINGLE_EXPR})) AS sh
  FROM arr
), sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
train AS (SELECT * FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
totals AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM train GROUP BY 1),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hit_ngrams
  FROM train WHERE sh IN (SELECT sh FROM ev) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(t.n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(h.n_hit_ngrams, 0)::BIGINT AS n_hit_ngrams,
       (coalesce(h.n_hit_ngrams, 0) > 0)::BIGINT AS contaminated
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
"""

_CHUNKS = f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), st AS (
  SELECT doc_id, ts,
         unnest(list_filter(
           generate_series(0, greatest(len(ts) - 1, 0), {CHUNK_STRIDE}),
           s -> s < len(ts))) AS strt,
         generate_subscripts(list_filter(
           generate_series(0, greatest(len(ts) - 1, 0), {CHUNK_STRIDE}),
           s -> s < len(ts)), 1) AS idx
  FROM arr
)
SELECT doc_id,
       (idx - 1)::BIGINT AS chunk_idx,
       len(ts[strt + 1 : least(strt + {CHUNK_SIZE}, len(ts))])::BIGINT AS n_tokens,
       array_to_string(ts[strt + 1 : least(strt + {CHUNK_SIZE}, len(ts))], ' ') AS chunk_text
FROM st
"""

_PII = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact u' || doc_id::VARCHAR || '@ex'
              || (doc_id % 7)::VARCHAR || '.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                      ELSE '' END AS text2
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text2, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text2, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
       md5(regexp_replace(regexp_replace(text2, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
FROM planted
"""

# The LSH oracle recomputes the hyperplane weights ARITHMETICALLY
# (same integer formula as _ann_lsh_weights) — no literal tables, so
# the SQL provably runs the identical algorithm. The band width is
# likewise DERIVED inside the SQL (nn CTE) with the same
# ceil(log2(count))+2 clamp as _ann_band_bits, so both engines band
# identically at any corpus size.
_ANN_LSH = f"""
WITH nn AS (
  SELECT greatest({ANN_LSH_BAND_BITS},
                  least({ANN_LSH_MAX_BAND_BITS},
                        CAST(ceil(log2(count(*))) AS BIGINT) + 2)) AS bb
  FROM embeddings
), q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {ANN_LSH_QUANT}) AS BIGINT)) AS qe
  FROM embeddings
), bits AS (
  SELECT vec_id, p,
         CASE WHEN CAST(list_sum(list_transform(
                generate_series(1, {EMB_DIM}),
                d -> qe[d] * ((((p * 64 + (d - 1)) * 2654435761) % 2147483648) % 2001 - 1000)
              )) AS BIGINT) >= 0 THEN 1 ELSE 0 END AS bit
  FROM q CROSS JOIN generate_series(0, {ANN_LSH_PLANES - 1}) t(p)
), bands AS (
  SELECT vec_id, p // bb AS band_id,
         CAST(sum(bit * (1::BIGINT << (p % bb))) AS BIGINT) AS band_key
  FROM bits CROSS JOIN nn
  WHERE p < bb * ({ANN_LSH_PLANES} // bb)
  GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b USING (band_id, band_key)
  WHERE a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       CASE WHEN list_sum(list_transform(qa.qe, x -> x * x)) > 0
             AND list_sum(list_transform(qb.qe, x -> x * x)) > 0 THEN
       round(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                          d -> qa.qe[d] * qb.qe[d])) AS BIGINT)
             / (sqrt(CAST(list_sum(list_transform(qa.qe, x -> x * x)) AS BIGINT))
                * sqrt(CAST(list_sum(list_transform(qb.qe, x -> x * x)) AS BIGINT))),
             6)
       ELSE 0.0 END AS cosine
FROM cand c
JOIN q qa ON qa.vec_id = c.vec_a
JOIN q qb ON qb.vec_id = c.vec_b
"""


UNPACK_N = 3


def udtf_polymorphic_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — the output schema is computed at
    ANALYSIS time by the UDTF's static ``analyze()`` from a constant
    argument (Spark 4): ``unpack(doc_id, text, 3)`` analyzes to
    columns ``tok_1..tok_3``, ``unpack(..., 5)`` to five — one
    class serves every width, the way built-in generators adapt
    their schema to their arguments. This is the schema-flexibility
    half of the UDTF contract (`udtf_chunk_documents` pins the
    static-returnType half); real uses: a parser whose field list
    comes from a format-descriptor argument, a feature extractor
    whose column set follows the requested feature pack.

    Output: doc_id, tok_1..tok_{UNPACK_N} (NULL-padded when a doc
    has fewer tokens — the contract an analyzer must state, not
    improvise).
    """
    import re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    ws = re.compile(r"\s+", re.ASCII)

    class _UnpackUDTF:
        @staticmethod
        def analyze(doc_id, text, n):
            # n must be foldable — its VALUE shapes the schema
            width = int(n.value)
            st = StructType().add("doc_id", LongType())
            for i in range(1, width + 1):
                st = st.add(f"tok_{i}", StringType())
            return AnalyzeResult(schema=st)

        def eval(self, doc_id, text, n):
            toks = [t for t in ws.split(text) if t]
            yield tuple(
                [doc_id] + [toks[i] if i < len(toks) else None for i in range(n)]
            )

    spark.udtf.register("unpack_udtf", udtf(_UnpackUDTF))
    table(spark, sf_dir, "documents").createOrReplaceTempView("_unpack_docs")
    return spark.sql(
        "SELECT u.* FROM _unpack_docs d,"
        f" LATERAL unpack_udtf(d.doc_id, d.text, {UNPACK_N}) u"
    )


_UNPACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id,
       {", ".join(f"tk[{i}] AS tok_{i}" for i in range(1, UNPACK_N + 1))}
FROM t
"""


def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``chunk_documents`` re-expressed as a PYTHON UDTF (table
    function, Spark 4): one input row → many output rows from
    arbitrary Python, invoked through SQL's LATERAL syntax. Same
    output contract and the SAME oracle as the expression form —
    proving the two paths coincide row-for-row.

    When to use which: the expression form (sequence/slice/
    posexplode) is the production path — pure codegen, scan-bound;
    the UDTF is the seam for row-generators that genuinely need
    Python (a real tokenizer, a document parser emitting sections),
    paying one Arrow batch hop. This entry keeps the seam tested so
    swapping a real tokenizer in later is a one-class change.

    Output: doc_id, chunk_idx, n_tokens, chunk_text."""
    from pyspark.sql.functions import udtf

    import re

    # ASCII-only \s to match the JVM tokenizer (Java's \s is ASCII;
    # Python's str.split() and default re \s also split on Unicode
    # whitespace like NBSP, which would silently diverge from the
    # expression path on non-ASCII corpora)
    ws = re.compile(r"\s+", re.ASCII)

    class _ChunkUDTF:
        def eval(self, doc_id, text):
            toks = [t for t in ws.split(text) if t]
            n = len(toks)
            idx = 0
            for s in range(0, n, CHUNK_STRIDE):
                chunk = toks[s : s + CHUNK_SIZE]
                yield doc_id, idx, len(chunk), " ".join(chunk)
                idx += 1

    fn = udtf(
        _ChunkUDTF,
        returnType=(
            "doc_id bigint, chunk_idx bigint, n_tokens bigint,"
            " chunk_text string"
        ),
    )
    spark.udtf.register("chunk_docs_udtf", fn)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT c.* FROM _udtf_docs d,"
        " LATERAL chunk_docs_udtf(d.doc_id, d.text) c"
    )


def observed_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters via the ``Observation`` API: audit
    metrics (row count, total chars, short-doc count) ride the SAME
    scan as the production action — at 100 TB the difference between
    `observe` and a separate audit query is a second full pass over
    the corpus. The observe node sits above the scan, so its
    aggregates see every row while the driving action computes the
    kept subset; Spark delivers the metrics to the driver as
    accumulator-style results when the action completes (a 1-row
    driver materialization is the API's designed output shape, not a
    collect() of data).

    Output: n_docs, total_chars, n_short, n_kept — all four proven
    against one batch SQL oracle, which is the point: the
    side-channel must agree with what a dedicated query would say.
    """
    from pyspark.sql import Observation

    docs = table(spark, sf_dir, "documents")
    obs = Observation("quality_audit")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.count(F.when(F.length("text") < 40, 1)).alias("n_short"),
    )
    # the production action: count the docs that survive the length
    # floor — one scan serves both it and the audit
    n_kept = observed.where(F.length("text") >= 40).count()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_docs"], m["total_chars"], m["n_short"], n_kept)],
        "n_docs bigint, total_chars bigint, n_short bigint, n_kept bigint",
    )


_OBSERVED_AUDIT = """
SELECT count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       count(CASE WHEN length(text) < 40 THEN 1 END)::BIGINT AS n_short,
       count(CASE WHEN length(text) >= 40 THEN 1 END)::BIGINT AS n_kept
FROM documents
"""


SAMPLE_EXACT_K = 50


def sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K-per-group sampling — eval/calibration-set
    construction, where a rate-based sample (``sample_stratified``)
    can't hit the size contract. Selection order is md5 of the doc
    id (engine-portable, partitioning-independent), doc_id tiebreak,
    so the K winners are a deterministic function of the corpus —
    stable across reruns, engines, and cluster sizes.

    Scale shape: one lang-keyed window shuffle; rank state per
    partition is a counter, and rows past K short-circuit. For
    billion-doc groups the same contract runs as a per-group top-K
    heap (``TakeOrderedAndProject``-style) on (md5, doc_id) — the
    window form is the clearer plan and identical output.

    Output: doc_id, lang."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SAMPLE_EXACT_K)
        .select("doc_id", "lang")
    )


_SAMPLE_EXACT_K_SQL = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents) WHERE rn <= {SAMPLE_EXACT_K}
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 embedding quantization — the storage lever that turns a
    100 TB float32 embedding table into 25 TB (+1 scale per vector):
    per-vector max-abs scaling to [-127, 127], the scheme faiss/
    vector-DB scalar quantization uses. All math is exact integers —
    floats enter once through ``floor(x·1e6)`` (identical IEEE
    double→floor in both engines) and every subsequent step is
    int64 multiply/DIV/% (identical truncation semantics verified
    cross-engine) — so quantized codes AND reconstruction-error
    sums are bit-deterministic, not float-drift-prone. Zero-shuffle:
    one narrow projection pass over the vectors.

    Output: vec_id, scale_micro, sum_q (signed code checksum),
    max_abs_q (≤127 by construction), err_sum (Σ|v·127 mod scale|,
    the exact total reconstruction residue in micro·127 units).
    """
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding,"
                " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
            ).alias("m"),
        )
        .withColumn(
            "scale_micro",
            F.expr(
                "greatest(array_max(transform(m, v -> abs(v))), CAST(1 AS BIGINT))"
            ),
        )
        .select(
            "vec_id",
            "scale_micro",
            F.expr(
                "aggregate(m, CAST(0 AS BIGINT),"
                " (acc, v) -> acc + (v * 127) DIV scale_micro)"
            ).alias("sum_q"),
            F.expr(
                "array_max(transform(m, v -> abs((v * 127) DIV scale_micro)))"
            ).alias("max_abs_q"),
            F.expr(
                "aggregate(m, CAST(0 AS BIGINT),"
                " (acc, v) -> acc + abs((v * 127) % scale_micro))"
            ).alias("err_sum"),
        )
    )


_QUANT_SQL = """
WITH m AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000)::BIGINT) AS mm
  FROM embeddings
), s AS (
  SELECT vec_id, mm,
         greatest(list_max(list_transform(mm, v -> abs(v))), 1) AS scale_micro
  FROM m
)
SELECT vec_id, scale_micro,
       list_sum(list_transform(mm, v -> (v * 127) // scale_micro))::BIGINT
         AS sum_q,
       list_max(list_transform(mm, v -> abs((v * 127) // scale_micro)))::BIGINT
         AS max_abs_q,
       list_sum(list_transform(mm, v -> abs((v * 127) % scale_micro)))::BIGINT
         AS err_sum
FROM s
"""


SAMPLE_WEIGHTED_K = 100


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED priority sampling — longer documents proportionally
    more likely to be drawn (token-budget-aware corpus sampling,
    where uniform doc sampling under-weights long documents). Each
    doc gets a deterministic pseudo-uniform draw ``u`` (60 bits of
    md5, engine-portable) and priority ``u DIV weight``; the K
    smallest priorities win — the A-ES bottom-k scheme with the
    float ``ln(u)/w`` key replaced by an EXACT integer division, so
    selection is bit-deterministic across engines, reruns, and
    partitionings (no IEEE-log drift can flip a near-tie).

    Scale shape: zero-shuffle priority computation + one global
    bottom-K (``TakeOrderedAndProject`` — per-partition heaps, K
    rows to the driver-side merge, never a full sort).

    Output: doc_id, lang, weight, priority."""
    docs = table(spark, sf_dir, "documents")
    # DIV, not "/": Spark's / on longs is a double divide, and 60-bit
    # draws don't fit a 53-bit mantissa — the priority must stay an
    # exact integer quotient in both engines.
    prio = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) DIV n_chars"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").alias("weight"),
            prio.alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(SAMPLE_WEIGHTED_K)
    )


_SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id, lang, n_chars AS weight,
       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         // n_chars AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {SAMPLE_WEIGHTED_K}
"""


SPAN_N = 5


def duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication metric — the curation
    signal behind RefinedWeb/Gopher-style boilerplate removal: for
    each document, the fraction of its tokens covered by a
    ``SPAN_N``-gram that also appears verbatim in ANOTHER document.
    Unlike dedup_exact (whole doc) and dedup_minhash (whole-doc
    similarity), this localizes duplication to spans, so a document
    that embeds a widely-copied passage scores high even when the
    rest is unique.

    Scale shape: spans are built narrowly per row (array slide — no
    window shuffle), the cross-doc test is ONE aggregate on the span
    key, coverage explodes only the duplicated spans (×SPAN_N on the
    dup subset, not the corpus), and the final distinct+count
    shuffles (doc_id, pos) pairs of covered tokens only. No
    all-pairs join anywhere.

    Output: doc_id, n_tokens, n_dup_tokens, dup_frac.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    arr = F.col("toks")
    starts = F.when(
        F.size(arr) >= SPAN_N, F.sequence(F.lit(0), F.size(arr) - SPAN_N)
    ).otherwise(F.array().cast("array<int>"))
    span_arr = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(arr, i + 1, SPAN_N))
    )
    spans = docs.select(
        "doc_id", F.posexplode(span_arr).alias("pos", "span")
    )
    dup_spans = (
        spans.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("span")
    )
    covered = (
        spans.join(dup_spans, "span", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
            ).alias("covered"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    per_doc = docs.select("doc_id", F.size(arr).cast("long").alias("n_tokens"))
    return per_doc.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce("n_dup", F.lit(0)) / F.col("n_tokens"), 6
            )
        )
        .alias("dup_frac"),
    )


_DUP_SPAN = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), spans0 AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ts) - {SPAN_N - 1}, 0)),
           i -> {{'pos': i - 1,
                 'span': ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                         || ' ' || ts[i+3] || ' ' || ts[i+4]}})) AS sp
  FROM toks
), spans AS (
  SELECT doc_id, sp.pos AS pos, sp.span AS span FROM spans0
), dup AS (
  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT doc_id, covered FROM (
    SELECT s.doc_id, unnest(generate_series(s.pos, s.pos + {SPAN_N - 1})) AS covered
    FROM spans s JOIN dup USING (span)
  )
), cnt AS (
  SELECT doc_id, count(*) AS n_dup FROM cov GROUP BY 1
)
SELECT t.doc_id, len(ts)::BIGINT AS n_tokens,
       coalesce(n_dup, 0)::BIGINT AS n_dup_tokens,
       CASE WHEN len(ts) = 0 THEN 0.0
            ELSE round(coalesce(n_dup, 0) / len(ts), 6) END AS dup_frac
FROM toks t LEFT JOIN cnt USING (doc_id)
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: adjacent symbol-pair frequencies
    across the corpus (the statistic each merge iteration of
    byte-pair encoding maximizes; ``token_count_bpe`` APPLIES a
    fixed tokenizer, this is the op that TRAINS one).

    Scale shape — count on the VOCABULARY, not the corpus: words
    first collapse to (word, n_occurrences) — one hash aggregate,
    vocabulary ≪ corpus — then each distinct word explodes into its
    ≤len-1 character pairs weighted by its count. A 100 TB corpus
    with a 10M-word vocabulary does the pair explosion on 10M rows,
    which is why real BPE trainers (sentencepiece et al.) keep a
    word-count dict. Pair set is bounded by charset² regardless of
    corpus size, so the output aggregate is tiny.

    Output: pair, cnt (every adjacent pair, exact).
    """
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # chars is a NAMED column before the pair lambda reads it (see
    # token_windows): inline, the split re-ran per element access
    chars = words.select(
        "n",
        F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit("")).alias(
            "chars"
        ),
    )
    return (
        chars.select(
            "n", F.explode(token_windows(F.col("chars"), 2, F.concat)).alias("pair")
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
    )


BPE_TRAIN_MERGES = 3


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING, iterated: the first ``BPE_TRAIN_MERGES`` merge
    rules learned from the corpus — each round counts adjacent
    symbol-pair frequencies over the vocabulary, adopts the argmax
    pair (count DESC, pair ASC tiebreak — deterministic across
    engines and partitionings), and rewrites every word's symbol
    sequence with the merged token before the next round. This is
    the loop sentencepiece/HuggingFace trainers run;
    ``bpe_pair_counts`` is its first half-iteration.

    Symbol sequences ride in ONE string column with each symbol
    wrapped in '|' markers ('hello' → '|h||e||l||l||o|'), so a merge
    is a plain ``replace(enc, '|a||b|', '|ab|')`` — non-overlapping
    left-to-right in both engines, and the double-marker boundary
    makes a cross-symbol false match impossible ('|a||b|' can't
    match inside '|ab|' or across '|xa||b|'). Words containing the
    marker are excluded identically on both sides.

    Scale shape: all counting happens on the VOCABULARY (one hash
    agg collapses the corpus first), the argmax is a 1-row
    broadcast — never a driver collect — and the rewrite is a
    narrow per-row expression. Per round: one pair-count shuffle
    (output bounded by symbol-set², not corpus) + one broadcast.
    The 3-deep lazy plan stays analyzable; a 30k-merge production
    run would localCheckpoint the vocabulary every few rounds the
    way embedding_kmeans does.

    Output: step, left_sym, right_sym, pair_count.
    """
    rules, _ = _merge_rounds(
        spark,
        sf_dir,
        BPE_TRAIN_MERGES,
        lambda syms, pc: pc.orderBy(F.desc("pc"), "a", "b"),
    )
    return reduce(lambda a, b: a.unionByName(b), rules)


def _merge_rounds(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int,
    ranked: Callable[[DataFrame, DataFrame], DataFrame],
) -> tuple[list[DataFrame], DataFrame]:
    """The merge-training loop shared by BPE (``bpe_train_merges``) and
    WordPiece (``_wp_rounds``): vocabulary collapse, then per round
    split every word's marker encoding into symbols, count adjacent
    pairs over the vocabulary, adopt the first row of
    ``ranked(syms, pc)`` — the round's (n, syms) rows and its
    (a, b, pc) pair counts ordered by the trainer's merge objective —
    and rewrite every encoding with the adopted pair.

    Returns (per-round 1-row rule frames (step, left_sym, right_sym,
    pair_count, then any further columns ``ranked`` added), the
    vocabulary after the last rewrite). The final rewrite is lazy: a
    caller that needs only the rules runs nothing for it."""
    # persist the collapsed vocabulary: every merge round re-evaluates
    # the vocab lineage (twice for WordPiece: symbol and pair counts),
    # which without the persist re-scans + re-tokenizes + re-aggregates
    # the CORPUS per round
    words = track_persist(
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("word"))
        .filter(~F.col("word").contains("|"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = words.select(
        "n", F.regexp_replace("word", "(.)", r"|$1|").alias("enc")
    )
    rules = []
    for step in range(1, n_merges + 1):
        # syms is a NAMED column before the pair lambda reads it:
        # Catalyst does not CSE into lambda bodies, so an inline
        # split(trim(enc)) re-ran the regex split per pair element,
        # O(len²) per word (see token_windows)
        syms = vocab.select(
            "n", F.split(F.expr("trim(BOTH '|' FROM enc)"), r"\|\|").alias("syms")
        )
        pairs = token_windows(
            F.col("syms"), 2, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
        )
        pc = (
            syms.select("n", F.explode(pairs).alias("pr"))
            .select("n", "pr.a", "pr.b")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("pc"))
        )
        # eager 1-row argmax: read by the result AND the rewrite, and
        # keeps the next round's plan shallow (lazy rounds measured
        # slower)
        best = ranked(syms, pc).limit(1).localCheckpoint()
        rules.append(
            best.select(
                F.lit(step).cast("long").alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("pc").alias("pair_count"),
                *best.columns[3:],
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("a", "b")))
            .withColumn(
                "enc",
                F.expr(
                    "replace(enc, '|' || a || '||' || b || '|',"
                    " '|' || a || b || '|')"
                ),
            )
            .select("n", "enc")
        )
    return rules, vocab


def _bpe_train_ctes(n_merges: int = BPE_TRAIN_MERGES) -> list[str]:
    """Shared CTE prefix for the BPE oracles: vocabulary collapse,
    then one (symbols → pairs → argmax → rewrite) block per round —
    same tiebreak, same replace() semantics as the Spark loop."""
    ctes = [
        "WITH words AS (\n"
        "  SELECT word, count(*)::BIGINT AS n FROM (\n"
        "    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),\n"
        "                              t -> t <> '')) AS word\n"
        "    FROM documents\n"
        "  ) WHERE word NOT LIKE '%|%' GROUP BY word\n"
        "), v0 AS (\n"
        "  SELECT n, regexp_replace(word, '(.)', '|\\1|', 'g') AS enc FROM words\n"
        ")"
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f", s{i} AS (\n"
            f"  SELECT n, string_split(trim(enc, '|'), '||') AS syms FROM v{i - 1}\n"
            f"), p{i} AS (\n"
            f"  SELECT n, unnest(list_transform(\n"
            f"    generate_series(1, greatest(len(syms) - 1, 0)),\n"
            f"    j -> struct_pack(a := syms[j], b := syms[j+1]))) AS pr\n"
            f"  FROM s{i}\n"
            f"), b{i} AS (\n"
            f"  SELECT pr.a AS a, pr.b AS b, sum(n)::BIGINT AS pc\n"
            f"  FROM p{i} GROUP BY 1, 2 ORDER BY pc DESC, a, b LIMIT 1\n"
            f")"
        )
        if i < n_merges:
            ctes.append(
                f", v{i} AS (\n"
                f"  SELECT n, replace(enc, '|' || b{i}.a || '||' || b{i}.b || '|',\n"
                f"                    '|' || b{i}.a || b{i}.b || '|') AS enc\n"
                f"  FROM v{i - 1}, b{i}\n"
                f")"
            )
    return ctes


def _bpe_train_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    selects = [
        f"SELECT {i}::BIGINT AS step, a AS left_sym, b AS right_sym,"
        f" pc AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    ]
    return "".join(_bpe_train_ctes(n_merges)) + "\n" + "\nUNION ALL ".join(selects)


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY — the third leg of the BPE story (``bpe_pair_counts``
    counts, ``bpe_train_merges`` trains, this ENCODES): tokenize every
    document with the corpus-trained first-``BPE_TRAIN_MERGES`` merge
    rules, exactly what a training pipeline does after the trainer
    converges. Every word is wrapped in the marker encoding
    ('hello' → '|h||e||l||l||o|') and the learned merges apply as
    sequential replaces IN STEP ORDER — the same rewrite the trainer
    itself used, so encode∘train round-trips by construction. Words
    containing the marker are excluded exactly as in training.

    Scale shape: training cost is paid once (the trainer's argmax
    rounds are vocabulary-bounded and its 1-row results are already
    localCheckpointed); the learned rules PIVOT to ONE broadcast row
    (a1,b1..aK,bK — never a driver collect), and encoding is a
    narrow per-row ``transform`` over each doc's token array with a
    K-deep replace chain — scan-bound, zero shuffle beyond the final
    sort. The md5 of the space-joined per-word encodings witnesses
    byte-exact tokenization; n_symbols is the post-merge token count
    (the number a packing/budgeting stage consumes).

    Output: doc_id, n_words, n_symbols, enc_hash.
    """
    merges = bpe_train_merges(spark, sf_dir)
    rules_row = merges.agg(
        *[
            f
            for k in range(1, BPE_TRAIN_MERGES + 1)
            for f in (
                F.max(F.when(F.col("step") == k, F.col("left_sym"))).alias(
                    f"a{k}"
                ),
                F.max(F.when(F.col("step") == k, F.col("right_sym"))).alias(
                    f"b{k}"
                ),
            )
        ]
    )
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts")).crossJoin(
        F.broadcast(rules_row)
    )
    words = F.filter(F.col("ts"), lambda w: ~w.contains("|"))

    def _enc(w: F.Column) -> F.Column:
        e = F.regexp_replace(w, "(.)", r"|$1|")
        for k in range(1, BPE_TRAIN_MERGES + 1):
            # coalesce to an impossible marker so a corpus with fewer
            # than K learnable merges (rule k is NULL) no-ops instead
            # of NULL-poisoning the encoding — mirrored in the oracle
            a = F.coalesce(F.col(f"a{k}"), F.lit("\x01"))
            b = F.coalesce(F.col(f"b{k}"), F.lit("\x01"))
            e = F.replace(
                e,
                F.concat(F.lit("|"), a, F.lit("||"), b, F.lit("|")),
                F.concat(F.lit("|"), a, b, F.lit("|")),
            )
        return e

    # materialize the encoded-word array in its OWN projection:
    # n_symbols and enc_hash both consume it, and lambda-bearing
    # expressions are outside codegen subexpression elimination, so
    # an inline enc_arr would run the regexp-wrap + K-replace chain
    # TWICE per word (multi-referenced non-cheap projections stay
    # un-collapsed, so this single evaluation survives the optimizer)
    enc_df = toks.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.transform(words, _enc).alias("encs"),
    )
    n_syms_per = F.transform(
        F.col("encs"),
        lambda e: F.size(F.split(F.btrim(e, F.lit("|")), r"\|\|")),
    )
    return enc_df.select(
        "doc_id",
        "n_words",
        F.aggregate(
            n_syms_per, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_symbols"),
        F.md5(F.concat_ws(" ", "encs")).alias("enc_hash"),
    ).orderBy("doc_id")


def _bpe_encode_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Training CTEs (shared with _bpe_train_oracle) + the apply
    stage: pivot the learned rules to one row, replay the per-word
    marker encoding and replace chain, count post-merge symbols,
    hash the joined encodings."""
    rules = ", ".join(
        f"coalesce((SELECT a FROM b{k}), chr(1)) AS a{k},"
        f" coalesce((SELECT b FROM b{k}), chr(1)) AS b{k}"
        for k in range(1, n_merges + 1)
    )
    chain = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for k in range(1, n_merges + 1):
        chain = (
            f"replace({chain}, '|' || r.a{k} || '||' || r.b{k} || '|',"
            f" '|' || r.a{k} || r.b{k} || '|')"
        )
    return "".join(_bpe_train_ctes(n_merges)) + f"""
, rules AS (
  SELECT {rules}
), arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     t -> t <> '' AND t NOT LIKE '%|%') AS ws
  FROM documents
), encoded AS (
  SELECT doc_id,
         list_transform(ws, w -> {chain}) AS encs,
         len(ws)::BIGINT AS n_words
  FROM arr, rules r
)
SELECT doc_id, n_words,
       coalesce(list_sum(list_transform(encs,
         e -> len(string_split(trim(e, '|'), '||')))), 0)::BIGINT AS n_symbols,
       md5(array_to_string(encs, ' ')) AS enc_hash
FROM encoded
ORDER BY doc_id
"""


_BPE_ENCODE_SQL = _bpe_encode_oracle()


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — post-BPE symbols per word,
    the standard tokenizer-fairness metric (a tokenizer trained on
    one language's corpus fragments other languages into more pieces,
    inflating their effective sequence length and training cost;
    fertility per language is the number multilingual pipelines
    monitor). Composes ``bpe_encode`` (corpus-trained rules applied
    per doc) with the documents' language column.

    Exact integers: fert_micro = Σ n_symbols·10⁶ DIV Σ n_words per
    language (corpus-level ratio, not an average of per-doc ratios —
    the estimator actually used, robust to short docs). Languages
    whose docs have zero encodable words are absent on both engines.

    Scale shape: bpe_encode's scan-bound apply + ONE tiny aggregate
    keyed by language (|langs| rows) — the fertility rollup adds no
    shuffle beyond that aggregate.

    Output: lang, n_docs, n_words, n_symbols, fert_micro.
    """
    enc = bpe_encode(spark, sf_dir)
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        enc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_symbols").alias("n_symbols"),
        )
        .where(F.col("n_words") > 0)
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_symbols",
            F.expr("(n_symbols * 1000000) DIV n_words").alias("fert_micro"),
        )
        .orderBy("lang")
    )


def _tokenizer_fertility_oracle() -> str:
    """bpe_encode's oracle re-aggregated by language (the encode SQL
    rides along as a CTE; same integer ratio)."""
    enc_sql = _bpe_encode_oracle().strip()
    return f"""
WITH enc AS (
{enc_sql}
)
SELECT d.lang, count(*)::BIGINT AS n_docs,
       sum(e.n_words)::BIGINT AS n_words,
       sum(e.n_symbols)::BIGINT AS n_symbols,
       ((sum(e.n_symbols) * 1000000) // sum(e.n_words))::BIGINT AS fert_micro
FROM enc e JOIN documents d ON d.doc_id = e.doc_id
GROUP BY 1
HAVING sum(e.n_words) > 0
ORDER BY 1
"""


_TOKENIZER_FERTILITY_SQL = _tokenizer_fertility_oracle()


# --- Unigram-LM tokenizer (SentencePiece-style; Kudo 2018) ----------
# The tokenizer family modern pipelines actually ship (T5/LLaMA)
# beside BPE. House integer-twin discipline: the real algorithm's
# float log-probs are QUANTIZED to integer bit-lengths
# (score(piece) = bit_length(count)), so Viterbi segmentation and the
# EM re-estimation replay engine-exactly — no libm logs (the IEEE
# determinism rule), no float state. The objective per word is
#   maximize   Σ bits(cnt(piece)) − n_pieces · bits(N)
# (the quantized Σ log p form), ties broken by fewer pieces, then by
# the smallest boundary MASK (bit j−1 set ⟺ a cut after char j) —
# a total order both engines can state.
UNI_MAX_PIECE = 3  # max piece length (seed substrings 1..3)
UNI_MAX_WORD = 12  # words longer are excluded identically everywhere
UNI_VOCAB_K = 48  # multi-char seed pieces kept (count DESC, piece ASC)
UNI_EM_ROUNDS = 2  # Viterbi-EM re-estimation rounds after seeding
_UNI_US = "\x1f"  # piece separator inside a word's encoding


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collapsed to (word, n) — the vocabulary every unigram
    stage (seeding, EM, encode) operates on; words over UNI_MAX_WORD
    chars excluded identically on both engines (the oracle's mask
    enumeration is 2^(L−1) per distinct word — the cap keeps it
    bounded; real corpora cap word length too)."""
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("word"))
        .where(F.length("word") <= UNI_MAX_WORD)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _uni_segment(words_with_vocab: DataFrame) -> DataFrame:
    """Viterbi segmentation of each DISTINCT word under the current
    integer-quantized vocabulary — vocabulary-bounded Arrow-batched
    Python (the trainer's inner loop; sentencepiece runs this on one
    node over the word-count dict — here it's distributed over the
    collapsed vocab, never the corpus). Input rows carry the vocab
    as ONE pivoted list column (broadcast crossJoin — never a driver
    collect, the ``bpe_encode`` rules-row discipline).

    DP tuple per prefix: (score, n_pieces, mask), compared
    (score DESC, n_pieces ASC, mask ASC); additivity + disjoint
    higher mask bits make prefix-optimality exact for the
    lexicographic objective. Coverage is guaranteed: every corpus
    word's chars are 1-char vocab entries (chars never prune).

    Output: word, n, pieces (in order)."""
    import pandas as pd

    def seg(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vps = pdf["vps"].iloc[0]
            cnt = {r["piece"]: int(r["cnt"]) for r in vps}
            bn = sum(cnt.values())
            bn = bn.bit_length()
            out = []
            for word, n in zip(pdf["word"], pdf["n"]):
                L = len(word)
                best: list = [(0, 0, 0)] + [None] * L
                for j in range(1, L + 1):
                    cand = None
                    for i in range(max(0, j - UNI_MAX_PIECE), j):
                        if best[i] is None:
                            continue
                        c = cnt.get(word[i:j])
                        if c is None:
                            continue
                        t = (
                            best[i][0] + c.bit_length() - bn,
                            best[i][1] + 1,
                            best[i][2] | ((1 << (i - 1)) if i else 0),
                        )
                        if cand is None or (t[0], -t[1], -t[2]) > (
                            cand[0], -cand[1], -cand[2],
                        ):
                            cand = t
                    best[j] = cand
                mask = best[L][2]
                cuts = [j for j in range(1, L) if (mask >> (j - 1)) & 1]
                cuts.append(L)
                pieces, prev = [], 0
                for cpos in cuts:
                    pieces.append(word[prev:cpos])
                    prev = cpos
                out.append((word, int(n), pieces))
            yield pd.DataFrame(out, columns=["word", "n", "pieces"])

    return words_with_vocab.mapInPandas(
        seg, "word string, n long, pieces array<string>"
    )


def _uni_vocab_row(vocab: DataFrame) -> DataFrame:
    return vocab.agg(
        F.collect_list(F.struct("piece", "cnt")).alias("vps")
    )


def _unigram_vocab(
    spark: SparkSession, sf_dir: str, rounds: int = UNI_EM_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """Seed + `rounds` Viterbi-EM re-estimations. Returns
    (final vocab (piece, cnt), the collapsed words relation).

    Scale shape (the ``bpe_train_merges`` loop discipline): the
    corpus collapses to the vocabulary ONCE (one hash aggregate);
    seeding explodes ≤ L·UNI_MAX_PIECE substrings per DISTINCT word;
    each EM round is one vocab-bounded segmentation pass + one
    map-side-combinable usage aggregate; the vocab rides as a
    broadcast 1-row pivot and is localCheckpointed per round (plan
    truncation, the embedding_kmeans discipline). Multi-char pieces
    prune monotonically (usage 0 → out); 1-char pieces never prune
    (coverage), carrying usage 0 honestly."""
    words = track_persist(_uni_words(spark, sf_dir))
    subs = F.expr(
        f"""flatten(transform(sequence(1, length(word)), i ->
            transform(sequence(1, least({UNI_MAX_PIECE},
                                        length(word) - i + 1)),
                      l -> substring(word, i, l))))"""
    )
    seed = (
        words.select("n", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    chars = seed.where(F.length("piece") == 1).localCheckpoint()
    multi = (
        seed.where(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(UNI_VOCAB_K)
    )
    vocab = chars.unionByName(multi).localCheckpoint()
    for _ in range(rounds):
        segd = _uni_segment(words.crossJoin(F.broadcast(_uni_vocab_row(vocab))))
        usage = (
            segd.select("n", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
        )
        chars_u = (
            chars.select("piece")
            .join(usage, "piece", "left")
            .select("piece", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        )
        multi_u = usage.where(F.length("piece") >= 2)
        vocab = chars_u.unionByName(multi_u).localCheckpoint()
    return vocab, words


def unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER TRAINING (SentencePiece-style, Kudo 2018
    §3; integer-quantized per the house _int discipline — see module
    comment above UNI_MAX_PIECE): seed vocabulary = all 1..3-char
    substrings of the collapsed corpus words (top-UNI_VOCAB_K
    multi-char by count, ALL single chars), then UNI_EM_ROUNDS
    Viterbi-EM rounds — segment every distinct word under the
    current integer scores, re-estimate piece counts from usage,
    prune unused multi-char pieces.

    Output: piece, usage, score_bits (final round's counts and
    quantized scores)."""
    vocab, _ = _unigram_vocab(spark, sf_dir)
    return vocab.select(
        "piece",
        F.col("cnt").alias("usage"),
        F.when(F.col("cnt") == 0, F.lit(0))
        .otherwise(F.length(F.expr("bin(cnt)")))
        .cast("int")
        .alias("score_bits"),
    ).orderBy(F.desc("usage"), "piece")


def unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM APPLY — Viterbi-encode every document with the
    corpus-trained final vocabulary (the ``bpe_encode`` counterpart
    for the unigram family): the distinct-word → piece-sequence map
    is computed ONCE on the collapsed vocabulary, then joined back
    to the documents' token stream (word-keyed join, vocabulary ≪
    corpus — broadcastable in deploys with a bounded dict). The md5
    of the doc's space-joined word encodings (pieces joined by the
    unit separator) witnesses byte-exact segmentation.

    Output: doc_id, n_words, n_pieces, enc_hash (docs whose every
    word exceeds UNI_MAX_WORD are absent on both engines)."""
    vocab, words = _unigram_vocab(spark, sf_dir)
    segd = _uni_segment(words.crossJoin(F.broadcast(_uni_vocab_row(vocab))))
    wmap = segd.select(
        "word",
        F.concat_ws(_UNI_US, "pieces").alias("enc"),
        F.size("pieces").cast("long").alias("k"),
    )
    docw = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "word"))
        .where(F.length("word") <= UNI_MAX_WORD)
    )
    return (
        docw.join(wmap, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("k").alias("n_pieces"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "enc"))
                        ),
                        lambda s: s["enc"],
                    ),
                )
            ).alias("enc_hash"),
        )
        .orderBy("doc_id")
    )


def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vs UNIGRAM fertility head-to-head per language — the
    comparison a tokenizer bake-off actually reads (Kudo 2018 §5
    evaluates unigram against BPE the same way): corpus-level
    symbols-per-word in exact integer micro-units for each family,
    joined on language. Each family's denominator is its own
    encodable-word set (BPE excludes marker-bearing words, unigram
    excludes words over UNI_MAX_WORD) — the honest per-family
    metric, same estimator as ``tokenizer_fertility``.

    Output: lang, bpe_fert_micro, uni_fert_micro.
    """
    bpe = tokenizer_fertility(spark, sf_dir).select(
        "lang", F.col("fert_micro").alias("bpe_fert_micro")
    )
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    uni = (
        unigram_encode(spark, sf_dir)
        .join(langs, "doc_id")
        .groupBy("lang")
        .agg(F.sum("n_words").alias("nw"), F.sum("n_pieces").alias("np"))
        .where(F.col("nw") > 0)
        .select(
            "lang", F.expr("(np * 1000000) DIV nw").alias("uni_fert_micro")
        )
    )
    return bpe.join(uni, "lang").orderBy("lang")


def _uni_base_ctes() -> str:
    """Words collapse + substring seeding + seed vocabulary (v0)."""
    return f"""WITH words AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS n FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS word
    FROM documents
  ) WHERE length(word) <= {UNI_MAX_WORD} GROUP BY 1
), seed AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt FROM (
    SELECT n, substr(word, i, l) AS piece
    FROM words,
         unnest(generate_series(1, length(word))) AS ui(i),
         unnest(generate_series(1, {UNI_MAX_PIECE})) AS ul(l)
    WHERE i + l - 1 <= length(word)
  ) GROUP BY 1
), chars0 AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE length(piece) = 1
), multi0 AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE length(piece) >= 2
  ORDER BY cnt DESC, piece LIMIT {UNI_VOCAB_K}
), v0 AS MATERIALIZED (
  SELECT * FROM chars0 UNION ALL SELECT * FROM multi0
)"""


def _uni_seg_ctes(tag: str, vocab_cte: str) -> str:
    """One Viterbi segmentation block over `words` under `vocab_cte`:
    enumerate every boundary mask per distinct word (2^(L−1), L ≤
    UNI_MAX_WORD), slice pieces, validate (length ≤ UNI_MAX_PIECE and
    in-vocab), score Σ bits(cnt) − n_pieces·bits(N), pick per word by
    (score DESC, pieces ASC, mask ASC) — the exact objective the
    Spark DP optimizes, stated enumeratively."""
    return f"""
, n{tag} AS MATERIALIZED (
  SELECT sum(cnt)::BIGINT AS nn FROM {vocab_cte}
), bn{tag} AS MATERIALIZED (
  SELECT CASE WHEN nn = 0 THEN 0
         ELSE length(printf('%b', nn)) END AS bn FROM n{tag}
), masks{tag} AS MATERIALIZED (
  SELECT word, n, m,
         list_append(list_filter(generate_series(1, length(word) - 1),
                     j -> ((m >> (j - 1)::INT) & 1) = 1),
                     length(word)) AS cuts
  FROM words,
       unnest(generate_series(0,
              (1::BIGINT << (length(word) - 1)::INT) - 1)) AS u(m)
), pieces{tag} AS MATERIALIZED (
  SELECT word, n, m, k,
         word[(CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END) + 1
              : cuts[k]] AS piece,
         cuts[k] - (CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END) AS plen
  FROM masks{tag}, unnest(generate_series(1, len(cuts))) AS uk(k)
), scored{tag} AS MATERIALIZED (
  SELECT p.word, p.n, p.m,
         bool_and(v.piece IS NOT NULL
                  AND p.plen <= {UNI_MAX_PIECE}) AS valid,
         sum(CASE WHEN v.cnt IS NULL OR v.cnt = 0 THEN 0
                  ELSE length(printf('%b', v.cnt)) END)
           - count(*) * (SELECT bn FROM bn{tag}) AS score,
         count(*)::BIGINT AS np
  FROM pieces{tag} p LEFT JOIN {vocab_cte} v ON v.piece = p.piece
  GROUP BY 1, 2, 3
), best{tag} AS MATERIALIZED (
  SELECT word, n, m FROM (
    SELECT word, n, m,
           row_number() OVER (PARTITION BY word
                              ORDER BY score DESC, np ASC, m ASC) AS rn
    FROM scored{tag} WHERE valid
  ) WHERE rn = 1
), usage{tag} AS MATERIALIZED (
  SELECT p.piece, sum(b.n)::BIGINT AS cnt
  FROM best{tag} b JOIN pieces{tag} p ON p.word = b.word AND p.m = b.m
  GROUP BY 1
)"""


def _uni_train_chain(rounds: int = UNI_EM_ROUNDS) -> str:
    """Base + `rounds` EM blocks, each re-vocabing from usage
    (1-char pieces kept with usage 0; multi-char prune to used)."""
    parts = [_uni_base_ctes()]
    for r in range(1, rounds + 1):
        parts.append(_uni_seg_ctes(str(r), f"v{r - 1}"))
        parts.append(
            f"""
, v{r} AS MATERIALIZED (
  SELECT c.piece, coalesce(u.cnt, 0)::BIGINT AS cnt
  FROM chars0 c LEFT JOIN usage{r} u ON u.piece = c.piece
  UNION ALL
  SELECT piece, cnt FROM usage{r} WHERE length(piece) >= 2
)"""
        )
    return "".join(parts)


def _unigram_train_oracle(rounds: int = UNI_EM_ROUNDS) -> str:
    return (
        _uni_train_chain(rounds)
        + f"""
SELECT piece, cnt AS usage,
       (CASE WHEN cnt = 0 THEN 0
        ELSE length(printf('%b', cnt)) END)::INT AS score_bits
FROM v{rounds} ORDER BY usage DESC, piece
"""
    )


def _unigram_encode_oracle(rounds: int = UNI_EM_ROUNDS) -> str:
    return (
        _uni_train_chain(rounds)
        + _uni_seg_ctes("e", f"v{rounds}")
        + f"""
, wmap AS MATERIALIZED (
  SELECT p.word, string_agg(p.piece, chr(31) ORDER BY p.k) AS enc,
         count(*)::BIGINT AS k
  FROM beste b JOIN piecese p ON p.word = b.word AND p.m = b.m
  GROUP BY 1
), docw AS (
  SELECT doc_id, i AS pos, ws[i] AS word
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> t <> '') AS ws
        FROM documents),
       unnest(generate_series(1, len(ws))) AS ui(i)
  WHERE length(ws[i]) <= {UNI_MAX_WORD}
)
SELECT d.doc_id, count(*)::BIGINT AS n_words, sum(w.k)::BIGINT AS n_pieces,
       md5(string_agg(w.enc, ' ' ORDER BY d.pos)) AS enc_hash
FROM docw d JOIN wmap w ON w.word = d.word
GROUP BY 1 ORDER BY 1
"""
    )


def _tokenizer_fertility_compare_oracle() -> str:
    return f"""
WITH bpe AS (
{_TOKENIZER_FERTILITY_SQL.strip()}
), uni AS (
  WITH enc AS (
{_unigram_encode_oracle().strip()}
  )
  SELECT d.lang,
         ((sum(e.n_pieces) * 1000000) // sum(e.n_words))::BIGINT
           AS uni_fert_micro
  FROM enc e JOIN documents d ON d.doc_id = e.doc_id
  GROUP BY 1 HAVING sum(e.n_words) > 0
)
SELECT b.lang, b.fert_micro AS bpe_fert_micro, u.uni_fert_micro
FROM bpe b JOIN uni u USING (lang)
ORDER BY lang
"""


_UNIGRAM_TRAIN_SQL = _unigram_train_oracle()
_UNIGRAM_ENCODE_SQL = _unigram_encode_oracle()
_TOKENIZER_FERTILITY_COMPARE_SQL = _tokenizer_fertility_compare_oracle()


def quantile_normalize_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of the quality score WITHIN
    each document source — the step before cross-source mixing:
    heterogeneous sources score on incomparable raw scales (a clean
    encyclopedia source's worst doc can outscore a forum source's
    best), so mixing on raw quality silently starves whole sources;
    normalizing to within-source percentiles makes "keep the top
    30 % of every source" a single threshold.

    Shape: the quality expression is the in-tree ``quality_score``
    (exact integer micro-units), and the percentile is a rank window
    PARTITIONED BY SOURCE — per-key sort, NEVER a global sort (the
    scale property; a global percent_rank would single-partition the
    corpus). All-integer percentile: (rk−1)·10⁶ DIV (n−1), ties
    broken by doc_id, n=1 sources pinned to 0.

    Output: doc_id, source, quality, pct_micro.
    """
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    j = q.join(src, "doc_id")
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    rk = F.row_number().over(w)
    ranked = j.select(
        "doc_id",
        "source",
        "quality",
        (rk - F.lit(1)).cast("long").alias("_rk0"),
        F.greatest(n - F.lit(1), F.lit(1)).cast("long").alias("_den"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "quality",
        F.expr("(_rk0 * 1000000) DIV _den").alias("pct_micro"),
    ).orderBy("doc_id")


GINI_SCALE = 1_000_000


def char_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character DIVERSITY as Gini impurity
    1 − Σ_c p_c² over the char distribution — the entropy-style
    degenerate-text signal (template spam and single-char runs score
    near 0, natural text high) WITHOUT entropy's ln(): Gini is pure
    rational arithmetic of exact counts, so it is oracle-exact where
    Shannon entropy would hang the gate on libm rounding.

    Shape: the wordcount shape at char granularity — explode →
    (doc, char) count → per-doc Σk/Σk² — all codegen'd aggregates
    (an array-level map-fold per char measured 19 s at sf0.1 vs
    ~1 s for this form; higher-order map building is interpreted
    per element and allocates a map per step). Σk and Σk² are exact
    longs; the final value is ONE IEEE division, floor-quantized.

    Output: doc_id, n_chars_counted, gini_micro.
    """
    docs = table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), ""), lambda c: c != F.lit(""))
        ).alias("c"),
    )
    counts = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    per = counts.groupBy("doc_id").agg(
        F.sum("k").alias("n"), F.sum(F.col("k") * F.col("k")).alias("ss")
    )
    gini = F.lit(1.0) - F.col("ss").cast("double") / (
        F.col("n") * F.col("n")
    ).cast("double")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_chars_counted"
            ),
            F.when(
                F.col("n") > 0,
                F.floor(gini * F.lit(float(GINI_SCALE))).cast("long"),
            ).alias("gini_micro"),
        )
        .orderBy("doc_id")
    )


_CHAR_GINI_SQL = f"""
WITH chars AS (
  SELECT doc_id, c
  FROM documents,
       unnest(string_split(lower(text), '')) AS u(c)
  WHERE c <> ''
), counts AS (
  SELECT doc_id, c, count(*)::BIGINT AS k FROM chars GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, sum(k)::BIGINT AS n, sum(k * k)::BIGINT AS ss
  FROM counts GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n, 0)::BIGINT AS n_chars_counted,
       CASE WHEN p.n > 0 THEN
         floor((1.0 - p.ss::DOUBLE / (p.n * p.n)::DOUBLE)
               * {GINI_SCALE}.0)::BIGINT
       END AS gini_micro
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


MMD_Q = 1000  # milli quantization for the MMD kernel (|q| ≤ ~10³)


def mmd_drift_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KERNEL MMD² drift test (Gretton et al. 2012, "A Kernel
    Two-Sample Test", JMLR) between two embedding cohorts — the
    DISTRIBUTION-level drift check beside ``embedding_drift``'s
    per-label centroid distance (centroids can match while shape
    drifts; MMD with a characteristic-enough kernel sees variance
    and correlation shifts too). Kernel = degree-2 polynomial
    k(x,y) = (x·y)², chosen because its MMD is EXACT in moments:
    Σ_{ij}(x_i·x_j)² = Σ_{ab} M_ab² with M = Σ_i x_i x_iᵀ, so the
    whole pairwise-kernel sum collapses to Gram-moment arithmetic —
    ZERO pairwise joins, one corpus pass.

    Exactness: vectors quantize to exact milli longs; per-cohort
    second-moment matrices M_x, M_y are exact longs per (a,b) cell
    (one map-side-combinable aggregate over the d²-fanned rows);
    S_xx = ‖M_x‖², S_yy, S_xy = ⟨M_x, M_y⟩ are exact
    DECIMAL/HUGEINT sums; the biased V-statistic
    MMD² = S_xx/n² + S_yy/m² − 2·S_xy/(nm) folds once in doubles
    (kernel-normalized by Q⁴, ulp-clamped at 0 — MMD² ≥ 0 by
    construction). Cohorts = vec_id parity (the embedding_drift
    split): same distribution, so the registered value is the
    near-zero null reading; the pytest plants a shifted cohort and
    watches it fire.

    Scale shape: one narrow d²-fanout posexplode (n·4096 rows,
    map-side combined to 4096 cells), a 4096-row moment reduce, a
    1-row fold. Never an n×m kernel matrix.

    Output: n_x, n_y, mmd2_micro.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return mmd_poly(
        emb.select(
            (F.col("vec_id") % 2 == 0).alias("is_x"), "embedding"
        )
    )


def mmd_poly(cohorts: DataFrame) -> DataFrame:
    """MMD² kernel over any (is_x boolean, embedding) relation —
    split out so planted-shift tests drive the same code path."""
    qv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * MMD_Q).cast("long"),
    )
    prod = F.expr(
        "flatten(transform(qv, x -> transform(qv, y -> x * y)))"
    )
    rows = cohorts.select("is_x", qv.alias("qv")).select(
        "is_x", F.posexplode(prod).alias("ab", "v")
    )
    m = rows.groupBy("ab").agg(
        F.sum(F.expr("CASE WHEN is_x THEN v ELSE 0 END")).alias("mx"),
        F.sum(F.expr("CASE WHEN is_x THEN 0 ELSE v END")).alias("my"),
    )
    counts = cohorts.agg(
        F.sum(F.expr("CASE WHEN is_x THEN 1 ELSE 0 END")).alias("n_x"),
        F.sum(F.expr("CASE WHEN is_x THEN 0 ELSE 1 END")).alias("n_y"),
    )
    mom = m.agg(
        F.sum(F.expr("CAST(mx AS decimal(38,0)) * mx")).alias("sxx"),
        F.sum(F.expr("CAST(my AS decimal(38,0)) * my")).alias("syy"),
        F.sum(F.expr("CAST(mx AS decimal(38,0)) * my")).alias("sxy"),
    )
    mmd = _mmd_fold_expr()
    return mom.crossJoin(F.broadcast(counts)).select(
        F.col("n_x").cast("long").alias("n_x"),
        F.col("n_y").cast("long").alias("n_y"),
        F.expr(
            "CASE WHEN n_x > 0 AND n_y > 0 THEN"
            f" CAST(floor({mmd} * 1000000.0) AS BIGINT) END"
        ).alias("mmd2_micro"),
    )


def _mmd_fold_expr() -> str:
    """Shared Spark/DuckDB biased-MMD² fold, kernel-normalized by Q⁴
    and ulp-clamped at 0 (a V-statistic is ≥ 0 by construction)."""
    q4 = float(MMD_Q) ** 4
    return (
        "greatest((CAST(sxx AS DOUBLE)"
        " / (CAST(n_x AS DOUBLE) * CAST(n_x AS DOUBLE))"
        " + CAST(syy AS DOUBLE)"
        " / (CAST(n_y AS DOUBLE) * CAST(n_y AS DOUBLE))"
        " - 2.0 * CAST(sxy AS DOUBLE)"
        " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))"
        f" / {q4}, 0.0)"
    )


def _mmd_sql() -> str:
    mmd = _mmd_fold_expr()
    return f"""
WITH q AS (
  SELECT (vec_id % 2 = 0) AS is_x,
         list_transform(embedding, x -> round(x::DOUBLE * {MMD_Q})::BIGINT) AS qv
  FROM embeddings
), pr AS (
  SELECT is_x, (i - 1) * {EMB_DIM} + (j - 1) AS ab, qv[i] * qv[j] AS v
  FROM q,
       unnest(generate_series(1, {EMB_DIM})) AS ui(i),
       unnest(generate_series(1, {EMB_DIM})) AS uj(j)
), m AS (
  SELECT ab,
         sum(CASE WHEN is_x THEN v ELSE 0 END)::BIGINT AS mx,
         sum(CASE WHEN is_x THEN 0 ELSE v END)::BIGINT AS my
  FROM pr GROUP BY 1
), counts AS (
  SELECT sum(CASE WHEN is_x THEN 1 ELSE 0 END)::BIGINT AS n_x,
         sum(CASE WHEN is_x THEN 0 ELSE 1 END)::BIGINT AS n_y
  FROM q
), mom AS (
  SELECT sum(mx::HUGEINT * mx) AS sxx,
         sum(my::HUGEINT * my) AS syy,
         sum(mx::HUGEINT * my) AS sxy
  FROM m
)
SELECT n_x, n_y,
       CASE WHEN n_x > 0 AND n_y > 0 THEN
         CAST(floor({mmd} * 1000000.0) AS BIGINT) END AS mmd2_micro
FROM mom CROSS JOIN counts
"""


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DRIFT per label between two corpus halves
    (vec_id parity — a deterministic stand-in for time/batch splits):
    L2 distance between the halves' per-label centroids — the
    monitoring signal that catches a silently shifted encoder or a
    contaminated ingest before a model trains on it.

    Shape: the kmeans lesson applied — a NARROW posexplode to
    (label, dim, micro-value) rows, ONE (label, dim) aggregate with
    conditional sums per half (map-side combine collapses the ×64
    fan-out), then per-label reduction. No wide 128-expression
    aggregate, no Janino pressure.

    Determinism: values quantize to exact micro longs; each dim's
    centroid-difference is two exact-int divisions (IEEE exact) and
    its square floor-quantizes to micro² longs before the order-free
    integer sum; the final sqrt is exact-rounded. Output:
    label, n_a, n_b, drift_micro.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    rows = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("a"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * CENTROID_SCALE).cast("long"),
            )
        ).alias("dim", "q"),
    )
    per = rows.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("a"), F.col("q")).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(~F.col("a"), F.col("q")).otherwise(F.lit(0))).alias("sb"),
        F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).alias("nb"),
    )
    term = F.col("sa").cast("double") / F.col("na").cast("double") - F.col(
        "sb"
    ).cast("double") / F.col("nb").cast("double")
    qd = F.floor(term * term).cast("long")
    return (
        per.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select("label", "na", "nb", qd.alias("qd"))
        .groupBy("label")
        .agg(
            F.min("na").alias("n_a"),
            F.min("nb").alias("n_b"),
            F.floor(F.sqrt(F.sum("qd").cast("double"))).cast("long").alias(
                "drift_micro"
            ),
        )
        .orderBy("label")
    )


_EMB_DRIFT_SQL = f"""
WITH rows_ AS (
  SELECT label, vec_id % 2 = 0 AS a, i - 1 AS dim,
         round(embedding[i]::DOUBLE * {CENTROID_SCALE})::BIGINT AS q
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
), per AS (
  SELECT label, dim,
         sum(CASE WHEN a THEN q ELSE 0 END)::BIGINT AS sa,
         sum(CASE WHEN NOT a THEN q ELSE 0 END)::BIGINT AS sb,
         sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM rows_ GROUP BY 1, 2
)
SELECT label, min(na)::BIGINT AS n_a, min(nb)::BIGINT AS n_b,
       floor(sqrt(sum(floor((sa::DOUBLE / na::DOUBLE
                             - sb::DOUBLE / nb::DOUBLE)
                            * (sa::DOUBLE / na::DOUBLE
                               - sb::DOUBLE / nb::DOUBLE))::BIGINT
                     )::DOUBLE))::BIGINT AS drift_micro
FROM per
WHERE na > 0 AND nb > 0
GROUP BY 1
ORDER BY 1
"""


FEATURE_HASH_DIM = 16  # hashing-trick vector dimensionality


def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document vectorizer (Weinberger et al.) — the
    fixed-dimension sparse featurization a downstream linear model /
    clustering / ANN index consumes without any vocabulary build:
    each token hashes to a dimension (polynomial char hash mod
    FEATURE_HASH_DIM) with a deterministic ±1 sign (parity of the
    hash's next bit — the collision-debiasing trick from the paper),
    and the doc's vector is the signed count sum per dimension.

    No vocabulary, no fit step, no driver state — the property that
    makes this THE featurizer for a 100 TB streaming-ingest corpus
    (a CountVectorizer needs a fitted vocabulary broadcast; this
    needs nothing). Polynomial hash, not xxhash, so the oracle can
    rebuild the identical vectors in SQL.

    Shape: explode + one (doc, dim) hash aggregate — wordcount with
    a computed key. Output: doc_id, dim, weight (signed long).
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("tok")
    )
    h = F.aggregate(
        F.filter(F.split(F.col("tok"), ""), lambda c: c != F.lit("")),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(FP_BASE) + F.ascii(ch).cast("long"), F.lit(FP_MOD)
        ),
    )
    hashed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(FEATURE_HASH_DIM)).alias("dim"),
        # sign bit from the next hash bit: (h DIV DIM) % 2
        F.when(
            F.pmod((h / F.lit(FEATURE_HASH_DIM)).cast("long"), F.lit(2)) == 1,
            F.lit(-1),
        )
        .otherwise(F.lit(1))
        .alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("weight"))
        .orderBy("doc_id", "dim")
    )


_FEATURE_HASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM documents,
       unnest(string_split_regex(text, '\\s+')) AS u(tok)
  WHERE tok <> ''
), hashed AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
           (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}
         ) AS h
  FROM toks
)
SELECT doc_id,
       (h % {FEATURE_HASH_DIM})::BIGINT AS dim,
       sum(CASE WHEN (h // {FEATURE_HASH_DIM}) % 2 = 1
                THEN -1 ELSE 1 END)::BIGINT AS weight
FROM hashed
GROUP BY 1, 2
ORDER BY 1, 2
"""


QCLF_DIM = 256  # hashed feature buckets of the linear classifier
QCLF_MULT = 2654435761  # Knuth 2^32 multiplicative constant
QCLF_SPAN = 2001  # weights span [-1000, 1000]


QCLF_EPOCHS = 3  # batch-perceptron training epochs


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier — the step
    ``quality_classifier_linear`` takes as given (its docstring's "a
    trained model drops its real weight vector into the same seam"):
    a BATCH PERCEPTRON over the same hashed bag-of-words features
    (CCNet/DCLM train exactly this model family; target class =
    ``lang = 'en'`` docs, the "looks like the reference corpus"
    supervision CCNet uses). Perceptron, not logistic: the update
    w ← w + Σ_mistakes y·x is pure INTEGER arithmetic, so every
    epoch replays engine-exactly — a sigmoid would put libm between
    the engines (the house IEEE-determinism rule).

    Per epoch: score every doc under the current weights (narrow —
    the 1-row broadcast weight array, per-token bucket lookup inside
    ONE ``aggregate`` over the token array, zero explode), find
    mistakes (y·logit ≤ 0), and apply the summed update (ONE
    ≤QCLF_DIM-key map-side-combinable aggregate, rebuilt into the
    next 1-row weight array, localCheckpointed — the
    ``bpe_train_merges``/kmeans loop discipline). Per-epoch cost at
    100 TB: one corpus scan + one 256-key shuffle.

    Output: epoch, n_mistakes (under the epoch's incoming weights),
    w_l1 (Σ|w| after the update), w_hash (md5 of the weight vector —
    the driver-checkable witness that training is bit-identical).
    """
    docs = table(spark, sf_dir, "documents")
    h = (
        "aggregate(filter(split(tok, ''), c -> c <> ''), 0L, "
        f"(a, c) -> (a * {FP_BASE} + ascii(c)) % {FP_MOD})"
    )
    feats = track_persist(
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1)
            .otherwise(-1)
            .cast("long")
            .alias("y"),
            tokens(F.lower("text")).alias("ts"),
        ).select(
            "doc_id",
            "y",
            F.expr(f"transform(ts, tok -> ({h}) % {QCLF_DIM})").alias("bs"),
        )
    )
    wrow = spark.range(1).select(
        F.expr(f"transform(sequence(0, {QCLF_DIM - 1}), b -> 0L)").alias("w")
    )
    stats = []
    for e in range(1, QCLF_EPOCHS + 1):
        scored = feats.crossJoin(F.broadcast(wrow)).withColumn(
            "logit",
            F.expr(
                "aggregate(bs, 0L, (acc, b) -> "
                "acc + element_at(w, cast(b + 1 as int)))"
            ),
        )
        mist = scored.where(F.expr("y * logit <= 0"))
        drow = (
            mist.select("y", F.explode("bs").alias("b"))
            .groupBy("b")
            .agg(F.sum("y").alias("d"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("b", "d"))
                ).alias("dm")
            )
        )
        wrow = (
            wrow.crossJoin(F.broadcast(drow))
            .select(
                F.expr(
                    f"transform(sequence(0, {QCLF_DIM - 1}), b -> "
                    "element_at(w, cast(b + 1 as int)) "
                    "+ coalesce(element_at(dm, b), 0L))"
                ).alias("w")
            )
            .localCheckpoint()
        )
        n_mist = mist.agg(F.count(F.lit(1)).alias("n_mistakes"))
        stats.append(
            n_mist.crossJoin(wrow).select(
                F.lit(e).cast("long").alias("epoch"),
                "n_mistakes",
                F.expr("aggregate(w, 0L, (a, x) -> a + abs(x))").alias(
                    "w_l1"
                ),
                F.expr(
                    "md5(concat_ws(',', transform(w, x -> cast(x as string))))"
                ).alias("w_hash"),
            )
        )
    out = stats[0]
    for df in stats[1:]:
        out = out.unionByName(df)
    return out.orderBy("epoch")


def quality_filter_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained filter — closes the classifier lifecycle
    (count → train → filter, the bpe count/train/encode pattern)
    with the AVERAGED perceptron (Freund & Schapire 1999): the plain
    batch perceptron OSCILLATES on non-separable data (the fixtures:
    epoch mistakes 500 → 218 → 282, every raw snapshot collapsing to
    one class), so the applied weights are the element-wise integer
    mean of ALL epoch snapshots — the standard stabilizer, and pure
    integer arithmetic (sum DIV count), so the whole lifecycle stays
    engine-exact with zero control-plane scalars.

    Fixture honesty: the five languages share one 31-token
    vocabulary with heavily overlapping count distributions, so even
    the averaged model keeps only 2 documents — all of them 'en'
    (perfect precision, ~1% recall): the per-language keep table is
    exactly the readout that tells a curation run this feature set
    is too weak to deploy, which is the table's job. The planted
    separable-corpus pytest shows the same lifecycle reaching 100%.

    Output: lang, n_docs, n_keep, keep_micro (rate ×10⁶, integer).
    """
    feats, wavg = _qclf_feats_and_wavg(spark, sf_dir)
    final = feats.crossJoin(F.broadcast(wavg)).select(
        "lang",
        F.expr(
            "aggregate(bs, 0L, (acc, b) -> "
            "acc + element_at(w, cast(b + 1 as int)))"
        ).alias("logit"),
    )
    return (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("logit") >= 0, 1).otherwise(0)
            ).cast("long").alias("n_keep"),
        )
        .select(
            "lang",
            "n_docs",
            "n_keep",
            F.expr("n_keep * 1000000 DIV n_docs").alias("keep_micro"),
        )
        .orderBy("lang")
    )


def _qclf_feats_and_wavg(spark: SparkSession, sf_dir: str):
    """Shared model build for the trained-filter family: hashed
    bag-of-buckets features + the AVERAGED perceptron weight row
    (element-wise integer mean of all epoch snapshots). Returns
    (feats, 1-row wavg) so the batch filter and the streaming apply
    score with the IDENTICAL model by construction."""
    docs = table(spark, sf_dir, "documents")
    h = (
        "aggregate(filter(split(tok, ''), c -> c <> ''), 0L, "
        f"(a, c) -> (a * {FP_BASE} + ascii(c)) % {FP_MOD})"
    )
    feats = track_persist(
        docs.select(
            "doc_id",
            "lang",
            F.when(F.col("lang") == "en", 1)
            .otherwise(-1)
            .cast("long")
            .alias("y"),
            tokens(F.lower("text")).alias("ts"),
        ).select(
            "doc_id",
            "lang",
            "y",
            F.expr(f"transform(ts, tok -> ({h}) % {QCLF_DIM})").alias("bs"),
        )
    )
    wrow = spark.range(1).select(
        F.expr(f"transform(sequence(0, {QCLF_DIM - 1}), b -> 0L)").alias("w")
    )
    snapshots = [wrow]
    for _ in range(QCLF_EPOCHS):
        scored = feats.crossJoin(F.broadcast(wrow)).withColumn(
            "logit",
            F.expr(
                "aggregate(bs, 0L, (acc, b) -> "
                "acc + element_at(w, cast(b + 1 as int)))"
            ),
        )
        drow = (
            scored.where(F.expr("y * logit <= 0"))
            .select("y", F.explode("bs").alias("b"))
            .groupBy("b")
            .agg(F.sum("y").alias("d"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("b", "d"))
                ).alias("dm")
            )
        )
        wrow = (
            wrow.crossJoin(F.broadcast(drow))
            .select(
                F.expr(
                    f"transform(sequence(0, {QCLF_DIM - 1}), b -> "
                    "element_at(w, cast(b + 1 as int)) "
                    "+ coalesce(element_at(dm, b), 0L))"
                ).alias("w")
            )
            .localCheckpoint()
        )
        snapshots.append(wrow)
    avg = snapshots[0].select(F.col("w").alias("w0"))
    for i, sn in enumerate(snapshots[1:], start=1):
        avg = avg.crossJoin(F.broadcast(sn.select(F.col("w").alias(f"w{i}"))))
    terms = " + ".join(
        f"element_at(w{i}, cast(b + 1 as int))"
        for i in range(len(snapshots))
    )
    wavg = avg.select(
        F.expr(
            f"transform(sequence(0, {QCLF_DIM - 1}), b -> "
            f"({terms}) DIV {len(snapshots)})"
        ).alias("w")
    )
    return feats, wavg


def _qclf_wavg_ctes(epochs: int = QCLF_EPOCHS) -> str:
    """Training CTEs (re-stated with lang carried through) + the
    averaged-weight build — the shared prefix of the batch rollup
    and the streaming per-doc apply oracles."""
    fold = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)), "
        f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
    )
    sql = f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END::BIGINT AS y,
         list_transform(
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> ''),
           tok -> ({fold}) % {QCLF_DIM}) AS bs
  FROM documents
), w0 AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {QCLF_DIM}), x -> 0::BIGINT) AS w
)"""
    for e in range(1, epochs + 1):
        sql += f"""
, sc{e} AS MATERIALIZED (
  SELECT f.doc_id, f.y, f.bs,
         coalesce(list_sum(list_transform(f.bs,
           b -> w.w[(b + 1)::INT])), 0)::BIGINT AS logit
  FROM feats f CROSS JOIN w{e - 1} w
), dl{e} AS MATERIALIZED (
  SELECT b, sum(y)::BIGINT AS d
  FROM (SELECT y, unnest(bs) AS b FROM sc{e} WHERE y * logit <= 0)
  GROUP BY 1
), w{e} AS MATERIALIZED (
  SELECT list(v ORDER BY b) AS w FROM (
    SELECT gs.b, (w.w[(gs.b + 1)::INT] + coalesce(dl.d, 0))::BIGINT AS v
    FROM generate_series(0, {QCLF_DIM - 1}) AS gs(b)
    CROSS JOIN w{e - 1} w
    LEFT JOIN dl{e} dl ON dl.b = gs.b)
)"""
    terms = " + ".join(f"w{i}.w[i]" for i in range(epochs + 1))
    froms = ", ".join(f"w{i}" for i in range(epochs + 1))
    return sql + f"""
, wavg AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {QCLF_DIM}), i ->
    (({terms}) // {epochs + 1})::BIGINT) AS w
  FROM {froms}
)"""


def _qclf_filter_tail() -> str:
    return """
, final AS (
  SELECT f.lang,
         coalesce(list_sum(list_transform(f.bs,
           b -> w.w[(b + 1)::INT])), 0)::BIGINT AS logit
  FROM feats f CROSS JOIN wavg w
)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN logit >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
       (sum(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) * 1000000
         // count(*))::BIGINT AS keep_micro
FROM final GROUP BY 1 ORDER BY 1
"""


def _qclf_score_docs_sql(epochs: int = QCLF_EPOCHS) -> str:
    """Per-document scoring under the SAME averaged model — the
    streaming apply's oracle (the batch rollup's CTE prefix with a
    per-doc tail)."""
    return _qclf_wavg_ctes(epochs) + """
, final AS (
  SELECT f.doc_id, f.lang,
         coalesce(list_sum(list_transform(f.bs,
           b -> w.w[(b + 1)::INT])), 0)::BIGINT AS logit
  FROM feats f CROSS JOIN wavg w
)
SELECT doc_id, lang, logit,
       CAST(CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM final ORDER BY doc_id
"""


def _qclf_filter_sql(epochs: int = QCLF_EPOCHS) -> str:
    return _qclf_wavg_ctes(epochs) + _qclf_filter_tail()


_QCLF_FILTER_SQL = _qclf_filter_sql()


def _qclf_train_sql(epochs: int = QCLF_EPOCHS) -> str:
    """Unrolled perceptron epochs as chained CTEs — same hash fold,
    same integer updates, same witnesses."""
    fold = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)), "
        f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
    )
    sql = f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END::BIGINT AS y,
         list_transform(
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> ''),
           tok -> ({fold}) % {QCLF_DIM}) AS bs
  FROM documents
), w0 AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {QCLF_DIM}), x -> 0::BIGINT) AS w
)"""
    for e in range(1, epochs + 1):
        sql += f"""
, sc{e} AS MATERIALIZED (
  SELECT f.doc_id, f.y, f.bs,
         coalesce(list_sum(list_transform(f.bs,
           b -> w.w[(b + 1)::INT])), 0)::BIGINT AS logit
  FROM feats f CROSS JOIN w{e - 1} w
), dl{e} AS MATERIALIZED (
  SELECT b, sum(y)::BIGINT AS d
  FROM (SELECT y, unnest(bs) AS b FROM sc{e} WHERE y * logit <= 0)
  GROUP BY 1
), w{e} AS MATERIALIZED (
  SELECT list(v ORDER BY b) AS w FROM (
    SELECT gs.b, (w.w[(gs.b + 1)::INT] + coalesce(dl.d, 0))::BIGINT AS v
    FROM generate_series(0, {QCLF_DIM - 1}) AS gs(b)
    CROSS JOIN w{e - 1} w
    LEFT JOIN dl{e} dl ON dl.b = gs.b)
), st{e} AS (
  SELECT {e}::BIGINT AS epoch,
         (SELECT count(*)::BIGINT FROM sc{e} WHERE y * logit <= 0)
           AS n_mistakes,
         (SELECT list_sum(list_transform(w, x -> abs(x)))::BIGINT
          FROM w{e}) AS w_l1,
         (SELECT md5(array_to_string(w, ',')) FROM w{e}) AS w_hash
)"""
    selects = " UNION ALL ".join(
        f"SELECT * FROM st{e}" for e in range(1, epochs + 1)
    )
    return sql + f"\n{selects}\nORDER BY epoch"


_QCLF_TRAIN_SQL = _qclf_train_sql()


def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier (Joulin et al. 2016,
    arXiv:1607.01759) — the model family behind CCNet/LLaMA-era
    "looks like Wikipedia" corpus filtering: hashed bag-of-words,
    one weight per hash bucket, document logit = Σ w[bucket(token)],
    keep/drop by sign. The WEIGHTS here are a deterministic
    multiplicative-hash stand-in (w[b] = (b·{QCLF_MULT}) %
    {QCLF_SPAN} − 1000) so the oracle can rebuild them; a trained
    model drops its real weight vector into the same seam — the
    Spark shape is what matters and it is the cheapest possible one:
    scoring is a PURE NARROW MAP (the per-token hash → bucket →
    weight lookup and the per-doc sum all happen inside one
    ``aggregate`` over the token array — zero explode, ZERO
    shuffles, one corpus scan), which is why hashed linear models
    are the only classifier family you can afford to run over all
    100 TB rather than a sample. Weight-by-BUCKET (not by raw hash)
    keeps the collision semantics of a real weight-vector lookup.

    Output: doc_id, n_tokens, logit, label (1 = keep).
    """
    docs = table(spark, sf_dir, "documents")
    h = (
        "aggregate(filter(split(tok, ''), c -> c <> ''), 0L, "
        f"(a, c) -> (a * {FP_BASE} + ascii(c)) % {FP_MOD})"
    )
    w = f"((({h}) % {QCLF_DIM}) * {QCLF_MULT}) % {QCLF_SPAN} - 1000"
    scored = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("ts"),
    ).select(
        "doc_id",
        F.size("ts").cast("long").alias("n_tokens"),
        F.expr(f"aggregate(ts, 0L, (acc, tok) -> acc + ({w}))").alias("logit"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "logit",
        F.when(F.col("logit") >= 0, F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("label"),
    ).orderBy("doc_id")


_QCLF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), scored AS (
  SELECT doc_id,
         len(ts)::BIGINT AS n_tokens,
         coalesce(list_sum(list_transform(ts, tok ->
           ((list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})
             % {QCLF_DIM}) * {QCLF_MULT}) % {QCLF_SPAN} - 1000)), 0)::BIGINT
           AS logit
  FROM toks
)
SELECT doc_id, n_tokens, logit,
       (CASE WHEN logit >= 0 THEN 1 ELSE 0 END)::BIGINT AS label
FROM scored
ORDER BY doc_id
"""


DSIR_BUCKETS = 512  # hashed n-gram buckets (paper uses 10k; fixture-sized)
DSIR_SCALE = 1_000_000  # per-bucket ratio quantum (micro-units)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much
    its hashed n-gram profile resembles a TARGET distribution, so a
    pretraining pipeline can resample 100 TB of crawl toward the
    data it actually wants. Features are hashed unigrams+bigrams
    (the paper's construction); the target here is the ``lang='en'``
    slice of the corpus (the seam a curated target set plugs into);
    per bucket b the importance factor is the Laplace-smoothed
    likelihood ratio p̂_target(b)/p̂_raw(b) and a document's score
    sums c_b·ratio(b) over its features.

    Determinism (the ngram_lm_score discipline — NO transcendentals,
    so no log-space weights; the per-bucket ratio is a monotone
    transform of the paper's log-ratio term, which preserves the
    per-bucket up/down-weighting): each bucket ratio is two IEEE
    divisions and two multiplies on exactly-cast integer counts —
    identical bit-results in both engines — floor-quantized to
    DSIR_SCALE units before any summation, and per-doc sums are pure
    BIGINT (combine-order-free).

    Shape at 100 TB: one corpus scan → per-(doc, bucket) counts (the
    one hash shuffle, map-side combinable); bucket stats fold to
    DSIR_BUCKETS rows and totals to ONE row, so the score join is a
    BROADCAST of a ≤512-row relation back onto the per-doc counts —
    no second corpus shuffle. The doc-bucket relation persists (it
    feeds the stats branch and the scoring branch).

    Output: doc_id, n_feats, dsir_score.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        tokens(F.lower("text")).alias("ts"),
    )
    feats = toks.select(
        "doc_id",
        "is_target",
        F.explode(
            # Guard: sequence(1, 0) DESCENDS ([1, 0]) and element_at(ts, 0)
            # always throws (1-based) — short docs (<2 tokens) must take
            # the empty-array branch, matching the oracle's empty
            # generate_series(1, 0).
            F.expr(
                "concat(ts, transform("
                "if(size(ts) >= 2, sequence(1, size(ts) - 1), "
                "cast(array() as array<int>)), "
                "i -> concat(element_at(ts, i), char(31), "
                "element_at(ts, i + 1))))"
            )
        ).alias("f"),
    )
    h = (
        "aggregate(filter(split(f, ''), c -> c <> ''), 0L, "
        f"(a, c) -> (a * {FP_BASE} + ascii(c)) % {FP_MOD})"
    )
    g = track_persist(
        feats.select(
            "doc_id",
            "is_target",
            F.expr(f"({h}) % {DSIR_BUCKETS}").alias("bucket"),
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bs = g.groupBy("bucket").agg(
        F.sum("c").alias("cq"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias(
            "ct"
        ),
    )
    tot = bs.agg(F.sum("cq").alias("nq"), F.sum("ct").alias("nt"))
    ratios = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"CAST(floor((CAST(ct + 1 AS DOUBLE) / CAST(cq + 1 AS DOUBLE))"
            f" * (CAST(nq + {DSIR_BUCKETS} AS DOUBLE)"
            f" / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))"
            f" * {DSIR_SCALE}.0) AS BIGINT)"
        ).alias("term"),
    )
    return (
        g.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("term")).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), feats AS (
  SELECT doc_id, is_target, f
  FROM toks,
       unnest(list_concat(ts,
         list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                        i -> ts[i] || chr(31) || ts[i+1]))) AS u(f)
), g AS (
  SELECT doc_id, is_target,
         (list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(f, ''), c -> ord(c)::BIGINT)),
           (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})
          % {DSIR_BUCKETS}) AS bucket,
         count(*)::BIGINT AS c
  FROM feats GROUP BY 1, 2, 3
), bs AS (
  SELECT bucket, sum(c)::BIGINT AS cq,
         sum(CASE WHEN is_target THEN c ELSE 0 END)::BIGINT AS ct
  FROM g GROUP BY 1
), tot AS (
  SELECT sum(cq)::BIGINT AS nq, sum(ct)::BIGINT AS nt FROM bs
), ratios AS (
  SELECT bucket,
         CAST(floor(((ct + 1)::DOUBLE / (cq + 1)::DOUBLE)
              * ((nq + {DSIR_BUCKETS})::DOUBLE
                 / (nt + {DSIR_BUCKETS})::DOUBLE)
              * {DSIR_SCALE}.0) AS BIGINT) AS term
  FROM bs, tot
)
SELECT g.doc_id, sum(g.c)::BIGINT AS n_feats,
       sum(g.c * r.term)::BIGINT AS dsir_score
FROM g JOIN ratios r USING (bucket)
GROUP BY 1
ORDER BY 1
"""


T5_START_MOD = 18  # P(span start)=1/18; with span 3 → ~15% masked (T5's density)
T5_SPAN = 3  # tokens covered by each span start (overlaps merge)


FIM_MIN_TOK = 4  # docs shorter than this stay plain (no FIM split)
FIM_RATE_PCT = 90  # fraction of eligible docs FIM-transformed


def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL-IN-THE-MIDDLE training examples (Bavarian et al. 2022,
    arXiv:2207.14255 — the data transform every code LLM ships):
    each document's token stream is split at two hash-driven points
    into (prefix, middle, suffix) and re-emitted with sentinels so
    the model learns to infill — PSM order
    ``<PRE> prefix <SUF> suffix <MID> middle`` or SPM order
    ``<SUF> suffix <PRE> prefix <MID> middle`` (mode hash-chosen
    50/50, the paper's joint training). FIM_RATE_PCT% of eligible
    docs transform (the paper's ~90% FIM rate); the rest — and docs
    under FIM_MIN_TOK tokens — pass through as ``plain`` (document
    order intact), exactly the mixed batch the trainer consumes.

    Cut points from md5(doc_id:salt) folds (the deterministic
    stand-in for the trainer's RNG, the ``t5_span_corruption``
    seam): p1 ∈ [1, n−1], p2 ∈ [p1, n]; middle and suffix may be
    empty — the paper keeps empty spans (the model must learn to
    emit an immediate <EOT> for them).

    Shape at 100 TB: entirely inside the token array of one row —
    three slices and a concat; zero shuffles beyond the output sort;
    scan-bound like every on-the-fly example transform. The oracle
    replays cuts, slices, sentinel orders, and the md5 witness of
    the exact emitted stream.

    Output: doc_id, mode, p1, p2, n_tokens, fim_hash.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts")).where(
        F.size("ts") >= 1
    )

    def h(salt: str) -> str:
        return (
            f"cast(conv(substring(md5(concat(cast(doc_id as string), "
            f"':{salt}')), 1, 12), 16, 10) as bigint)"
        )

    n = "size(ts)"
    fimmed = f"{n} >= {FIM_MIN_TOK} AND pmod({h('r')}, 100) < {FIM_RATE_PCT}"
    p1 = f"1 + pmod({h('a')}, {n} - 1)"
    p2 = f"p1 + pmod({h('b')}, {n} - p1 + 1)"
    out = (
        toks.withColumn("fimmed", F.expr(fimmed))
        .withColumn("p1", F.expr(f"CASE WHEN fimmed THEN {p1} ELSE 0 END"))
        .withColumn("p2", F.expr(f"CASE WHEN fimmed THEN {p2} ELSE 0 END"))
        .withColumn(
            "mode",
            F.expr(
                "CASE WHEN NOT fimmed THEN 'plain' "
                f"WHEN pmod({h('m')}, 2) = 0 THEN 'psm' ELSE 'spm' END"
            ),
        )
        .withColumn(
            "stream",
            F.expr(
                "CASE WHEN mode = 'plain' THEN ts "
                "WHEN mode = 'psm' THEN concat("
                "array('<PRE>'), slice(ts, 1, p1), "
                "array('<SUF>'), slice(ts, p2 + 1, size(ts) - p2), "
                "array('<MID>'), slice(ts, p1 + 1, p2 - p1)) "
                "ELSE concat("
                "array('<SUF>'), slice(ts, p2 + 1, size(ts) - p2), "
                "array('<PRE>'), slice(ts, 1, p1), "
                "array('<MID>'), slice(ts, p1 + 1, p2 - p1)) END"
            ),
        )
    )
    return out.select(
        "doc_id",
        "mode",
        F.col("p1").cast("long").alias("p1"),
        F.col("p2").cast("long").alias("p2"),
        F.size("ts").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "stream")).alias("fim_hash"),
    ).orderBy("doc_id")


def _fim_h_sql(salt: str) -> str:
    from .dedup import _md5_fold_sql

    return _md5_fold_sql(f"doc_id::VARCHAR || ':{salt}'", 1, 12)


_FIM_SQL: str  # built below once _fim_h_sql is defined


def _fim_sql() -> str:
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), base AS (
  SELECT doc_id, ts, len(ts) AS n,
         len(ts) >= {FIM_MIN_TOK}
           AND ({_fim_h_sql('r')}) % 100 < {FIM_RATE_PCT} AS fimmed
  FROM arr WHERE len(ts) >= 1
), cuts AS (
  SELECT doc_id, ts, n, fimmed,
         CASE WHEN fimmed
           THEN 1 + ({_fim_h_sql('a')}) % (n - 1) ELSE 0 END AS p1
  FROM base
), cuts2 AS (
  SELECT doc_id, ts, n, fimmed, p1,
         CASE WHEN fimmed
           THEN p1 + ({_fim_h_sql('b')}) % (n - p1 + 1)
           ELSE 0 END AS p2,
         CASE WHEN NOT fimmed THEN 'plain'
              WHEN ({_fim_h_sql('m')}) % 2 = 0 THEN 'psm'
              ELSE 'spm' END AS mode
  FROM cuts
), streams AS (
  SELECT doc_id, mode, p1, p2, n,
         CASE WHEN mode = 'plain' THEN ts
              WHEN mode = 'psm' THEN
                ['<PRE>'] || ts[1:p1] || ['<SUF>'] || ts[p2+1:n]
                  || ['<MID>'] || ts[p1+1:p2]
              ELSE
                ['<SUF>'] || ts[p2+1:n] || ['<PRE>'] || ts[1:p1]
                  || ['<MID>'] || ts[p1+1:p2]
         END AS stream
  FROM cuts2
)
SELECT doc_id, mode, p1::BIGINT AS p1, p2::BIGINT AS p2,
       n::BIGINT AS n_tokens,
       md5(array_to_string(stream, ' ')) AS fim_hash
FROM streams
ORDER BY doc_id
"""


_FIM_SQL = _fim_sql()


def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-CORRUPTION training examples (Raffel et al. 2020, T5 —
    the denoising objective; same construction family as seqio's
    span_corruption): ~15% of each document's tokens are masked in
    ~T5_SPAN-token spans, each maximal masked run replaced by a
    numbered sentinel in the INPUT and expanded after its sentinel
    in the TARGET — the (corrupted, target) pair a seq2seq denoiser
    trains on. Span starts are hash-driven (md5 of (doc_id, pos) —
    the deterministic stand-in for the trainer's RNG; same seam as
    ``shuffle_for_training``), and overlapping spans merge into one
    longer span, the natural well-defined semantics.

    Shape at 100 TB: everything happens INSIDE the token array of
    one row — start flags, the 3-window mask OR, run starts, and ONE
    O(n) fold that builds the input and target piece lists with the
    running sentinel counter. Zero shuffles beyond the output sort;
    example construction is scan-bound, which is why T5-scale
    pipelines do it on the fly. The oracle computes the identical
    function relationally (window OR + lag + prefix-sum sentinel
    indices + ordered string_agg) — different algebra, same strings.

    Output: doc_id, n_tokens, n_masked, n_spans, corrupted, target.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts")).where(
        F.size("ts") >= 1
    )
    # Stage arrays are LET-BOUND via single-element transform()
    # lambdas — `transform(array(e), v -> body)` evaluates e ONCE and
    # binds it as v. Chained withColumns don't work here: Catalyst's
    # CollapseProject inlines a column referenced once, and a stage
    # array referenced INSIDE a later stage's per-element lambda then
    # re-evaluates wholesale per element — the md5 start-flag array
    # re-ran inside the window-OR's lambda for an O(n²·md5) plan
    # (measured 14.4 s for 5k docs on the ×1 probe; 0.6 s let-bound).
    #
    # Sentinel numbering without an accumulating fold (array-append
    # aggregates copy the accumulator per element): run-start
    # POSITIONS are a tiny array (~n/18), and the sentinel index at a
    # start is the count of earlier starts — every piece is a pure
    # transform, O(n·n_spans) reads, zero accumulator copies.
    st = (
        f"transform(sequence(0, size(ts) - 1), i -> "
        f"cast(conv(substring(md5(concat(cast(doc_id as string), ':', "
        f"cast(i as string))), 1, 12), 16, 10) as bigint) "
        f"% {T5_START_MOD} = 0)"
    )
    mk_of_st = (
        f"transform(sequence(0, size(ts) - 1), i -> "
        f"exists(sequence(greatest(i - {T5_SPAN - 1}, 0), i), "
        f"j -> element_at(stv, j + 1)))"
    )
    rs_of_mk = (
        "transform(sequence(0, size(ts) - 1), i -> "
        "element_at(mkv, i + 1) AND (i = 0 OR NOT element_at(mkv, i)))"
    )
    rs_pos = "filter(sequence(0, size(ts) - 1), i -> element_at(rsv, i + 1))"
    k_of = "cast(size(filter(rpv, p -> p < i)) as string)"
    cin = (
        f"filter(transform(sequence(0, size(ts) - 1), i -> CASE "
        f"WHEN element_at(rsv, i + 1) THEN concat('<X', {k_of}, '>') "
        f"WHEN NOT element_at(mkv, i + 1) THEN element_at(ts, i + 1) "
        f"END), x -> x IS NOT NULL)"
    )
    tgt = (
        f"filter(transform(sequence(0, size(ts) - 1), i -> CASE "
        f"WHEN element_at(rsv, i + 1) THEN "
        f"  concat('<X', {k_of}, '> ', element_at(ts, i + 1)) "
        f"WHEN element_at(mkv, i + 1) THEN element_at(ts, i + 1) "
        f"END), x -> x IS NOT NULL)"
    )
    out_struct = (
        f"element_at(transform(array({st}), stv -> "
        f"element_at(transform(array({mk_of_st}), mkv -> "
        f"element_at(transform(array({rs_of_mk}), rsv -> "
        f"element_at(transform(array({rs_pos}), rpv -> "
        f"named_struct("
        f"'n_masked', size(filter(mkv, x -> x)), "
        f"'n_spans', size(rpv), "
        f"'corrupted', array_join({cin}, ' '), "
        f"'target', array_join({tgt}, ' '))"
        f"), 1)), 1)), 1)), 1)"
    )
    return (
        toks.withColumn("o", F.expr(out_struct))
        .select(
            "doc_id",
            F.size("ts").cast("long").alias("n_tokens"),
            F.col("o.n_masked").cast("long").alias("n_masked"),
            F.col("o.n_spans").cast("long").alias("n_spans"),
            F.col("o.corrupted").alias("corrupted"),
            F.col("o.target").alias("target"),
        )
        .orderBy("doc_id")
    )


_T5_SPAN_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok,
         generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t <> ''), 1) AS pos
  FROM documents
), flags AS (
  SELECT doc_id, tok, pos,
         (list_reduce(list_prepend(0::BIGINT,
            list_transform(string_split(md5(doc_id::VARCHAR || ':'
              || (pos - 1)::VARCHAR)[1:12], ''),
            c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
          (acc, d) -> acc * 16 + d) % {T5_START_MOD} = 0) AS st
  FROM toks
), masked AS (
  SELECT doc_id, tok, pos,
         bool_or(st) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN {T5_SPAN - 1} PRECEDING
                                    AND CURRENT ROW) AS mk
  FROM flags
), runs AS (
  SELECT doc_id, tok, pos, mk,
         (mk AND NOT coalesce(lag(mk) OVER (PARTITION BY doc_id
                                            ORDER BY pos), false)) AS rs
  FROM masked
), sidx AS (
  SELECT doc_id, tok, pos, mk, rs,
         coalesce(sum(CASE WHEN rs THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS k
  FROM runs
)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN mk THEN 1 ELSE 0 END)::BIGINT AS n_masked,
       sum(CASE WHEN rs THEN 1 ELSE 0 END)::BIGINT AS n_spans,
       coalesce(string_agg(
         CASE WHEN rs THEN '<X' || k || '>'
              WHEN NOT mk THEN tok END, ' ' ORDER BY pos), '') AS corrupted,
       coalesce(string_agg(
         CASE WHEN rs THEN '<X' || k || '> ' || tok
              WHEN mk THEN tok END, ' ' ORDER BY pos), '') AS target
FROM sidx
GROUP BY doc_id
ORDER BY doc_id
"""


LM_SCALE = 1_000_000_000  # per-term 1e-9 quantum; final score in micro


def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document — the
    curation signal next to ``quality_score``'s surface heuristics: a
    corpus-trained bigram model scores each doc by the mean
    LEAVE-ONE-OUT conditional probability (c(w₁,w₂)−1)/c(w₁) of its
    bigrams — the discount removes the doc's own support, so a
    bigram seen nowhere else contributes ZERO (without it, a
    self-trained unsmoothed model hands garbled singleton text a
    perfect score: cb=cu=1 ⇒ P=1, measured). Common text scores
    high, never-repeated/garbled text scores low; the tails of the
    distribution are the review/filter queue. (Mean probability, not
    perplexity, ON PURPOSE: no ln/pow — libm transcendentals are not
    cross-engine deterministic; every term is one IEEE division of
    exact counts.)

    Determinism: each term floor-quantizes to 1e-9-unit longs before
    summing (combine-order-free), and the final mean is pure integer
    division — ``sum DIV (n·1000)`` — which Spark's DIV and DuckDB's
    // truncate identically.

    Shape: two wordcount aggregates (unigrams, bigrams) + two
    corpus-linear equi-joins back onto the doc bigram stream + one
    per-doc aggregate. The bigram stream persists (it feeds the
    count and the scoring branches).

    Output: doc_id, n_bigrams, lm_micro.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.lower("text")).alias("t"))
    arr = F.col("t")
    n_b = F.size(arr) - 1
    bg_seq = F.when(n_b >= 1, F.sequence(F.lit(0), n_b - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    bg_seq,
                    lambda i: F.struct(
                        F.get(arr, i).alias("w1"), F.get(arr, i + 1).alias("w2")
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bigrams = track_persist(bigrams)
    uni = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    term = F.floor(
        (F.col("cb") - F.lit(1)).cast("double")
        / F.col("cu").cast("double")
        * F.lit(float(LM_SCALE))
    ).cast("long")
    return (
        bigrams.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(term).alias("sq"))
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(f"sq DIV (n_bigrams * {LM_SCALE // 1_000_000})").alias(
                "lm_micro"
            ),
        )
        .orderBy("doc_id")
    )


_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), bigrams AS (
  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
  FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
), uni AS (
  SELECT w1, count(*)::BIGINT AS cu FROM bigrams GROUP BY 1
), bi AS (
  SELECT w1, w2, count(*)::BIGINT AS cb FROM bigrams GROUP BY 1, 2
)
SELECT b.doc_id,
       count(*)::BIGINT AS n_bigrams,
       (sum(floor((bi.cb - 1)::DOUBLE / uni.cu::DOUBLE * {LM_SCALE}.0)::BIGINT)
        // (count(*) * {LM_SCALE // 1_000_000}))::BIGINT AS lm_micro
FROM bigrams b
JOIN bi ON bi.w1 = b.w1 AND bi.w2 = b.w2
JOIN uni ON uni.w1 = b.w1
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# stupid_backoff_score
# ---------------------------------------------------------------------------

SB_ALPHA_NUM, SB_ALPHA_DEN = 2, 5  # Brants' 0.4 backoff factor, exact


def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIGRAM language-model fluency score with STUPID BACKOFF
    (Brants et al. 2007, "Large Language Models in Machine
    Translation" — the backoff rule built FOR distributed count-based
    LMs: no discount mass bookkeeping, just S(w₃|w₁w₂) =
    f(w₁w₂w₃)/f(w₁w₂), backing off through 0.4·f(w₂w₃)/f(w₂) to
    0.4²·f(w₃)/T) — the longer-context upgrade of
    ``ngram_lm_score``'s bigram mean, with the same LEAVE-ONE-OUT
    discount at every level (a doc's own occurrence never supports
    itself; a trigram/bigram/unigram seen nowhere else contributes
    zero at that level and falls through).

    Determinism: each term is CASE-selected at ONE level, computed
    as a single IEEE division of exact counts (×0.4 and ×0.16 are
    exact-rounded double ops), floor-quantized to 1e-9 longs before
    the sum, mean by integer DIV — the ngram_lm_score contract.

    Shape: three wordcount-family aggregates (trigram, bigram,
    unigram — each map-side-combinable) + equi-joins back onto the
    persisted trigram stream + one per-doc aggregate. Corpus is
    scanned three times (the three n-gram grains); every count
    relation is n-gram-TYPE-bounded (≪ corpus rows). The broadcast
    hints fit type counts up to executor memory (fixture: 31-token
    vocab; real LMs prune singleton trigrams first, Brants §3) —
    at web-scale trigram-type counts, drop the hints and let these
    become shuffle joins on the n-gram key: same semantics, the
    partial-agg + equi-join shape already distributes. Docs shorter
    than 3 tokens have no trigrams and are absent, by contract (the
    oracle mirrors).

    Output: doc_id, n_trigrams, sb_micro.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.lower("text")).alias("t"))
    arr = F.col("t")

    def grams(n: int) -> DataFrame:
        seq = F.when(
            F.size(arr) >= n, F.sequence(F.lit(0), F.size(arr) - n)
        ).otherwise(F.array().cast("array<int>"))
        cols = lambda i: [  # noqa: E731
            F.get(arr, i + k).alias(f"w{k + 1}") for k in range(n)
        ]
        return toks.select(
            "doc_id",
            F.explode(F.transform(seq, lambda i: F.struct(*cols(i)))).alias(
                "g"
            ),
        ).select("doc_id", "g.*")

    tri = track_persist(grams(3))
    big = grams(2)
    uni = grams(1)
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    tot = uni.agg(F.count(F.lit(1)).alias("t_total"))
    scored = (
        tri.join(F.broadcast(c3), ["w1", "w2", "w3"])
        .join(
            F.broadcast(c2.withColumnRenamed("c2", "c2_ctx")),
            ["w1", "w2"],
        )
        .join(
            F.broadcast(
                c2.select(
                    F.col("w1").alias("w2"),
                    F.col("w2").alias("w3"),
                    F.col("c2").alias("c2_bo"),
                )
            ),
            ["w2", "w3"],
        )
        .join(
            F.broadcast(c1.select(F.col("w1").alias("w2"),
                                  F.col("c1").alias("c1_w2"))),
            "w2",
        )
        .join(
            F.broadcast(c1.select(F.col("w1").alias("w3"),
                                  F.col("c1").alias("c1_w3"))),
            "w3",
        )
        .crossJoin(F.broadcast(tot))
    )
    alpha = SB_ALPHA_NUM / SB_ALPHA_DEN
    term = (
        "CAST(floor(CASE"
        " WHEN c3 > 1 THEN CAST(c3 - 1 AS DOUBLE) / CAST(c2_ctx AS DOUBLE)"
        f" WHEN c2_bo > 1 THEN {alpha} * CAST(c2_bo - 1 AS DOUBLE)"
        " / CAST(c1_w2 AS DOUBLE)"
        f" ELSE {alpha * alpha} * CAST(c1_w3 - 1 AS DOUBLE)"
        " / CAST(t_total AS DOUBLE)"
        f" END * {LM_SCALE}.0) AS BIGINT)"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.expr(term)).alias("sq"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            F.expr(
                f"sq DIV (n_trigrams * {LM_SCALE // 1_000_000})"
            ).alias("sb_micro"),
        )
        .orderBy("doc_id")
    )


def _stupid_backoff_sql() -> str:
    alpha = SB_ALPHA_NUM / SB_ALPHA_DEN
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), tri AS (
  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
  FROM toks, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS u(i)
), big AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
), unig AS (
  SELECT unnest(ts) AS w1 FROM toks
), c3 AS (
  SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM tri GROUP BY 1, 2, 3
), c2 AS (
  SELECT w1, w2, count(*)::BIGINT AS c2 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT w1, count(*)::BIGINT AS c1 FROM unig GROUP BY 1
), tot AS (
  SELECT count(*)::BIGINT AS t_total FROM unig
)
SELECT t.doc_id, count(*)::BIGINT AS n_trigrams,
       (sum(CAST(floor(CASE
          WHEN c3.c3 > 1 THEN (c3.c3 - 1)::DOUBLE / cctx.c2::DOUBLE
          WHEN cbo.c2 > 1 THEN {alpha} * (cbo.c2 - 1)::DOUBLE
               / c1w2.c1::DOUBLE
          ELSE {alpha * alpha} * (c1w3.c1 - 1)::DOUBLE
               / tot.t_total::DOUBLE
        END * {LM_SCALE}.0) AS BIGINT))
        // (count(*) * {LM_SCALE // 1_000_000}))::BIGINT AS sb_micro
FROM tri t
JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
JOIN c2 cctx ON cctx.w1 = t.w1 AND cctx.w2 = t.w2
JOIN c2 cbo ON cbo.w1 = t.w2 AND cbo.w2 = t.w3
JOIN c1 c1w2 ON c1w2.w1 = t.w2
JOIN c1 c1w3 ON c1w3.w1 = t.w3
CROSS JOIN tot
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-gram hashes per winnowing window
_WINNOW_POS = 1 << 30  # (hash, pos) encoded as hash*2^30 + pos


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm) — LOCAL fingerprints next to
    ``doc_fingerprint``'s whole-document hash: any shared token run
    of ≥ WINNOW_W + WINNOW_K − 1 tokens between two documents is
    GUARANTEED to share a selected fingerprint, which is what makes
    partial-overlap detection (plagiarism, quote mining, span-level
    dedup) a plain equi-join on the output.

    Construction, fully expression-level and NARROW (zero shuffles
    before the output sort): per-token char rolling hash (the
    ``doc_fingerprint`` polynomial, mod 1e9+7) → k-gram hash over
    WINNOW_K consecutive token hashes (unrolled polynomial) → each
    sliding window of WINNOW_W k-gram hashes selects its minimum,
    ties to the LEFTMOST position — implemented as ``array_min`` over
    ``hash·2³⁰ + pos`` encodings, so the min is the (hash, pos)
    lexicographic argmin in one codegen'd integer pass (positions
    < 2³⁰; encodings < 1.16e18, no ANSI overflow). Distinct selected
    pairs are the fingerprint set.

    Output: doc_id, pos (0-based k-gram index), fp.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.lower("text")).alias("t"))
    th = F.transform(
        "t",
        lambda tok: F.aggregate(
            F.filter(F.split(tok, ""), lambda c: c != F.lit("")),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(
                acc * F.lit(FP_BASE) + F.ascii(ch).cast("long"), F.lit(FP_MOD)
            ),
        ),
    )
    hashed = toks.select("doc_id", th.alias("th"))
    arr = F.col("th")
    n_g = F.size(arr) - (WINNOW_K - 1)

    def kgram(i: F.Column) -> F.Column:
        acc = F.get(arr, i)
        for j in range(1, WINNOW_K):
            acc = F.pmod(acc * F.lit(FP_BASE) + F.get(arr, i + j), F.lit(FP_MOD))
        return acc

    grams_seq = F.when(n_g >= 1, F.sequence(F.lit(0), n_g - 1)).otherwise(
        F.array().cast("array<int>")
    )
    enc = F.transform(
        grams_seq, lambda i: kgram(i) * F.lit(_WINNOW_POS) + i.cast("long")
    )
    with_enc = hashed.select("doc_id", enc.alias("enc"))
    e = F.col("enc")
    n_w = F.size(e) - (WINNOW_W - 1)
    wins_seq = F.when(n_w >= 1, F.sequence(F.lit(0), n_w - 1)).otherwise(
        F.array().cast("array<int>")
    )
    selected = F.array_distinct(
        F.transform(wins_seq, lambda w: F.array_min(F.slice(e, w + 1, WINNOW_W)))
    )
    return (
        with_enc.select("doc_id", F.explode(selected).alias("sel"))
        .select(
            "doc_id",
            F.pmod(F.col("sel"), F.lit(_WINNOW_POS)).alias("pos"),
            # integer DIV, not float `/`: sel can exceed 2^53, where a
            # double round-trip loses up to ~256 ulps; DIV mirrors the
            # oracle's `//` exactly (sel >= 0, so truncation == floor)
            F.expr(f"sel DIV {_WINNOW_POS}L").alias("fp"),
        )
        .orderBy("doc_id", "pos")
    )


def _winnow_sql() -> str:
    kg = "th[i]"
    for j in range(1, WINNOW_K):
        kg = f"(({kg}) * {FP_BASE} + th[i+{j}]) % {FP_MOD}"
    return f"""
WITH th_t AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> ''),
           tok -> list_reduce(
             list_prepend(0::BIGINT,
               list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})
         ) AS th
  FROM documents
), enc_t AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(th) - {WINNOW_K - 1}, 0)),
           i -> ({kg}) * {_WINNOW_POS}::BIGINT + (i - 1)
         ) AS enc
  FROM th_t
), sel AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(enc) - {WINNOW_W - 1}, 0)),
           w -> list_min(enc[w:w+{WINNOW_W - 1}])
         )) AS s
  FROM enc_t
)
SELECT doc_id,
       (s % {_WINNOW_POS})::BIGINT AS pos,
       (s // {_WINNOW_POS})::BIGINT AS fp
FROM sel
ORDER BY doc_id, pos
"""


OOV_VOCAB_K = 1000


def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document source — the curation
    metric that flags a source whose tokens a fixed-size vocabulary
    (the tokenizer-training proxy) fails to cover: high OOV means a
    scrape in another script/domain or template noise a downstream
    tokenizer would shred into bytes.

    Vocabulary = the OOV_VOCAB_K most frequent corpus tokens,
    deterministic tie-break (count desc, token asc), selected via
    ``orderBy().limit()`` — Catalyst plans TakeOrderedAndProject
    (per-partition heaps + driver merge of K rows), NEVER a global
    sort; the vocab then rides a broadcast join back onto the token
    stream. Shape: wordcount aggregate + K-row broadcast + one
    per-source aggregate — corpus-linear, two shuffles.

    Determinism: the rate is one IEEE division of exact counts,
    floor-quantized to 1e-6 (module policy).

    Output: source, n_tokens, n_oov, oov_micro.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.lower("text"))).alias("tok"))
    )
    toks = track_persist(toks)  # feeds vocab + scoring
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
    rate = F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.floor(rate * F.lit(1_000_000.0)).cast("long").alias("oov_micro"),
        )
        .orderBy("source")
    )


_OOV_SQL = f"""
WITH toks AS (
  SELECT source, lower(tok) AS tok
  FROM documents,
       unnest(string_split_regex(text, '\\s+')) AS u(tok)
  WHERE tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, tok ASC LIMIT {OOV_VOCAB_K}
  )
)
SELECT source,
       count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       floor(sum(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE * 1000000.0)::BIGINT AS oov_micro
FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
GROUP BY source
ORDER BY source
"""


_BPE_PAIRS = """
WITH words AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS word
    FROM documents
  ) GROUP BY word
), pairs AS (
  SELECT n, unnest(list_transform(
           generate_series(1, greatest(len(word) - 1, 0)),
           i -> word[i] || word[i+1])) AS pair
  FROM words
)
SELECT pair, sum(n)::BIGINT AS cnt FROM pairs GROUP BY pair
"""


CURRICULUM_TOPN = 100  # schedule head emitted for inspection


def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ORDERING — the training-order construction between
    curation and sharding: within each source, docs rank by quality
    (n_chars as the in-tree proxy rank, doc_id tie-break); the
    global order interleaves sources ROUND-ROBIN at each quality
    rank (rank 1 of every source, then rank 2, …) so early training
    sees the best of EVERY source instead of drowning in one
    domain's head. Emits the schedule head (first CURRICULUM_TOPN
    positions) — the slice a reviewer inspects.

    Scale shape: per-source rank is one source-keyed window
    (per-key sort); the global head is TakeOrdered on the (rank,
    source, doc_id) key — per-partition heaps, never a global sort.
    A full-schedule materialization would instead WRITE sharded by
    rank-band (the shuffle_for_training shape); the head is the
    audit surface.

    Output: pos, doc_id, source, src_rank, n_chars.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    head = (
        docs.withColumn("src_rank", rk)
        .orderBy("src_rank", "source", "doc_id")
        .limit(CURRICULUM_TOPN)
    )
    pos = F.row_number().over(
        Window.orderBy("src_rank", "source", "doc_id")
    )
    return head.select(
        pos.alias("pos"), "doc_id", "source", "src_rank", "n_chars"
    ).orderBy("pos")


_CURRICULUM_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS src_rank
  FROM documents
), head AS (
  SELECT * FROM ranked ORDER BY src_rank, source, doc_id
  LIMIT {CURRICULUM_TOPN}
)
SELECT row_number() OVER (ORDER BY src_rank, source, doc_id)::BIGINT AS pos,
       doc_id, source, src_rank::BIGINT AS src_rank, n_chars
FROM head ORDER BY pos
"""


COOC_VOCAB_K = 40  # collocation vocabulary (fixture corpus is ~40 tokens)
COOC_MIN_SUPPORT = 5  # pair must co-occur in ≥ this many docs
COOC_TOPK = 50


def term_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION MINING by lift — which token pairs co-occur in
    documents far beyond chance: lift = P(a,b) / (P(a)·P(b)) =
    n_ab·N / (n_a·n_b). This is PMI's argument WITHOUT the log (the
    libm transcendental that breaks cross-engine exactness —
    monotone in PMI, so the ranking is identical), over
    document-level presence.

    Scale shape: presence sets restrict to a TakeOrdered top-K
    vocabulary that rides a broadcast semi-join (per-doc distinct
    vocab tokens ≤ K, so the within-doc pair fan-out is bounded by
    K²/2, independent of doc length); pair counting is one hash
    aggregate; marginals broadcast back onto the ≤K²/2 pair
    relation. A support floor kills noise pairs before ranking; the
    final top-k is TakeOrdered heaps.

    Determinism: lift quantizes as n_ab·N·1e6 DIV (n_a·n_b) — exact
    integer arithmetic (bounded by N·N·1e6; at >10⁹-doc corpora
    compute in decimal(38,0) — noted, fixture-safe here).

    Output: tok_a, tok_b, n_ab, n_a, n_b, lift_micro
    (top COOC_TOPK by lift desc, tok_a, tok_b).
    """
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    present = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    vocab = (
        present.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(COOC_VOCAB_K)
    )
    pv = present.join(F.broadcast(vocab.select("tok")), "tok")
    a, b = pv.alias("a"), pv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= COOC_MIN_SUPPORT)
    )
    marg = vocab.select("tok", F.col("df").alias("n"))
    out = (
        pairs.join(
            F.broadcast(marg.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(marg.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * n_docs * 1000000) DIV (n_a * n_b)").alias(
                "lift_micro"
            ),
        )
    )
    return out.orderBy(
        F.desc("lift_micro"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(COOC_TOPK)


_COOC_SQL = f"""
WITH present AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
), vocab AS (
  SELECT tok, count(*)::BIGINT AS df FROM present GROUP BY 1
  ORDER BY df DESC, tok ASC LIMIT {COOC_VOCAB_K}
), pv AS (
  SELECT p.doc_id, p.tok FROM present p JOIN vocab USING (tok)
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS n_ab
  FROM pv a JOIN pv b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_SUPPORT}
), nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT tok_a, tok_b, n_ab, va.df AS n_a, vb.df AS n_b,
       (n_ab * n_docs * 1000000) // (va.df * vb.df) AS lift_micro
FROM pairs
JOIN vocab va ON va.tok = tok_a
JOIN vocab vb ON vb.tok = tok_b
CROSS JOIN nd
ORDER BY lift_micro DESC, tok_a ASC, tok_b ASC
LIMIT {COOC_TOPK}
"""


POWER_ITERS = 4  # fixed unrolled matvec rounds (deterministic DAG)
_PI_SCALE = 1_000_000


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding matrix by POWER
    ITERATION — the dimensionality/drift primitive (dominant
    direction for whitening, compression, or monitoring) as a
    sequence of DISTRIBUTED matvecs: v ← normalize(Xᵀ(Xv)),
    ``POWER_ITERS`` fixed rounds from the all-ones start. No
    eigensolver, no driver-side matrix: each round is two
    corpus-shaped aggregates.

    Scale shape (the iterative-kernel discipline from kmeans/
    pagerank): the corpus unpivots ONCE to (vec_id, dim, q) rows and
    persists; per round, u = Xv is a broadcast-join on the 64-row v
    + one vec_id aggregate, and w = Xᵀû is one vec_id-keyed join +
    dim aggregate; v is 64 rows, localCheckpointed per round to cut
    lineage. Nothing ever collects.

    Determinism (the oracle is EXACT, unlike any float eigensolver):
    embeddings quantize to micro longs; every normalization is
    max-abs INTEGER division by (m DIV 1e6 + 1) — which also bounds
    each product at ~5e11 so ANSI int64 sums can never overflow —
    and both engines truncate BIGINT division identically. The SQL
    mirror unrolls the same four rounds as materialized CTEs.

    Convergence contract (stated, not assumed): after T rounds the
    iterate is within (λ2/λ1)^T of the top eigenvector — on data
    with a real eigengap 4 rounds suffice (cos > 0.999 pinned in
    tests on a planted-direction corpus); on gapless isotropic data
    no fixed-round method converges and the output is the
    deterministic refinement of the start, still oracle-exact.

    Output: dim (1-based), v_micro — the iterate in max-abs integer
    micro-units, sign fixed by the deterministic start.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _PI_SCALE).cast("long"),
            )
        ).alias("dim0", "q"),
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "q")
    rows = track_persist(rows)
    v = rows.select("dim").distinct().select(
        "dim", F.lit(_PI_SCALE).cast("long").alias("v")
    )
    for _ in range(POWER_ITERS):
        u = (
            rows.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).alias("u"))
        )
        m = u.agg(F.max(F.abs("u")).alias("m"))
        uh = u.crossJoin(F.broadcast(m)).select(
            "vec_id", F.expr(f"u DIV (m DIV {_PI_SCALE} + 1)").alias("uh")
        )
        w = (
            rows.join(uh, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("q") * F.col("uh")).alias("w"))
        )
        mw = w.agg(F.max(F.abs("w")).alias("mw"))
        v = (
            w.crossJoin(F.broadcast(mw))
            .select(
                "dim", F.expr(f"w DIV (mw DIV {_PI_SCALE} + 1)").alias("v")
            )
            .localCheckpoint()
        )
    return v.select("dim", F.col("v").alias("v_micro")).orderBy("dim")


def _pca_power_oracle_sql() -> str:
    """The same four integer matvec rounds unrolled as materialized
    CTEs (DuckDB inlines CTEs by default; each round references the
    previous several times)."""
    sql = f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_PI_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), rws AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(q, 1) AS dim, unnest(q) AS qv FROM emb
), v0 AS MATERIALIZED (
  SELECT DISTINCT dim, {_PI_SCALE}::BIGINT AS v FROM rws
)"""
    prev = "v0"
    for t in range(1, POWER_ITERS + 1):
        sql += f"""
, u{t} AS MATERIALIZED (
  SELECT vec_id, sum(qv * v)::BIGINT AS u
  FROM rws JOIN {prev} USING (dim) GROUP BY 1
), m{t} AS MATERIALIZED (SELECT max(abs(u))::BIGINT AS m FROM u{t})
, uh{t} AS MATERIALIZED (
  SELECT vec_id, u // (m // {_PI_SCALE} + 1) AS uh
  FROM u{t} CROSS JOIN m{t}
), w{t} AS MATERIALIZED (
  SELECT dim, sum(qv * uh)::BIGINT AS w
  FROM rws JOIN uh{t} USING (vec_id) GROUP BY 1
), mw{t} AS MATERIALIZED (SELECT max(abs(w))::BIGINT AS mw FROM w{t})
, v{t} AS MATERIALIZED (
  SELECT dim, w // (mw // {_PI_SCALE} + 1) AS v
  FROM w{t} CROSS JOIN mw{t}
)"""
        prev = f"v{t}"
    sql += f"\nSELECT dim::BIGINT AS dim, v AS v_micro FROM {prev} ORDER BY dim"
    return sql


def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib COMPRESSION RATIO — the classic "does this text
    carry information" quality signal (low-entropy template spam and
    repeated boilerplate compress far below natural prose; used as a
    culling feature in Gopher/RefinedWeb-class pipelines). Computed
    the only honest way: actually DEFLATE-compressing the bytes
    (stdlib zlib, fixed level, Arrow-batched ``mapInPandas``) —
    which is also why this entry is rows-only: no SQL engine can
    mirror DEFLATE, so the gate pins it with an EXACT per-row pytest
    oracle against Python zlib plus monotonicity properties
    (repetitive < natural) instead of a DuckDB hash.

    Scale shape: narrow map over the payload bytes, zero shuffle —
    the multimodal-decode shape applied to text. Determinism: zlib
    with a fixed level is byte-deterministic for a given zlib build,
    and the ratio is integer-DIV floor-quantized.

    Output: doc_id, raw_len, comp_len, ratio_micro.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def _ratios(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            raw_len = [len(b) for b in raw]
            comp_len = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw_len,
                    "comp_len": comp_len,
                    "ratio_micro": [
                        (c * 1_000_000) // r if r else None
                        for c, r in zip(comp_len, raw_len)
                    ],
                }
            )

    return docs.mapInPandas(
        _ratios,
        "doc_id bigint, raw_len bigint, comp_len bigint, ratio_micro bigint",
    ).orderBy("doc_id")


# Gopher-style rule thresholds (Rae et al. 2021 §A1.1, adapted to
# the fixture corpus: its docs are ~30 synthetic words, so the word
# count floor is 10, not Gopher's 50 — the RULE SHAPES are the point)
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WLEN_MICRO = 2_000_000  # mean word length ≥ 2 chars
GOPHER_MAX_WLEN_MICRO = 10_000_000  # … and ≤ 10
GOPHER_MIN_ALPHA_MICRO = 800_000  # ≥80 % of words contain a letter
GOPHER_MIN_STOPWORDS = 2  # ≥2 distinct-list stopword hits
GOPHER_STOPWORDS = ("the", "of", "and", "a", "in", "to", "is")


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RULE-BASED quality filter (Rae et al. 2021
    §A1.1): the pre-training cull that drops documents failing
    cheap lexical sanity rules — word count bounds, mean word
    length bounds, minimum fraction of alphabetic words, minimum
    stopword hits — before any model-based scoring runs. Each rule
    is emitted separately (0/1) plus the conjunction, so the audit
    shows WHY a document was culled, not just that it was.

    Where ``quality_score`` blends signals into one scalar, this is
    the production filter: hard thresholds, explainable verdicts.

    Scale shape: entirely per-row (tokenize → array aggregates →
    compare) — zero shuffle at any corpus size, the canonical
    embarrassingly-parallel curation pass. Determinism: counts are
    exact longs; the two ratios are integer-DIV floor-quantized
    micro-units (no float summation anywhere).

    Output: doc_id, n_words, mean_wlen_micro, alpha_frac_micro,
    n_stop, r_wordcount, r_wordlen, r_alpha, r_stop, pass_all.
    """
    docs = table(spark, sf_dir, "documents")
    return gopher_flags(docs).orderBy("doc_id")


def gopher_flags(docs: DataFrame) -> DataFrame:
    """The Gopher rule expressions over any (doc_id, text) relation —
    pure per-row columns, so the same logic runs batch
    (``gopher_quality_rules``) and streaming
    (``stream_gopher_filter``) unchanged."""
    toks = tokens(F.lower("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, F.length),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        .cast("long")
        .alias("_alpha"),
        F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
    )
    with_ratios = base.select(
        "doc_id",
        "n_words",
        "n_stop",
        F.expr("(_chars * 1000000) DIV nullif(n_words, 0)").alias(
            "mean_wlen_micro"
        ),
        F.expr("(_alpha * 1000000) DIV nullif(n_words, 0)").alias(
            "alpha_frac_micro"
        ),
    )
    r_wc = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
    ).cast("int")
    r_wl = (
        F.coalesce(
            (F.col("mean_wlen_micro") >= GOPHER_MIN_WLEN_MICRO)
            & (F.col("mean_wlen_micro") <= GOPHER_MAX_WLEN_MICRO),
            F.lit(False),
        )
    ).cast("int")
    r_al = F.coalesce(
        F.col("alpha_frac_micro") >= GOPHER_MIN_ALPHA_MICRO, F.lit(False)
    ).cast("int")
    r_st = (F.col("n_stop") >= GOPHER_MIN_STOPWORDS).cast("int")
    return with_ratios.select(
        "doc_id",
        "n_words",
        "mean_wlen_micro",
        "alpha_frac_micro",
        "n_stop",
        r_wc.alias("r_wordcount"),
        r_wl.alias("r_wordlen"),
        r_al.alias("r_alpha"),
        r_st.alias("r_stop"),
        (r_wc * r_wl * r_al * r_st).alias("pass_all"),
    )


_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(ts)::BIGINT AS n_words,
         list_reduce(list_prepend(0::BIGINT, list_transform(ts, t -> length(t)::BIGINT)),
                     (a, x) -> a + x) AS chars,
         len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))::BIGINT AS alpha,
         len(list_filter(ts, t -> t IN {GOPHER_STOPWORDS!r}))::BIGINT AS n_stop
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
), ratios AS (
  SELECT doc_id, n_words, n_stop,
         CASE WHEN n_words > 0 THEN (chars * 1000000) // n_words END
           AS mean_wlen_micro,
         CASE WHEN n_words > 0 THEN (alpha * 1000000) // n_words END
           AS alpha_frac_micro
  FROM base
), rules AS (
  SELECT *,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})::INT
           AS r_wordcount,
         coalesce(mean_wlen_micro >= {GOPHER_MIN_WLEN_MICRO}
                  AND mean_wlen_micro <= {GOPHER_MAX_WLEN_MICRO}, false)::INT
           AS r_wordlen,
         coalesce(alpha_frac_micro >= {GOPHER_MIN_ALPHA_MICRO}, false)::INT
           AS r_alpha,
         (n_stop >= {GOPHER_MIN_STOPWORDS})::INT AS r_stop
  FROM ratios
)
SELECT doc_id, n_words, mean_wlen_micro, alpha_frac_micro, n_stop,
       r_wordcount, r_wordlen, r_alpha, r_stop,
       (r_wordcount * r_wordlen * r_alpha * r_stop)::INT AS pass_all
FROM rules ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# filter_agreement_kappa
# ---------------------------------------------------------------------------


def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA (Cohen 1960) between the repo's two quality
    filters — the rule-based ``gopher_quality_rules`` verdict and the
    model-based ``quality_classifier_linear`` label — the
    inter-rater-agreement audit a curation pipeline runs before
    swapping one filter for the other: raw agreement alone is
    inflated by base rates (two filters that both keep 95% agree 90%
    by chance); κ removes the chance floor.

    Exactness: κ is RATIONAL in the 2×2 confusion counts —
    κ = (N·(n₁₁+n₀₀) − (a₁b₁+a₀b₀)) / (N² − (a₁b₁+a₀b₀)) — so with
    DECIMAL/HUGEINT widening the micro quantization is ONE integer
    DIV. Zero floats anywhere.

    Scale shape: both verdicts are per-row narrow expressions; they
    share the corpus scan's cost class and join on doc_id (reusing
    the REGISTERED operators — agreement measured on exactly what
    runs in production, the hard_negative_mining shared-kernel
    rule), then a 1-row confusion reduce.

    Output: n_docs, n11, n10, n01, n00, agree_micro, kappa_micro.
    """
    g = gopher_flags(table(spark, sf_dir, "documents")).select(
        "doc_id", "pass_all"
    )
    q = quality_classifier_linear(spark, sf_dir).select("doc_id", "label")
    cells = g.join(q, "doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CASE WHEN pass_all = 1 AND label = 1 THEN 1 ELSE 0 END")
        ).alias("n11"),
        F.sum(
            F.expr("CASE WHEN pass_all = 1 AND label = 0 THEN 1 ELSE 0 END")
        ).alias("n10"),
        F.sum(
            F.expr("CASE WHEN pass_all = 0 AND label = 1 THEN 1 ELSE 0 END")
        ).alias("n01"),
        F.sum(
            F.expr("CASE WHEN pass_all = 0 AND label = 0 THEN 1 ELSE 0 END")
        ).alias("n00"),
    )
    chance = (
        "(CAST(n11 + n10 AS decimal(38,0)) * (n11 + n01)"
        " + CAST(n01 + n00 AS decimal(38,0)) * (n10 + n00))"
    )
    return cells.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.expr(
            "CASE WHEN n > 0 THEN"
            " CAST((CAST(n11 + n00 AS decimal(38,0)) * 1000000) DIV n"
            " AS BIGINT) END"
        ).alias("agree_micro"),
        F.expr(
            f"CASE WHEN CAST(n AS decimal(38,0)) * n - {chance} <> 0 THEN"
            f" CAST(((CAST(n AS decimal(38,0)) * (n11 + n00) - {chance})"
            " * 1000000)"
            f" DIV (CAST(n AS decimal(38,0)) * n - {chance}) AS BIGINT) END"
        ).alias("kappa_micro"),
    )


BURST_TOPK = 20  # report the K most bursty tokens


def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN BURSTINESS (Church & Gale 1995 — "Poisson mixtures"):
    the variance-to-mean ratio of each token's per-document count
    against the Poisson null (VMR = 1). Function words arrive ~
    Poisson (VMR ≈ 1); content/topical words BURST — they pile up in
    the few documents about their topic (VMR ≫ 1). The corpus
    statistic behind burst-aware term weighting and topical-keyword
    surfacing, and a drift monitor for template spam (a boilerplate
    token's VMR spikes).

    Exactness: with D total docs, S = Σ per-doc counts, Q = Σ
    squared per-doc counts (zeros contribute nothing to either), the
    population VMR over ALL docs is (D·Q − S²)/(D·S) — rational in
    exact longs, ONE widened integer DIV to micro. Zero floats.

    Scale shape: one (token, doc) hash aggregate → one token-grain
    aggregate (vocab-bounded) → 1-row doc-count broadcast → top-K
    heap (TakeOrdered, never a global sort). Wordcount class.

    Output: token, df, total_cnt, vmr_micro — top BURST_TOPK by
    (vmr_micro DESC, token).
    """
    docs = table(spark, sf_dir, "documents")
    td = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower("text"))).alias("tok")
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    per_tok = td.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("x").alias("s"),
        F.sum(F.expr("CAST(x AS decimal(38,0)) * x")).alias("q"),
    )
    d_total = docs.agg(F.count(F.lit(1)).alias("d_docs"))
    return (
        per_tok.crossJoin(F.broadcast(d_total))
        .select(
            F.col("tok").alias("token"),
            F.col("df").cast("long").alias("df"),
            F.col("s").cast("long").alias("total_cnt"),
            F.expr(
                "CASE WHEN s > 0 THEN"
                " CAST(((CAST(d_docs AS decimal(38,0)) * q"
                " - CAST(s AS decimal(38,0)) * s) * 1000000)"
                " DIV (CAST(d_docs AS decimal(38,0)) * s) AS BIGINT) END"
            ).alias("vmr_micro"),
        )
        .orderBy(F.col("vmr_micro").desc(), "token")
        .limit(BURST_TOPK)
    )


_BURSTINESS_SQL = f"""
WITH td AS (
  SELECT tok, doc_id, count(*)::BIGINT AS x
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             regexp_split_to_array(lower(text), '\\s+'),
             t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY 1, 2
), per_tok AS (
  SELECT tok, count(*)::BIGINT AS df, sum(x)::BIGINT AS s,
         sum(x::HUGEINT * x) AS q
  FROM td GROUP BY 1
), d_total AS (SELECT count(*)::BIGINT AS d_docs FROM documents)
SELECT tok AS token, df, s AS total_cnt,
       CASE WHEN s > 0 THEN
         CAST(((d_docs::HUGEINT * q - s::HUGEINT * s) * 1000000)
              // (d_docs::HUGEINT * s) AS BIGINT) END AS vmr_micro
FROM per_tok CROSS JOIN d_total
ORDER BY vmr_micro DESC, token
LIMIT {BURST_TOPK}
"""


MCNEMAR_CRIT_MICRO = 3_841_459  # chi-square 0.95 quantile, dof = 1


def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST (McNemar 1947) on the same paired filter
    verdicts ``filter_agreement_kappa`` scores — the DIFFERENCE
    question beside κ's agreement question: do the gopher rules and
    the linear classifier disagree SYMMETRICALLY, or does one
    systematically keep documents the other drops? Only the
    discordant cells matter: χ² = (n₁₀ − n₀₁)²/(n₁₀ + n₀₁), dof 1.

    Exactness: χ² is rational in two exact longs — ONE widened
    integer DIV to micro; the α=0.05 verdict is an integer compare
    against the dof-1 critical constant. Zero floats.

    Scale shape: identical to ``filter_agreement_kappa`` (shared
    confusion-cell aggregate shape) — two narrow per-row verdicts,
    a doc_id join, a 1-row reduce.

    Output: n_docs, n10, n01, chi2_micro, reject_05.
    """
    g = gopher_flags(table(spark, sf_dir, "documents")).select(
        "doc_id", "pass_all"
    )
    q = quality_classifier_linear(spark, sf_dir).select("doc_id", "label")
    cells = g.join(q, "doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CASE WHEN pass_all = 1 AND label = 0 THEN 1 ELSE 0 END")
        ).alias("n10"),
        F.sum(
            F.expr("CASE WHEN pass_all = 0 AND label = 1 THEN 1 ELSE 0 END")
        ).alias("n01"),
    )
    chi2 = (
        "CAST((CAST(n10 - n01 AS decimal(38,0)) * (n10 - n01) * 1000000)"
        " DIV (n10 + n01) AS BIGINT)"
    )
    return cells.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.expr(
            f"CASE WHEN n10 + n01 > 0 THEN {chi2} END"
        ).alias("chi2_micro"),
        F.expr(
            f"CASE WHEN n10 + n01 > 0 THEN"
            f" CAST({chi2} > {MCNEMAR_CRIT_MICRO} AS INT) END"
        ).alias("reject_05"),
    )


def _mcnemar_sql() -> str:
    chi2 = (
        "CAST(((n10 - n01)::HUGEINT * (n10 - n01) * 1000000)"
        " // (n10 + n01) AS BIGINT)"
    )
    return f"""
WITH g AS ({_GOPHER_SQL}),
q AS ({_QCLF_SQL}),
cells AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN pass_all = 1 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
         sum(CASE WHEN pass_all = 0 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS n01
  FROM g JOIN q USING (doc_id)
)
SELECT n AS n_docs, n10, n01,
       CASE WHEN n10 + n01 > 0 THEN {chi2} END AS chi2_micro,
       CASE WHEN n10 + n01 > 0 THEN
         CAST({chi2} > {MCNEMAR_CRIT_MICRO} AS INT) END AS reject_05
FROM cells
"""


def _kappa_sql() -> str:
    chance = (
        "((n11 + n10)::HUGEINT * (n11 + n01)"
        " + (n01 + n00)::HUGEINT * (n10 + n00))"
    )
    return f"""
WITH g AS ({_GOPHER_SQL}),
q AS ({_QCLF_SQL}),
cells AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN pass_all = 1 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
         sum(CASE WHEN pass_all = 1 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
         sum(CASE WHEN pass_all = 0 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
         sum(CASE WHEN pass_all = 0 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS n00
  FROM g JOIN q USING (doc_id)
)
SELECT n AS n_docs, n11, n10, n01, n00,
       CASE WHEN n > 0 THEN
         CAST(((n11 + n00)::HUGEINT * 1000000) // n AS BIGINT) END
         AS agree_micro,
       CASE WHEN n::HUGEINT * n - {chance} <> 0 THEN
         CAST(((n::HUGEINT * (n11 + n00) - {chance}) * 1000000)
              // (n::HUGEINT * n - {chance}) AS BIGINT) END AS kappa_micro
FROM cells
"""


SOURCE_CAP_K = 15  # max docs kept per source (25/source at sf0.01)


def source_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE document cap with drop accounting — the
    RefinedWeb/C4-style "domain cap" that stops any one crawl
    domain from dominating the training mix: within each source,
    keep the best ``SOURCE_CAP_K`` documents (longest first — the
    stand-in quality rank — doc_id tie-break) and report what the
    cap did: kept/dropped counts and the kept set's floor, the
    numbers a curation review asks for before signing off a mix.

    Scale shape: ONE hash shuffle on source + a per-source rank
    window (per-key sort, never global) + one re-aggregate of the
    already-partitioned rows — at 100 TB this is a single shuffle
    whose key count (domains) is millions, not rows; skewed mega
    domains are exactly the rows the cap discards, and the window's
    per-partition top-k never materializes more than each source's
    run.

    Output per source: source, n_docs, n_kept, n_dropped,
    kept_min_chars, kept_chars.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
    )
    ranked = docs.withColumn("rk", rk)
    kept = F.col("rk") <= SOURCE_CAP_K
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum((~kept).cast("long")).alias("n_dropped"),
            F.min(F.when(kept, F.col("n_chars"))).alias("kept_min_chars"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0)))
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


_SOURCE_CAP_SQL = f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum((rk <= {SOURCE_CAP_K})::BIGINT)::BIGINT AS n_kept,
       sum((rk > {SOURCE_CAP_K})::BIGINT)::BIGINT AS n_dropped,
       min(CASE WHEN rk <= {SOURCE_CAP_K} THEN n_chars END)::BIGINT
         AS kept_min_chars,
       sum(CASE WHEN rk <= {SOURCE_CAP_K} THEN n_chars ELSE 0 END)::BIGINT
         AS kept_chars
FROM ranked GROUP BY source ORDER BY source
"""


# 80/10/10 split over the 0-255 leading-byte space of md5
SPLIT_TRAIN_LT = 205  # 205/256 ≈ 80.1 %
SPLIT_VAL_LT = 231  # next 26/256 ≈ 10.2 %; rest is test


def train_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST split manifest — the assignment
    step every training pipeline runs before sharding: each doc's
    split is a pure function of its id (leading md5 byte over a
    salted key → 80/10/10 bands), so the split is reproducible on
    any cluster, stable under re-ingest, and never leaks a doc
    across splits when the corpus grows (adding docs never moves an
    existing one). The manifest aggregates the evidence a reviewer
    checks: per (split, lang) doc counts and char mass, plus id
    bounds for spot checks.

    Scale shape: split assignment is a narrow per-row expression
    (no sort, no shuffle — the ``shuffle_for_training`` hex-byte
    idiom); the manifest is ONE map-side-combinable aggregate on a
    15-value key space. Determinism: md5 is engine-portable; the
    byte decode is integer CASE arithmetic.

    Output: split, lang, n_docs, total_chars, min_doc, max_doc.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))

    def _hexval(c: Column) -> Column:
        a = F.ascii(c)
        return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))

    byte = _hexval(F.substring(h, 1, 1)) * 16 + _hexval(F.substring(h, 2, 1))
    split = (
        F.when(byte < SPLIT_TRAIN_LT, F.lit("train"))
        .when(byte < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "doc_id", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split", "lang")
    )


_TRAIN_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN byte < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN byte < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT lang, doc_id, n_chars,
           (a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END) * 16
           + (a2 - CASE WHEN a2 >= 97 THEN 87 ELSE 48 END) AS byte
    FROM (
      SELECT lang, doc_id, n_chars,
             ascii(substr(md5('split:' || doc_id::VARCHAR), 1, 1)) AS a1,
             ascii(substr(md5('split:' || doc_id::VARCHAR), 2, 1)) AS a2
      FROM documents
    )
  )
)
SELECT split, lang, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


TEMPLATE_PREFIX_N = 6  # leading tokens that define a template family


def template_prefix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by LEADING-TOKEN prefix: groups
    of ≥2 documents within a source that open with the same first
    TEMPLATE_PREFIX_N tokens — the cheap first-pass signal a curation
    pipeline uses to find form letters, scraped templates, and
    generated boilerplate BEFORE paying for similarity joins (a
    template family shares its opening verbatim even when bodies
    diverge past any Jaccard threshold).

    Scale shape: the prefix is a narrow per-row expression (slice of
    the token array, already materialized once — no second tokenize),
    then ONE (source, prefix) hash aggregate with map-side combine —
    the wordcount shape on a derived key. No joins, no windows.

    Output: source, prefix, n_docs, min_doc, max_doc — one row per
    template family (n_docs ≥ 2), ordered by source, prefix.
    """
    docs = table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(tokens("text"), 1, TEMPLATE_PREFIX_N)
    )
    return (
        docs.select("source", prefix.alias("prefix"), "doc_id")
        .groupBy("source", "prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("source", "prefix")
    )


_TEMPLATE_PREFIX_SQL = f"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
)
SELECT source,
       array_to_string(ts[1:{TEMPLATE_PREFIX_N}], ' ') AS prefix,
       count(*)::BIGINT AS n_docs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM toks
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY 1, 2
"""


SPARSE_TOPK_K = 5
SPARSE_TOPK_QUERIES = 20  # doc_id < this are the probe documents
SPARSE_IDF_SCALE = 1_000_000
# Impact pruning (df-ceiling): a term present in more than this
# percentage of documents is a stopword whose posting list is ~the
# whole corpus for near-zero idf weight — at 100 TB that one term's
# posting join is |corpus|×|probes| rows of noise. Terms with
# df·100 > SPARSE_DF_CEIL_PCT·n_docs are dropped BEFORE the posting
# join, mirrored exactly in the oracle so exactness is preserved by
# construction (standard impact/quality pruning, e.g. WAND-family).
# The ceiling is a PARAMETER of the retrievers (threaded to both
# engines); the two named defaults:
#
# - SPARSE_DF_CEIL_PCT = 90 — the FIXTURE default. The sf0.01
#   corpus has a 31-token vocabulary with most tokens at ~80% df
#   (a synthetic artifact, not a property of real text); any lower
#   ceiling guts its retrieval results. 90 cuts only near-universal
#   terms (idf ≈ 0 — at df = 0.9·N the rational idf is
#   ~(0.1N)/(0.9N), under 1/8th of a rare term's), so fixture
#   ranking is untouched while the worst-case posting list is still
#   bounded away from "every doc".
# - SPARSE_DF_CEIL_PCT_PROD = 55 — the PRODUCTION default for real
#   corpora, where stopwords sit at 30–60% df ("the" ~60%, "of"
#   ~45% in English web text): at 55 the highest-df stopwords —
#   exactly the terms whose posting lists are each ~half the
#   corpus — drop below the join, while content words (df typically
#   ≪ 10%) are untouched. Pinned on a generated realistic-df corpus
#   by tests/test_llm.py::test_df_ceiling_parameter_prunes.
SPARSE_DF_CEIL_PCT = 90
SPARSE_DF_CEIL_PCT_PROD = 55


def _sparse_weights(
    spark: SparkSession, sf_dir: str, ceil_pct: int = SPARSE_DF_CEIL_PCT
) -> DataFrame:
    """Shared pruned posting-weight relation for the sparse
    retrievers: (doc_id, tok, w) with exact-integer idf-style
    weights, df-ceiling applied below the join (terms in more than
    ``ceil_pct``% of documents carry no postings at all; fixture
    default SPARSE_DF_CEIL_PCT, production SPARSE_DF_CEIL_PCT_PROD).
    Exposed as a helper so tests can pin the posting row count
    drop when a stopword is planted."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.lower("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs_rel = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        df_rel.crossJoin(F.broadcast(n_docs_rel))
        .where(F.expr(f"df * 100L <= {int(ceil_pct)}L * n_docs"))
        .select("tok", "df")
    )
    return tf.join(F.broadcast(kept), "tok").select(
        "doc_id",
        "tok",
        F.expr(f"(tf * {SPARSE_IDF_SCALE}L) DIV df").alias("w"),
    )


def sparse_dot_topk(
    spark: SparkSession, sf_dir: str, ceil_pct: int = SPARSE_DF_CEIL_PCT
) -> DataFrame:
    """Sparse LEXICAL similarity top-k — the posting-list sibling of
    the dense ``similarity_topk``: for each probe document, the K
    most similar other documents by the inverted-index dot product
    Σ_tok w(q,tok)·w(d,tok) with idf-style weights, the BM25-family
    workload every retrieval/dedup pipeline runs beside embeddings.

    Exact-integer weighting (house determinism rule): w(d,tok) =
    (tf · SPARSE_IDF_SCALE) DIV df — a rational idf carried in exact
    longs, no ln(): transcendental idf would be engine-specific, and
    rank order under 1/df is the same monotone rare-term preference.
    Scores are exact integer sums → the oracle hash-matches.

    Scale shape: postings = one (doc_id, tok) tf aggregate; df = one
    token-keyed count; the probe side is filter-pruned to
    SPARSE_TOPK_QUERIES docs BEFORE the join, so the match join is
    |probe postings| ⋈ token-bucketed corpus postings — never
    all-pairs; per-probe top-k is one window over the tiny match
    relation. At 100 TB the df relation broadcast-joins (|vocab|
    rows) and the posting join shuffles by token exactly like
    ``inverted_index``. Impact pruning (SPARSE_DF_CEIL_PCT) drops
    stopword-grade terms BELOW the posting join — without it, one
    ubiquitous term's posting list is ~every document and its join
    output alone is |corpus|×|probes| rows for near-zero weight.

    Output: query_id, neighbor_id, score (exact integer), rank.
    """
    # the weight relation feeds BOTH join sides (probe filter ≠
    # corpus projection, so Catalyst gets no exchange reuse) —
    # persist it or the tokenize+tf+df pipeline runs twice
    # (measured at sf0.1: 1.72 → 1.25 s)
    w = track_persist(_sparse_weights(spark, sf_dir, ceil_pct))
    probes = w.where(F.col("doc_id") < SPARSE_TOPK_QUERIES).select(
        F.col("doc_id").alias("query_id"), "tok", F.col("w").alias("wq")
    )
    corpus = w.select(F.col("doc_id").alias("neighbor_id"), "tok", "w")
    # products fit comfortably in int64 (w ≤ 1e6·tf), but the SUM is
    # accumulated in DECIMAL(38,0) so a pathological probe (huge tf,
    # df=1 vocabulary) can't trip ANSI overflow mid-aggregate; the
    # final BIGINT cast throws only if the true total exceeds int64 —
    # same contract, 10^19× later boundary. DuckDB sums in HUGEINT.
    scores = (
        probes.join(corpus, "tok")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            # widen BEFORE the multiply: wq·w in int64 can overflow
            # for pathological tf on both sides (ANSI throws); the
            # decimal product is exact and the oracle's HUGEINT
            # arithmetic computes the identical value
            F.sum(F.col("wq").cast("decimal(19,0)") * F.col("w"))
            .cast("long")
            .alias("score")
        )
    )
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(topw))
        .where(F.col("rank") <= SPARSE_TOPK_K)
        .orderBy("query_id", "rank")
    )


def _sparse_topk_sql(ceil_pct: int = SPARSE_DF_CEIL_PCT) -> str:
    """DuckDB twin of sparse_dot_topk at the same df-ceiling —
    parameterized so generated-corpus tests can hash-pin non-default
    ceilings (SPARSE_DF_CEIL_PCT_PROD) exactly like the fixture."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), kept AS (
  SELECT tok, df FROM df, stats
  WHERE df * 100 <= {int(ceil_pct)} * n_docs
), w AS (
  SELECT tf.doc_id, tf.tok, (tf.tf * {SPARSE_IDF_SCALE}) // kept.df AS w
  FROM tf JOIN kept ON tf.tok = kept.tok
), scores AS (
  SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
         sum(q.w::HUGEINT * d.w)::BIGINT AS score
  FROM w q JOIN w d ON q.tok = d.tok AND d.doc_id <> q.doc_id
  WHERE q.doc_id < {SPARSE_TOPK_QUERIES}
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scores
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {SPARSE_TOPK_K}
ORDER BY query_id, rank
"""


_SPARSE_TOPK_SQL = _sparse_topk_sql()


# BM25 parameters as exact rationals (k1 = 6/5, b = 3/4 — the
# standard 1.2/0.75): tfnorm = tf·(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl)
# = 22·tf / (10·tf + 3 + 9·dl/avgdl) after clearing denominators.
BM25_IDF_SCALE = 1_000  # idf in milli-units
BM25_TF_SCALE = 1_000_000  # tfnorm in micro-units
# tf saturates: past this the weight moves < 1e-5 of its range, and
# the clamp keeps 22·tf·10¹² under 2⁶³ for ANY input (a 420k-repeat
# garbage doc would otherwise trip ANSI overflow mid-plan). Mirrored
# exactly in the oracle, so exactness is preserved by construction.
BM25_TF_CLAMP = 100_000


def _bm25_scores(
    spark: SparkSession, sf_dir: str, ceil_pct: int = SPARSE_DF_CEIL_PCT
) -> DataFrame:
    """Shared BM25 score relation (query_id, neighbor_id, score) —
    the everything-before-the-top-k of ``bm25_topk``, factored out
    so ``hard_negative_mining`` reuses the identical scorer."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.lower("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = track_persist(tf)
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dl_rel = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(tf.agg(F.sum("tf").alias("l_total")))
    )
    # impact pruning BELOW the posting join (see _sparse_weights):
    # stopword-grade terms (df > ceil_pct% of docs) carry near-zero
    # BM25 idf but corpus-sized posting lists — cut them before they
    # ever reach the match join
    df_kept = (
        df_rel.crossJoin(F.broadcast(stats.select("n_docs")))
        .where(F.expr(f"df * 100L <= {int(ceil_pct)}L * n_docs"))
        .select("tok", "df")
    )
    w_rel = (
        tf.join(dl_rel, "doc_id")
        .join(F.broadcast(df_kept), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            F.expr(
                f"((n_docs - df + 1) * {BM25_IDF_SCALE}L) DIV (df + 1)"
            ).alias("idf_m"),
            F.expr(
                f"(22L * least(tf, {BM25_TF_CLAMP}L) * {BM25_TF_SCALE}L"
                f" * {BM25_TF_SCALE}L) DIV "
                f"(10L * least(tf, {BM25_TF_CLAMP}L) * {BM25_TF_SCALE}L"
                f" + 3L * {BM25_TF_SCALE}L"
                f" + 9L * ((dl * n_docs * {BM25_TF_SCALE}L) DIV l_total))"
            ).alias("tfnorm_u"),
        )
        .select(
            "doc_id",
            "tok",
            F.expr(f"(idf_m * tfnorm_u) DIV {BM25_IDF_SCALE}L").alias("w"),
        )
    )
    # query-side tf clamps symmetrically with the corpus side: a
    # garbage probe repeating one token 500k times must not scale
    # its contribution linearly past the saturation the corpus side
    # already enforces (and the clamp keeps qtf·w under the decimal
    # widening's exact range); mirrored in the oracle
    probes = tf.where(F.col("doc_id") < SPARSE_TOPK_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        "tok",
        F.expr(f"least(tf, {BM25_TF_CLAMP}L)").alias("qtf"),
    )
    corpus = w_rel.select(F.col("doc_id").alias("neighbor_id"), "tok", "w")
    return (
        probes.join(corpus, "tok")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            # widen BEFORE the multiply (see sparse_dot_topk)
            F.sum(F.col("qtf").cast("decimal(19,0)") * F.col("w"))
            .cast("long")
            .alias("score")
        )
    )


def bm25_topk(
    spark: SparkSession, sf_dir: str, ceil_pct: int = SPARSE_DF_CEIL_PCT
) -> DataFrame:
    """Full BM25 lexical top-k (Robertson-Spärck Jones / Okapi,
    public IR canon) — ``sparse_dot_topk``'s idf·tf dot product plus
    the two things that make BM25 the retrieval default: tf
    SATURATION (k1: the 50th occurrence of a term is worth ~nothing
    more than the 5th) and DOC-LENGTH normalization (b: long
    documents don't win by volume).

    Exact-integer formulation (house determinism rule — no ln, no
    float sums): with k1 = 6/5 and b = 3/4,
    tfnorm = 22·tf / (10·tf + 3 + 9·r) where r = dl·N/L is the
    relative doc length; r is carried in micro-units
    ((dl·N·10⁶) DIV L), the quotient in micro-units
    ((22·tf·10¹²) DIV den), and the idf component is the rational
    ((N − df + 1)·10³) DIV (df + 1) — monotone decreasing in df like
    the log form, engine-identical by construction. Products stay
    under 2⁶³ for any fixture/probe scale this repo runs (dl·N·10⁶
    bounds the first overflow at ~10¹² corpus tokens; ANSI mode
    throws loudly, never silently wraps); the score sum accumulates
    in DECIMAL(38,0) exactly like ``sparse_dot_topk``.

    Scale shape identical to ``sparse_dot_topk``: probe side pruned
    BEFORE the join, df and corpus-stats relations broadcast, match
    join bucketed by token, per-probe top-k window, and the
    SPARSE_DF_CEIL_PCT impact-pruning cut below the posting join
    (a stopword's posting list is ~every document for near-zero
    idf — at 100 TB that single term dominates the join). Query-side
    term multiplicity (qtf) weights each term's contribution,
    clamped at BM25_TF_CLAMP symmetrically with the corpus side.

    Output: query_id, neighbor_id, score (exact integer), rank.
    """
    scores = _bm25_scores(spark, sf_dir, ceil_pct)
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(topw))
        .where(F.col("rank") <= SPARSE_TOPK_K)
        .orderBy("query_id", "rank")
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for retrieval/embedding training (the
    BM25-negatives construction of DPR, Karpukhin et al. 2020,
    arXiv:2004.04906; also RocketQA): for each query document, the
    top-k documents the LEXICAL retriever ranks highest that are NOT
    the query's positives — the "looks relevant but isn't the same
    document" examples a contrastive trainer needs, and the standard
    way training pairs are mined from an unlabeled corpus at scale.

    Positives here are exact duplicates (same normalized md5 — the
    ``dedup_exact`` notion; a labeled-pairs relation drops into the
    same anti-join seam). The scorer IS ``bm25_topk``'s score stage
    (shared ``_bm25_scores``), so ranking semantics and the
    df-ceiling pruning are identical by construction.

    Scale shape: the BM25 score relation is posting-join-bounded
    (never all-pairs); the positives relation is |probes| ⋈ dup
    groups — tiny, BROADCAST into a left-anti join (never a
    corpus-wide hash-equality shuffle); top-k is one window over the
    candidate relation.

    Output: query_id, neighbor_id, score, rank.
    """
    docs = table(spark, sf_dir, "documents")
    hashes = docs.select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("th")
    )
    positives = (
        hashes.where(F.col("doc_id") < SPARSE_TOPK_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "th")
        .join(hashes.select(F.col("doc_id").alias("neighbor_id"), "th"), "th")
        .select("query_id", "neighbor_id")
    )
    scores = _bm25_scores(spark, sf_dir)
    hard = scores.join(
        F.broadcast(positives), ["query_id", "neighbor_id"], "left_anti"
    )
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        hard.withColumn("rank", F.row_number().over(topw))
        .where(F.col("rank") <= SPARSE_TOPK_K)
        .orderBy("query_id", "rank")
    )


def _bm25_scores_cte(ceil_pct: int = SPARSE_DF_CEIL_PCT) -> str:
    """The WITH-chain through ``scores`` shared by the bm25_topk and
    hard_negative_mining oracles."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1
), dl AS (
  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         (SELECT sum(tf) FROM tf)::BIGINT AS l_total
), kept AS (
  SELECT tok, df FROM df, stats
  WHERE df * 100 <= {int(ceil_pct)} * n_docs
), w AS (
  SELECT tf.doc_id, tf.tok,
         ((((s.n_docs - kept.df + 1) * {BM25_IDF_SCALE}) // (kept.df + 1))
          * ((22 * least(tf.tf, {BM25_TF_CLAMP}) * {BM25_TF_SCALE}::BIGINT
              * {BM25_TF_SCALE}) //
             (10 * least(tf.tf, {BM25_TF_CLAMP}) * {BM25_TF_SCALE}
              + 3 * {BM25_TF_SCALE}
              + 9 * ((dl.dl * s.n_docs * {BM25_TF_SCALE}) // s.l_total))))
         // {BM25_IDF_SCALE} AS w
  FROM tf JOIN kept ON tf.tok = kept.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
), scores AS (
  SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
         sum(least(q.tf, {BM25_TF_CLAMP})::HUGEINT * w.w)::BIGINT AS score
  FROM tf q JOIN w ON q.tok = w.tok AND w.doc_id <> q.doc_id
  WHERE q.doc_id < {SPARSE_TOPK_QUERIES}
  GROUP BY 1, 2
)"""


def _bm25_sql(ceil_pct: int = SPARSE_DF_CEIL_PCT) -> str:
    """DuckDB twin of bm25_topk at the same df-ceiling (see
    _sparse_topk_sql)."""
    return (
        _bm25_scores_cte(ceil_pct)
        + f"""
, ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scores
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {SPARSE_TOPK_K}
ORDER BY query_id, rank
"""
    )


_BM25_SQL = _bm25_sql()

_HARD_NEG_SQL = (
    _bm25_scores_cte()
    + f"""
, h AS (
  SELECT doc_id, md5(lower(trim(text))) AS th FROM documents
), pos AS (
  SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id
  FROM h q JOIN h d ON q.th = d.th
  WHERE q.doc_id < {SPARSE_TOPK_QUERIES}
), hard AS (
  SELECT s.query_id, s.neighbor_id, s.score FROM scores s
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.query_id = s.query_id
                      AND p.neighbor_id = s.neighbor_id)
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM hard
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {SPARSE_TOPK_K}
ORDER BY query_id, rank
"""
)


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 1_000_000  # contributions in micro-units (exact DIV)
RRF_TOPK = 5


def _rrf_fuse(dranks: DataFrame, sranks: DataFrame) -> DataFrame:
    """Shared RRF kernel: fuse two (query_id, neighbor_id, rank)
    lists with exact-integer 1/(K+rank) contributions, top-RRF_TOPK
    per query. Both inputs are already top-k-bounded, so this is an
    O(k·|queries|) aggregate."""
    contrib = F.expr(f"{RRF_SCALE}L DIV ({RRF_K} + rank)")
    contribs = dranks.select(
        "query_id", "neighbor_id", contrib.alias("c")
    ).unionByName(sranks.select("query_id", "neighbor_id", contrib.alias("c")))
    fused = contribs.groupBy("query_id", "neighbor_id").agg(
        F.sum("c").alias("rrf_micro"), F.count(F.lit(1)).alias("n_lists")
    )
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(topw))
        .where(F.col("rank") <= RRF_TOPK)
        .orderBy("query_id", "rank")
    )


def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, public IR
    canon) of the repo's DENSE and SPARSE retrievers — the standard
    way a retrieval pipeline combines embedding cosine top-k with
    lexical posting-list top-k without score calibration: each
    list contributes 1/(RRF_K + rank) per candidate, summed. Rank
    is all that crosses the fusion boundary, so wildly different
    score scales (cosine in [-1,1], BM25-family integers) fuse
    cleanly — and the house integer discipline makes it exact:
    contribution = RRF_SCALE DIV (RRF_K + rank).

    Inputs are the registered ``similarity_topk`` (dense, queries
    vec_id < SIM_N_QUERIES) and ``sparse_dot_topk`` (lexical,
    queries doc_id < SPARSE_TOPK_QUERIES) — query ids fuse where
    the sets overlap and pass through single-list otherwise,
    RRF's normal behavior with a missing retriever. ``n_lists``
    records how many retrievers surfaced each candidate.

    Id-space contract: fusing a vec_id-keyed dense list with a
    doc_id-keyed sparse list is meaningful because the corpus
    invariant ``embeddings.vec_id ⊆ documents.doc_id`` holds —
    vec_id IS the doc_id of the embedded document (embeddings cover
    a prefix subset of the corpus; every sf fixture satisfies it,
    pinned by ``tests/test_llm.py::test_rrf_id_space_invariant``).
    A corpus that breaks the invariant must join through an id map
    before fusing.

    Scale shape: both inputs are already top-k-bounded relations
    (k·|queries| rows), so fusion is an O(k·|queries|) aggregate —
    negligible next to the retrievers it combines.

    Output: query_id, neighbor_id, rrf_micro, n_lists, rank.
    """
    dense = similarity_topk(spark, sf_dir)
    dw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    dranks = dense.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(dw).alias("rank"),
    )
    sranks = sparse_dot_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return _rrf_fuse(dranks, sranks)


def rank_fusion_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF with the dense leg fed by the ANN INDEX instead of the
    brute-force scan — the production retrieval shape: at 100 TB
    nobody runs exact cosine over the corpus per query; the dense
    list comes from the IVF index probe and fusion sits on top.

    The dense leg is ``similarity_ann_ivf_int`` (probe-bounded IVF,
    exact-integer pipeline), so unlike a float-ANN feed this fusion
    stays fully ORACLE-EXACT: DuckDB replays index build + probe +
    re-rank + fusion and the driver hash-pins the whole composition.
    The sparse leg and the id-space contract are identical to
    ``rank_fusion_rrf`` (vec_id ⊆ doc_id, see its docstring); ANN
    recall vs the exact dense leg is asserted in tests.

    Output: query_id, neighbor_id, rrf_micro, n_lists, rank.
    """
    dense = similarity_ann_ivf_int(spark, sf_dir)
    dw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    dranks = dense.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(dw).alias("rank"),
    )
    sranks = sparse_dot_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return _rrf_fuse(dranks, sranks)


_RRF_SQL = f"""
WITH dense AS ({_SIM_TOPK}
), dranks AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM dense
), sparse AS ({_SPARSE_TOPK_SQL}
), contribs AS (
  SELECT query_id, neighbor_id, {RRF_SCALE} // ({RRF_K} + rank) AS c
  FROM dranks
  UNION ALL
  SELECT query_id, neighbor_id, {RRF_SCALE} // ({RRF_K} + rank) AS c
  FROM sparse
), fused AS (
  SELECT query_id, neighbor_id, sum(c)::BIGINT AS rrf_micro,
         count(*)::BIGINT AS n_lists
  FROM contribs GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf_micro, n_lists, rank::INT AS rank
FROM (
  SELECT query_id, neighbor_id, rrf_micro, n_lists,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, neighbor_id) AS rank
  FROM fused
) WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
"""


_RRF_ANN_SQL = f"""
WITH dense AS ({_ANN_IVF_INT_SQL}
), dranks AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM dense
), sparse AS ({_SPARSE_TOPK_SQL}
), contribs AS (
  SELECT query_id, neighbor_id, {RRF_SCALE} // ({RRF_K} + rank) AS c
  FROM dranks
  UNION ALL
  SELECT query_id, neighbor_id, {RRF_SCALE} // ({RRF_K} + rank) AS c
  FROM sparse
), fused AS (
  SELECT query_id, neighbor_id, sum(c)::BIGINT AS rrf_micro,
         count(*)::BIGINT AS n_lists
  FROM contribs GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf_micro, n_lists, rank::INT AS rank
FROM (
  SELECT query_id, neighbor_id, rrf_micro, n_lists,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, neighbor_id) AS rank
  FROM fused
) WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
"""


RAKE_MAX_PHRASE = 4  # candidate phrases longer than this are dropped
RAKE_TOP_K = 20  # keywords returned


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents") — the unsupervised
    keyphrase tier beside ``tfidf_terms`` (single terms) and
    ``term_cooccurrence_lift`` (pairs): candidate PHRASES are maximal
    stopword-free token runs (delimiters = the Gopher stopword set),
    each word scores deg(w)/freq(w) (degree counts co-occurring
    phrase mass, so words that appear inside longer phrases outrank
    bare frequent words), and a phrase scores the sum of its words —
    RAKE's signature bias toward multi-word technical terms.

    Exactness: deg/freq are exact longs; the word score quantizes
    through ONE integer DIV to micro; phrase scores are exact-long
    sums of quantized word scores (combine-order-free); top-K by
    (score DESC, phrase ASC) is a total order.

    Scale shape: phrase extraction is NARROW array arithmetic
    (stopword boundary positions → slice — no per-element appending
    fold, no per-doc window); then two wordcount-shaped aggregates
    (word grain, phrase grain) and one broadcast join of the word
    scores (vocabulary-bounded) back onto phrase words. Top-K is a
    TakeOrderedAndProject.

    Output: phrase, n_words, n_occurrences, score_micro.
    """
    docs = table(spark, sf_dir, "documents")
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = docs.select("doc_id", tokens(F.lower("text")).alias("ts"))
    # boundary positions: -1, every stopword index, size — phrases
    # are the (exclusive) gaps between consecutive boundaries
    phrases_expr = F.expr(
        f"""
filter(
  transform(array(concat(array(-1),
                         filter(transform(ts, (t, i) ->
                                  CASE WHEN t IN ({stops}) THEN i
                                       ELSE -2 END),
                                p -> p >= 0),
                         array(size(ts)))),
    bnd -> transform(sequence(1, size(bnd) - 1),
             k -> slice(ts, element_at(bnd, CAST(k AS INT)) + 2,
                        element_at(bnd, CAST(k + 1 AS INT))
                        - element_at(bnd, CAST(k AS INT)) - 1)))[0],
  ph -> size(ph) >= 1 AND size(ph) <= {RAKE_MAX_PHRASE})
"""
    )
    ph = track_persist(
        toks.select(F.explode(phrases_expr).alias("ph")).select(
            F.concat_ws(" ", "ph").alias("phrase"),
            F.col("ph").alias("words"),
            F.size("ph").alias("n_words"),
        )
    )
    wordstats = (
        ph.select(F.explode("words").alias("w"), "n_words")
        .groupBy("w")
        .agg(
            F.sum("n_words").alias("deg"),
            F.count(F.lit(1)).alias("freq"),
        )
        .select(
            "w", F.expr("(deg * 1000000) DIV freq").alias("wscore")
        )
    )
    phrase_scores = (
        ph.select("phrase", F.explode("words").alias("w"))
        .join(F.broadcast(wordstats), "w")
        .groupBy("phrase")
        .agg(F.sum("wscore").alias("score_micro"))
    )
    counts = ph.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return (
        counts.join(phrase_scores, "phrase")
        .select("phrase", "n_words", "n_occurrences", "score_micro")
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(RAKE_TOP_K)
    )


def _rake_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), bnds AS (
  SELECT doc_id, ts,
         list_concat(list_concat([-1],
           list_filter(list_transform(generate_series(1, len(ts)),
                         i -> CASE WHEN ts[i] IN ({stops}) THEN i - 1
                                   ELSE -2 END),
                       p -> p >= 0)),
           [len(ts)]) AS bnd
  FROM toks
), ph0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(bnd) - 1),
                  k -> ts[bnd[k] + 2 : bnd[k + 1]])) AS ph
  FROM bnds
), ph AS MATERIALIZED (
  SELECT array_to_string(ph, ' ') AS phrase, ph AS words,
         len(ph)::BIGINT AS n_words
  FROM ph0 WHERE len(ph) >= 1 AND len(ph) <= {RAKE_MAX_PHRASE}
), wordstats AS MATERIALIZED (
  SELECT w, ((sum(n_words) * 1000000) // count(*))::BIGINT AS wscore
  FROM (SELECT unnest(words) AS w, n_words FROM ph)
  GROUP BY 1
), phrase_scores AS (
  SELECT p.phrase, sum(ws.wscore)::BIGINT AS score_micro
  FROM (SELECT phrase, unnest(words) AS w FROM ph) p
  JOIN wordstats ws ON ws.w = p.w
  GROUP BY 1
), counts AS (
  SELECT phrase, max(n_words)::BIGINT AS n_words,
         count(*)::BIGINT AS n_occurrences
  FROM ph GROUP BY 1
)
SELECT c.phrase, c.n_words, c.n_occurrences, s.score_micro
FROM counts c JOIN phrase_scores s USING (phrase)
ORDER BY s.score_micro DESC, c.phrase
LIMIT {RAKE_TOP_K}
"""


CHI2_TOP_TOKENS = 24  # document-frequency cut for the feature table


def token_label_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² FEATURE SELECTION for the language label (the classic
    text-classification feature ranking — Yang & Pedersen 1997): for
    each of the top-CHI2_TOP_TOKENS tokens by document frequency and
    each language, the 2×2 presence-vs-class χ² — the statistic that
    tells a classifier build (``quality_classifier_train``'s hashed
    features, ``lang_id``'s lexicons) WHICH tokens actually carry
    label signal. A high-χ² (token, lang) cell is a discriminative
    feature; uniformly low rows are stopword-class noise.

    Exactness: with the 2×2 margins A=a, B=df−a, C=n_l−a,
    D=N−df−n_l+a, χ² = N·(AD−BC)²/((A+B)(C+D)(A+C)(B+D)) — exact
    integer numerator/denominator, ONE widened DIV per cell
    (DECIMAL(38)/HUGEINT; exact to ~10⁶ docs at the ×10⁶ scale —
    beyond that the eval runs on a sampled slice like every feature
    study). Degenerate margins (df=N or n_l=0) zero the denominator
    and emit NULL — mirrored on both engines.

    Scale shape: ONE distinct-presence aggregate at (token, doc)
    grain collapses the corpus; the df top-K is a
    TakeOrderedAndProject; everything downstream runs on the K×5
    dense grid (data-independent, broadcast joins).

    Output: token, lang, df, n_lang, a, chi2_micro.
    """
    docs = table(spark, sf_dir, "documents")
    pres = track_persist(
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.lower("text"))).alias("token")
        ).distinct()
    )
    df_t = pres.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    topk = F.broadcast(
        df_t.orderBy(F.desc("df"), "token").limit(CHI2_TOP_TOKENS)
    )
    n_l = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    a_cnt = (
        pres.join(topk.select("token"), "token", "left_semi")
        .groupBy("token", "lang")
        .agg(F.count_distinct("doc_id").alias("a"))
    )
    grid = (
        topk.crossJoin(F.broadcast(n_l))
        .join(F.broadcast(a_cnt), ["token", "lang"], "left")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0)))
        .crossJoin(F.broadcast(n_tot))
    )
    return grid.select(
        "token",
        "lang",
        "df",
        "n_lang",
        "a",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0))"
            " * CAST(a * (n - df - n_lang + a) - (df - a) * (n_lang - a)"
            "        AS DECIMAL(38,0))"
            " * (a * (n - df - n_lang + a) - (df - a) * (n_lang - a))"
            " * 1000000)"
            " DIV nullif(CAST(df AS DECIMAL(38,0)) * (n - df)"
            "            * n_lang * (n - n_lang), 0) AS BIGINT)"
        ).alias("chi2_micro"),
    ).orderBy("token", "lang")


_TOKEN_CHI2_SQL = f"""
WITH pres AS MATERIALIZED (
  SELECT DISTINCT doc_id, lang, token FROM (
    SELECT doc_id, lang,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS token
    FROM documents)
), df_t AS MATERIALIZED (
  SELECT token, count(DISTINCT doc_id)::BIGINT AS df FROM pres GROUP BY 1
), topk AS MATERIALIZED (
  SELECT token, df FROM df_t ORDER BY df DESC, token
  LIMIT {CHI2_TOP_TOKENS}
), n_l AS (SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY 1),
n_tot AS (SELECT count(*)::BIGINT AS n FROM documents),
a_cnt AS MATERIALIZED (
  SELECT p.token, p.lang, count(DISTINCT p.doc_id)::BIGINT AS a
  FROM pres p JOIN topk USING (token) GROUP BY 1, 2
), grid AS (
  SELECT t.token, l.lang, t.df, l.n_lang,
         coalesce(a.a, 0)::BIGINT AS a
  FROM topk t CROSS JOIN n_l l
  LEFT JOIN a_cnt a ON a.token = t.token AND a.lang = l.lang
)
SELECT g.token, g.lang, g.df, g.n_lang, g.a,
       CAST((n.n::HUGEINT
             * (g.a * (n.n - g.df - g.n_lang + g.a)
                - (g.df - g.a) * (g.n_lang - g.a))::HUGEINT
             * (g.a * (n.n - g.df - g.n_lang + g.a)
                - (g.df - g.a) * (g.n_lang - g.a))
             * 1000000)
            // nullif(g.df::HUGEINT * (n.n - g.df)
                      * g.n_lang * (n.n - g.n_lang), 0) AS BIGINT)
         AS chi2_micro
FROM grid g CROSS JOIN n_tot n
ORDER BY g.token, g.lang
"""


MMR_POOL = 10  # relevance-ranked candidate pool fed to the MMR re-rank
MMR_K = 5  # diversified results returned per query
# λ = 0.5 exactly representable in binary — 0.5·x and the subtraction
# are correctly-rounded IEEE ops, bit-identical across engines


def similarity_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein
    1998) — the diversification pass every RAG retrieval stack runs
    after top-k: from each query's MMR_POOL most-similar candidates,
    greedily select MMR_K maximizing ½·sim(q,d) − ½·max_{s∈S}
    sim(d,s) — relevance traded against redundancy with the already-
    selected set S, so near-duplicate neighbors stop crowding out
    coverage.

    Determinism: vectors quantize once at PQ_INT_SCALE; every cosine
    is exact-BIGINT dot/norms folded through one CAST/sqrt/·//
    chain (correctly-rounded IEEE, bit-identical across engines);
    λ=0.5 makes the MMR blend exact-rounded too; every argmax breaks
    ties (score DESC, id ASC); round(·,6) only at output.

    Scale shape: the candidate pool is the broadcast-query
    brute-force top-MMR_POOL (the ``similarity_topk`` shape — swap
    in an ANN twin for huge corpora); everything after is bounded by
    |queries|·MMR_POOL² rows (the pair-sim matrix) and MMR_K − 1
    unrolled (anti-join → max-penalty aggregate → 1-row-per-query
    window argmax) rounds on those tiny relations — cost independent
    of corpus size once the pool is cut.

    Output: query_id, rank, neighbor_id, mmr_score (round 6;
    rank 1's score is the raw query cosine — no selected set yet).
    """
    qv = track_persist(
        _quantize(table(spark, sf_dir, "embeddings")).select(
            "vec_id",
            "q",
            F.expr(
                "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)"
            ).alias("nrm"),
        )
    )
    # Not _int_cos: the MMR blend and both rank windows read the
    # UNROUNDED cosine (rounding to 6 places first would merge
    # near-ties and move picks, and the oracle mirrors this form), and
    # the norms come precomputed per vector for the pool pair matrix.
    cos = (
        "CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(aggregate(zip_with({qa}, {qb}, (a, b) -> a * b),"
        "                     CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        "           AS DOUBLE)"
        "      / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
        " END"
    )
    queries = qv.where(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        qv.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            "q",
            "nrm",
            F.expr(cos.format(qa="qq", qb="q", na="qn", nb="nrm")).alias(
                "simq"
            ),
        )
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.desc("simq"), F.asc("cand_id")
    )
    pool = track_persist(
        scored.withColumn("rn", F.row_number().over(w_pool))
        .where(F.col("rn") <= MMR_POOL)
        .select("query_id", "cand_id", "q", "nrm", "simq")
    )
    pa = pool.select(
        "query_id",
        F.col("cand_id").alias("i_id"),
        F.col("q").alias("qi"),
        F.col("nrm").alias("ni"),
    )
    pb = pool.select(
        "query_id",
        F.col("cand_id").alias("j_id"),
        F.col("q").alias("qj"),
        F.col("nrm").alias("nj"),
    )
    pair_sim = track_persist(
        pa.join(pb, "query_id")
        .where(F.col("i_id") != F.col("j_id"))
        .select(
            "query_id",
            "i_id",
            "j_id",
            F.expr(cos.format(qa="qi", qb="qj", na="ni", nb="nj")).alias(
                "sim"
            ),
        )
    )
    cands = pool.select("query_id", "cand_id", "simq")
    w_pick = Window.partitionBy("query_id")
    sel = (
        cands.withColumn(
            "rn",
            F.row_number().over(
                w_pick.orderBy(F.desc("simq"), F.asc("cand_id"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("long").alias("rank"),
            F.col("cand_id").alias("neighbor_id"),
            F.col("simq").alias("score"),
        )
        .localCheckpoint()
    )
    for r in range(2, MMR_K + 1):
        remaining = cands.join(
            sel.select("query_id", F.col("neighbor_id").alias("cand_id")),
            ["query_id", "cand_id"],
            "left_anti",
        )
        pen = (
            remaining.join(
                pair_sim.withColumnRenamed("i_id", "cand_id"), ["query_id", "cand_id"]
            )
            .join(
                sel.select(
                    "query_id", F.col("neighbor_id").alias("j_id")
                ),
                ["query_id", "j_id"],
            )
            .groupBy("query_id", "cand_id")
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = (
            remaining.join(pen, ["query_id", "cand_id"])
            .select(
                "query_id",
                "cand_id",
                (0.5 * F.col("simq") - 0.5 * F.col("maxsim")).alias("mmr"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    w_pick.orderBy(F.desc("mmr"), F.asc("cand_id"))
                ),
            )
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("long").alias("rank"),
                F.col("cand_id").alias("neighbor_id"),
                F.col("mmr").alias("score"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint()
    return sel.select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("score", 6).alias("mmr_score"),
    ).orderBy("query_id", "rank")


def _mmr_oracle_sql() -> str:
    """DuckDB replay: quantized cosines, the top-MMR_POOL pool, the
    pool pair-sim matrix, then MMR_K − 1 unrolled greedy rounds —
    every CTE MATERIALIZED (each round references sel/pairs twice)."""
    cos = (
        "CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(CAST(list_sum(list_transform(generate_series(1, "
        f"{EMB_DIM}), i -> {{qa}}[i] * {{qb}}[i])) AS BIGINT) AS DOUBLE)"
        " / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))) END"
    )
    rounds = []
    for r in range(2, MMR_K + 1):
        rounds.append(
            f", pen{r} AS MATERIALIZED (\n"
            f"  SELECT c.query_id, c.cand_id, c.simq, max(p.sim) AS maxsim\n"
            f"  FROM cands c\n"
            f"  JOIN pair_sim p ON p.query_id = c.query_id"
            f" AND p.i_id = c.cand_id\n"
            f"  JOIN sel{r - 1} s ON s.query_id = c.query_id"
            f" AND s.neighbor_id = p.j_id\n"
            f"  WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} x\n"
            f"    WHERE x.query_id = c.query_id"
            f" AND x.neighbor_id = c.cand_id)\n"
            f"  GROUP BY 1, 2, 3\n"
            f"), pick{r} AS MATERIALIZED (\n"
            f"  SELECT query_id, {r}::BIGINT AS rank, cand_id AS neighbor_id,\n"
            f"         0.5 * simq - 0.5 * maxsim AS score\n"
            f"  FROM (SELECT *, row_number() OVER (PARTITION BY query_id\n"
            f"          ORDER BY 0.5 * simq - 0.5 * maxsim DESC, cand_id)"
            f" AS rn\n"
            f"        FROM pen{r}) WHERE rn = 1\n"
            f"), sel{r} AS MATERIALIZED (\n"
            f"  SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r}\n"
            f")"
        )
    return f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT))
           AS q,
         CAST(list_sum(list_transform(
           list_transform(embedding,
                          x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)),
           v -> v * v)) AS BIGINT) AS nrm
  FROM embeddings
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS cand_id, c.q, c.nrm,
         {cos.format(qa="qs.q", qb="c.q", na="qs.nrm", nb="c.nrm")} AS simq
  FROM qv qs JOIN qv c ON c.vec_id <> qs.vec_id
  WHERE qs.vec_id < {SIM_N_QUERIES}
), pool AS MATERIALIZED (
  SELECT query_id, cand_id, q, nrm, simq
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY simq DESC, cand_id) AS rn FROM scored)
  WHERE rn <= {MMR_POOL}
), pair_sim AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS i_id, b.cand_id AS j_id,
         {cos.format(qa="a.q", qb="b.q", na="a.nrm", nb="b.nrm")} AS sim
  FROM pool a JOIN pool b
    ON b.query_id = a.query_id AND b.cand_id <> a.cand_id
), cands AS MATERIALIZED (
  SELECT query_id, cand_id, simq FROM pool
), sel1 AS MATERIALIZED (
  SELECT query_id, 1::BIGINT AS rank, cand_id AS neighbor_id,
         simq AS score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY simq DESC, cand_id) AS rn FROM cands) WHERE rn = 1
){"".join(rounds)}
SELECT query_id, rank, neighbor_id, round(score, 6) AS mmr_score
FROM sel{MMR_K}
ORDER BY query_id, rank
"""


WP_MERGES = 3  # WordPiece merge rounds (BPE_TRAIN_MERGES discipline)
WP_SCORE_SCALE = 1_000_000_000  # likelihood-score quantization


def _wp_rounds(spark: SparkSession, sf_dir: str):
    """The WordPiece training loop (Schuster & Nakajima 2012; the
    BERT tokenizer's trainer): the ``_merge_rounds`` loop it shares
    with ``bpe_train_merges`` — vocabulary collapse, per-round pair
    counting on the marker-wrapped symbol encoding, 1-row argmax,
    narrow rewrite — with its own merge OBJECTIVE: WordPiece adopts
    the pair maximizing the LIKELIHOOD GAIN count(ab)/(count(a)·
    count(b)), not the raw pair count (the reason 'ing' merges early
    in WordPiece but late in BPE). The score quantizes to
    ``(pc·WP_SCORE_SCALE) DIV (ca·cb)`` with the multiplicands
    widened (DECIMAL(38) / HUGEINT) so no corpus size overflows;
    ties break (score DESC, a, b) — deterministic across engines
    and partitionings.

    Returns ``_merge_rounds``' (per-step 1-row rule frames with
    ``score_q``, the FINAL rewritten vocabulary) — the latter feeds
    ``wordpiece_encode``.
    """

    def ranked(syms: DataFrame, pc: DataFrame) -> DataFrame:
        symc = (
            syms.select("n", F.explode("syms").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("n").alias("c"))
        )
        return (
            pc.join(
                F.broadcast(
                    symc.select(F.col("sym").alias("a"), F.col("c").alias("ca"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    symc.select(F.col("sym").alias("b"), F.col("c").alias("cb"))
                ),
                "b",
            )
            .select(
                "a",
                "b",
                "pc",
                F.expr(
                    f"CAST((CAST(pc AS DECIMAL(38,0)) * {WP_SCORE_SCALE})"
                    " DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
                ).alias("score_q"),
            )
            .orderBy(F.desc("score_q"), "a", "b")
        )

    return _merge_rounds(spark, sf_dir, WP_MERGES, ranked)


def wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE TRAINING — the THIRD tokenizer family beside BPE
    (count-argmax merges) and unigram-LM (Viterbi-EM pruning),
    completing the set modern pipelines choose from (BERT ships
    WordPiece, GPT ships BPE, T5/LLaMA ship unigram). Same loop
    discipline as ``bpe_train_merges`` (vocabulary-bounded counting,
    1-row broadcast argmax, narrow rewrite, localCheckpointed
    rounds); the objective is the likelihood gain — see
    ``_wp_rounds``.

    Scale shape: per round one pair-count shuffle (bounded by
    symbol-set², not corpus) + one symbol-count shuffle (bounded by
    the symbol set) + two broadcast joins of the tiny count
    relations. Never a driver collect.

    Output: step, left_sym, right_sym, pair_count, score_q.
    """
    rules, _ = _wp_rounds(spark, sf_dir)
    return reduce(lambda a, b: a.unionByName(b), rules)


def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE APPLY — greedy LONGEST-MATCH-FIRST segmentation (the
    BERT tokenizer's max-munch algorithm) under the corpus-trained
    final symbol vocabulary: at each position consume the longest
    vocabulary piece prefixing the remainder (ties impossible — one
    longest match per (rest, vocab)); every corpus character is a
    1-piece fallback so segmentation always terminates. Continuation
    pieces share the vocabulary (the '##'-prefix distinction is a
    display convention this position-independent variant drops —
    deterministic and documented, same class as the strsep-quirk
    non-goal).

    Scale shape: training cost is paid once (vocabulary-bounded
    rounds, localCheckpointed); the final symbol set folds to ONE
    broadcast row SORTED (length DESC, piece ASC) so the greedy
    match is ``filter(varr, p -> startswith(rest, p))[0]``; the
    per-word fold is a bounded ``aggregate`` over ≤ UNI_MAX_WORD
    steps (multi-char pieces make later steps no-ops) computed once
    per DISTINCT word, then word-joined back to the token stream —
    the ``unigram_encode`` dataflow. Words longer than UNI_MAX_WORD
    or containing the marker are excluded identically on both
    engines.

    Output: doc_id, n_words, n_pieces, enc_hash.
    """
    _, final_vocab = _wp_rounds(spark, sf_dir)
    syms_col = F.split(F.expr("trim(BOTH '|' FROM enc)"), r"\|\|")
    pieces = final_vocab.select(
        F.explode(syms_col).alias("piece")
    ).distinct()
    vrow = pieces.agg(
        F.expr(
            "transform(array_sort(collect_list("
            "  struct(-length(piece) AS nl, piece AS p))), s -> s.p)"
        ).alias("varr")
    )
    words2 = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("word"))
        .filter(
            ~F.col("word").contains("|")
            & (F.length("word") <= UNI_MAX_WORD)
        )
        .distinct()
    )
    fold = F.expr(
        "aggregate("
        "  sequence(1, greatest(length(word), 1)),"
        "  named_struct('rest', word,"
        "               'pieces', CAST(array() AS ARRAY<STRING>)),"
        "  (acc, i) -> CASE WHEN length(acc.rest) = 0 THEN acc ELSE"
        "    named_struct("
        "      'rest', substr(acc.rest, length(coalesce("
        "        filter(varr, p -> startswith(acc.rest, p))[0],"
        "        substr(acc.rest, 1, 1))) + 1),"
        "      'pieces', array_append(acc.pieces, coalesce("
        "        filter(varr, p -> startswith(acc.rest, p))[0],"
        "        substr(acc.rest, 1, 1)))"
        "    ) END"
        ")"
    )
    wmap = (
        words2.crossJoin(F.broadcast(vrow))
        .select("word", fold.alias("st"))
        .select(
            "word",
            F.concat_ws(_UNI_US, F.col("st.pieces")).alias("enc"),
            F.size("st.pieces").cast("long").alias("k"),
        )
    )
    docw = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "word"))
        .where(F.length("word") <= UNI_MAX_WORD)
    )
    return (
        docw.join(wmap, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("k").alias("n_pieces"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "enc"))),
                        lambda s: s["enc"],
                    ),
                )
            ).alias("enc_hash"),
        )
        .orderBy("doc_id")
    )


def _wp_train_ctes(n_merges: int = WP_MERGES) -> str:
    """Shared CTE chain for the WordPiece oracles: vocabulary
    collapse, then one (symbols → symbol counts + pair counts →
    score argmax → rewrite) block per round. Every CTE is
    MATERIALIZED (each round references the previous 2-3 times —
    the unrolled-iterative-oracle rule)."""
    ctes = [
        "WITH RECURSIVE words AS MATERIALIZED (\n"
        "  SELECT word, count(*)::BIGINT AS n FROM (\n"
        "    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),\n"
        "                              t -> t <> '')) AS word\n"
        "    FROM documents\n"
        "  ) WHERE word NOT LIKE '%|%' GROUP BY word\n"
        "), v0 AS MATERIALIZED (\n"
        "  SELECT n, regexp_replace(word, '(.)', '|\\1|', 'g') AS enc"
        " FROM words\n"
        ")"
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f", s{i} AS MATERIALIZED (\n"
            f"  SELECT n, string_split(trim(enc, '|'), '||') AS syms"
            f" FROM v{i - 1}\n"
            f"), sc{i} AS MATERIALIZED (\n"
            f"  SELECT sym, sum(n)::BIGINT AS c FROM\n"
            f"    (SELECT n, unnest(syms) AS sym FROM s{i}) GROUP BY 1\n"
            f"), pc{i} AS MATERIALIZED (\n"
            f"  SELECT pr.a AS a, pr.b AS b, sum(n)::BIGINT AS pc FROM (\n"
            f"    SELECT n, unnest(list_transform(\n"
            f"      generate_series(1, greatest(len(syms) - 1, 0)),\n"
            f"      j -> struct_pack(a := syms[j], b := syms[j+1]))) AS pr\n"
            f"    FROM s{i}) GROUP BY 1, 2\n"
            f"), best{i} AS MATERIALIZED (\n"
            f"  SELECT p.a, p.b, p.pc,\n"
            f"         CAST((p.pc::HUGEINT * {WP_SCORE_SCALE})\n"
            f"              // (ca.c::HUGEINT * cb.c) AS BIGINT) AS score_q\n"
            f"  FROM pc{i} p JOIN sc{i} ca ON ca.sym = p.a\n"
            f"             JOIN sc{i} cb ON cb.sym = p.b\n"
            f"  ORDER BY score_q DESC, p.a, p.b LIMIT 1\n"
            f"), v{i} AS MATERIALIZED (\n"
            f"  SELECT n, replace(enc, '|' || t.a || '||' || t.b || '|',\n"
            f"                    '|' || t.a || t.b || '|') AS enc\n"
            f"  FROM v{i - 1} CROSS JOIN best{i} t\n"
            f")"
        )
    return "".join(ctes)


def _wordpiece_train_oracle(n_merges: int = WP_MERGES) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS step, a AS left_sym, b AS right_sym,"
        f" pc AS pair_count, score_q FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return _wp_train_ctes(n_merges) + "\n" + selects + "\nORDER BY step"


def _wordpiece_encode_oracle(n_merges: int = WP_MERGES) -> str:
    return (
        _wp_train_ctes(n_merges)
        + f"""
, fsyms AS MATERIALIZED (
  SELECT DISTINCT unnest(string_split(trim(enc, '|'), '||')) AS piece
  FROM v{n_merges}
), vrow AS MATERIALIZED (
  SELECT list(piece ORDER BY length(piece) DESC, piece) AS varr FROM fsyms
), words2 AS MATERIALIZED (
  SELECT word FROM words WHERE length(word) <= {UNI_MAX_WORD}
), rec AS (
  SELECT word, word AS rest, CAST('' AS VARCHAR) AS enc, 0::BIGINT AS k
  FROM words2
  UNION ALL
  SELECT word, substr(rest, length(bp) + 1),
         CASE WHEN enc = '' THEN bp ELSE enc || chr(31) || bp END,
         k + 1
  FROM (
    SELECT r.word, r.rest, r.enc, r.k,
           coalesce(list_filter(v.varr, p -> starts_with(r.rest, p))[1],
                    substr(r.rest, 1, 1)) AS bp
    FROM rec r CROSS JOIN vrow v
    WHERE r.rest <> ''
  )
), wmap AS MATERIALIZED (
  SELECT word, enc, k FROM rec WHERE rest = ''
), docw AS (
  SELECT doc_id, i AS pos, ws[i] AS word
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> t <> '') AS ws
        FROM documents),
       unnest(generate_series(1, len(ws))) AS ui(i)
  WHERE length(ws[i]) <= {UNI_MAX_WORD}
)
SELECT d.doc_id, count(*)::BIGINT AS n_words, sum(w.k)::BIGINT AS n_pieces,
       md5(string_agg(w.enc, ' ' ORDER BY d.pos)) AS enc_hash
FROM docw d JOIN wmap w ON w.word = d.word
GROUP BY 1 ORDER BY 1
"""
    )


DECON_EMB_TH = 0.35  # max-cosine-vs-eval threshold flagging a train vector


def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-space decontamination — the semantic companion to
    ``decontaminate_ngram``: n-gram overlap misses paraphrased or
    re-formatted benchmark leakage, so production decontamination
    (e.g. the phi-series' approach) ALSO flags training items whose
    embedding sits too close to any held-out eval item. Eval slice =
    ``vec_id % DECON_EVAL_MOD == 0`` (the decon family's
    deterministic stand-in for the benchmark suite).

    Determinism (house integer-twin discipline): vectors quantize
    ONCE at PQ_INT_SCALE; dot products and squared norms are exact
    int64 (NumPy integer matmul is exact within 2⁵³ — 64 dims ×
    2⁴² products ≪); each cosine is one float64 CAST/sqrt/×/÷ chain
    of correctly-rounded IEEE ops (identical in NumPy, Spark and
    DuckDB), zero-norm guarded to 0.0; the per-row argmax ties to
    the smallest eval_id (eval sorted, first-max argmax); round(·,6)
    and the threshold compare happen JVM-side so the comparison
    semantics are Catalyst's.

    Scale shape (the ``dedup_embedding`` blocked-GEMM discipline):
    train vectors pack into EMB_BLOCK-row blocks; the eval side —
    real benchmark suites are tiny relative to the corpus — folds to
    ONE broadcast struct row; each task scores one block × eval tile
    as a vectorized exact-int64 matmul instead of interpreted
    per-element array folds (~30× measured on the ×1 probe). For an
    eval set too big to broadcast, the same semantics become a
    block × eval-block tile join.

    Output: vec_id, eval_id (nearest eval item), cos_sim (round 6),
    contaminated.
    """
    import numpy as np
    import pandas as pd

    qv = _quantize(table(spark, sf_dir, "embeddings"))
    is_eval = F.col("vec_id") % DECON_EVAL_MOD == 0
    ev_row = (
        qv.where(is_eval)
        .agg(F.collect_list(F.struct("vec_id", "q")).alias("evs"))
    )
    blocks = (
        qv.where(~is_eval)
        .withColumn("blk", (F.col("vec_id") / EMB_BLOCK).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "q")).alias("vs"))
    )
    tiles = blocks.crossJoin(F.broadcast(ev_row))

    def _tile(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids = np.fromiter(
                    (r["vec_id"] for r in row["vs"]), dtype=np.int64
                )
                m = np.array([r["q"] for r in row["vs"]], dtype=np.int64)
                evs = sorted(row["evs"], key=lambda r: r["vec_id"])
                eids = np.fromiter(
                    (r["vec_id"] for r in evs), dtype=np.int64
                )
                e = np.array([r["q"] for r in evs], dtype=np.int64)
                dots = m @ e.T  # exact int64
                na = (m * m).sum(axis=1)
                nb = (e * e).sum(axis=1)
                denom = (
                    np.sqrt(na.astype(np.float64))[:, None]
                    * np.sqrt(nb.astype(np.float64))[None, :]
                )
                safe = denom.copy()
                safe[safe == 0.0] = 1.0
                cos = np.where(
                    (na[:, None] == 0) | (nb[None, :] == 0),
                    0.0,
                    dots.astype(np.float64) / safe,
                )
                best = np.argmax(cos, axis=1)  # first max = min eval_id
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "eval_id": eids[best],
                        "raw_cos": cos[np.arange(len(ids)), best],
                    }
                )

    scored = tiles.mapInPandas(
        _tile, schema="vec_id long, eval_id long, raw_cos double"
    )
    return scored.select(
        "vec_id",
        "eval_id",
        F.round("raw_cos", 6).alias("cos_sim"),
        (F.col("raw_cos") >= F.lit(DECON_EMB_TH)).cast("int").alias(
            "contaminated"
        ),
    ).orderBy("vec_id")


_DECON_EMB_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT))
           AS q
  FROM embeddings
), ev AS (
  SELECT vec_id AS eval_id, q AS eq,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> q[i] * q[i])) AS BIGINT) AS nb
  FROM qv WHERE vec_id % {DECON_EVAL_MOD} = 0
), tr AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> q[i] * q[i])) AS BIGINT) AS na
  FROM qv WHERE vec_id % {DECON_EVAL_MOD} <> 0
), pairs AS (
  SELECT tr.vec_id, ev.eval_id,
         CASE WHEN tr.na = 0 OR ev.nb = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE CAST(CAST(list_sum(list_transform(
                       generate_series(1, {EMB_DIM}),
                       i -> tr.q[i] * ev.eq[i])) AS BIGINT) AS DOUBLE)
                   / (sqrt(CAST(tr.na AS DOUBLE)) * sqrt(CAST(ev.nb AS DOUBLE)))
         END AS cos
  FROM tr CROSS JOIN ev
), best AS (
  SELECT vec_id, eval_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, eval_id ASC) AS rn
  FROM pairs
)
SELECT vec_id, eval_id, round(cos, 6) AS cos_sim,
       CAST(CASE WHEN cos >= {DECON_EMB_TH} THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM best WHERE rn = 1
ORDER BY vec_id
"""


def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE + FLESCH–KINCAID GRADE — the classic
    readability pair (Flesch 1948; Kincaid et al. 1975), a standard
    cheap curation signal beside `quality_score` / `gopher_quality_rules`:
    corpora for instruction tuning are routinely bucketed by grade
    level, and readability outliers (ease ≪ 0: run-on token soup;
    ease ≈ 121.22 max: "a a a") flag extraction failures.

    Deterministic syllable heuristic: a syllable is one VOWEL RUN
    ``[aeiouy]+`` in the lowered text (vowel runs never span
    whitespace, so one regexp count over the whole doc equals the
    per-word sum — no explode). Sentences are ``[.!?]+`` runs,
    floored at 1 (the sf fixtures' docs carry no punctuation — there
    they read as single run-on sentences, honestly scored as such;
    the pytest plants real punctuated text).

    Exactness: counts are exact longs; both scores fold through
    integer-DIV micro-quantization only —
    ease_micro  = 206_835_000 − (w·1_015_000) DIV s − (sy·84_600_000) DIV w,
    grade_micro = (w·390_000) DIV s + (sy·11_800_000) DIV w − 15_590_000 —
    no floats anywhere, hash-exact by construction.

    Scale shape: pure per-row (three regexp counts + arithmetic) —
    zero shuffle at any corpus size.

    Output: doc_id, n_words, n_sentences, n_syllables, ease_micro,
    grade_micro, band.
    """
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens(F.lower("text"))).cast("long").alias("n_words"),
        F.greatest(
            F.expr("regexp_count(text, '[.!?]+')").cast("long"), F.lit(1)
        ).alias("n_sentences"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')")
        .cast("long")
        .alias("n_syllables"),
    )
    scored = base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "206835000 - (n_words * 1015000) DIV n_sentences"
            " - (n_syllables * 84600000) DIV nullif(n_words, 0)"
        ).alias("ease_micro"),
        F.expr(
            "(n_words * 390000) DIV n_sentences"
            " + (n_syllables * 11800000) DIV nullif(n_words, 0)"
            " - 15590000"
        ).alias("grade_micro"),
    )
    band = (
        F.when(F.col("ease_micro") >= 90_000_000, "very_easy")
        .when(F.col("ease_micro") >= 60_000_000, "standard")
        .when(F.col("ease_micro") >= 30_000_000, "difficult")
        .otherwise("very_confusing")
    )
    return scored.withColumn("band", band).orderBy("doc_id")


_FLESCH_SQL = """
WITH base AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> ''))::BIGINT AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+'))::BIGINT, 1)
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
           AS n_syllables
  FROM documents
), scored AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         (206835000 - (n_words * 1015000) // n_sentences
          - (n_syllables * 84600000) // nullif(n_words, 0))::BIGINT
           AS ease_micro,
         ((n_words * 390000) // n_sentences
          + (n_syllables * 11800000) // nullif(n_words, 0)
          - 15590000)::BIGINT AS grade_micro
  FROM base
)
SELECT doc_id, n_words, n_sentences, n_syllables, ease_micro, grade_micro,
       CASE WHEN ease_micro >= 90000000 THEN 'very_easy'
            WHEN ease_micro >= 60000000 THEN 'standard'
            WHEN ease_micro >= 30000000 THEN 'difficult'
            ELSE 'very_confusing' END AS band
FROM scored
ORDER BY doc_id
"""


# --- binary-quantized ANN: sign-bit codes + exact re-rank -----------
BQ_SHORTLIST = 25  # Hamming shortlist size per query (then exact top-K)
BQ_SCALE = 1000  # milli quantization for the exact re-rank dot


def similarity_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED retrieval with exact re-rank — the 1-bit ANN
    tier beside IVF/PQ/LSH (the memory-bound deploy: 64 dims → 8
    BYTES per vector, a 32× compression of float32, scanned with XOR
    + popcount): each vector's sign bits pack into two BIGINT halves
    (dims 0-31 / 32-63 — two halves so no code ever touches the sign
    bit, exact in both engines); per query the BQ_SHORTLIST nearest
    by Hamming distance are then re-ranked by the exact
    integer-quantized dot product (round(x·1000) per dim, the
    `_PQ_INT_SQL` idiom) and the top SIM_K returned.

    Determinism over recall: the shortlist is a deterministic
    function of the codes (ties by vec_id), so the oracle replays the
    whole pipeline hash-exactly; recall vs exact top-k is the
    documented trade (the `ann_recall_report` class measures that
    axis for the other tiers).

    Scale shape: queries broadcast; the corpus scan is narrow
    (pack + XOR + popcount per row, no shuffle before the per-query
    k-row window); the re-rank touches BQ_SHORTLIST rows per query.

    Output: query_id, neighbor_id, hamming, dot_scaled.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def half(lo: int):
        return F.expr(
            f"aggregate(sequence({lo}, {lo + 31}), CAST(0 AS BIGINT), "
            "(acc, d) -> acc + if(element_at(embedding, d + 1) > 0, "
            "shiftleft(CAST(1 AS BIGINT), d - " + str(lo) + "), "
            "CAST(0 AS BIGINT)))"
        )

    codes = _quantize(emb, BQ_SCALE, half(0).alias("b0"), half(32).alias("b1"))
    queries = F.broadcast(
        codes.filter(F.col("vec_id") < SIM_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("b0").alias("qb0"),
            F.col("b1").alias("qb1"),
            F.col("q").alias("qq"),
        )
    )
    ham = (
        F.bit_count(F.col("b0").bitwiseXOR(F.col("qb0")))
        + F.bit_count(F.col("b1").bitwiseXOR(F.col("qb1")))
    ).cast("int")
    scored = (
        queries.join(codes, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
            _int_dot("qq", "q").alias("dot_scaled"),
        )
    )
    wham = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("hrn", F.row_number().over(wham))
        .filter(F.col("hrn") <= BQ_SHORTLIST)
        .drop("hrn")
    )
    wdot = Window.partitionBy("query_id").orderBy(
        F.desc("dot_scaled"), F.asc("neighbor_id")
    )
    return (
        shortlist.withColumn("rn", F.row_number().over(wdot))
        .filter(F.col("rn") <= SIM_K)
        .drop("rn")
        .orderBy("query_id", F.desc("dot_scaled"), "neighbor_id")
    )


_BQ_RERANK = f"""
WITH codes AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(0, 31),
           d -> CASE WHEN embedding[d + 1] > 0
                     THEN (1::BIGINT << d) ELSE 0::BIGINT END))::BIGINT AS b0,
         list_sum(list_transform(generate_series(32, 63),
           d -> CASE WHEN embedding[d + 1] > 0
                     THEN (1::BIGINT << (d - 32)) ELSE 0::BIGINT END))::BIGINT
           AS b1,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {BQ_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         (bit_count(xor(c.b0, qs.b0))
          + bit_count(xor(c.b1, qs.b1)))::INT AS hamming,
         CAST(list_sum(list_transform(generate_series(1, 64),
           j -> qs.q[j] * c.q[j])) AS BIGINT) AS dot_scaled
  FROM codes qs JOIN codes c ON c.vec_id <> qs.vec_id
  WHERE qs.vec_id < {SIM_N_QUERIES}
), short AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS hrn
  FROM scored
), reranked AS (
  SELECT query_id, neighbor_id, hamming, dot_scaled, row_number() OVER (
    PARTITION BY query_id ORDER BY dot_scaled DESC, neighbor_id ASC) AS rn
  FROM short WHERE hrn <= {BQ_SHORTLIST}
)
SELECT query_id, neighbor_id, hamming, dot_scaled
FROM reranked WHERE rn <= {SIM_K}
ORDER BY query_id, dot_scaled DESC, neighbor_id
"""


QUERIES = {
    "template_prefix_audit": template_prefix_audit,
    "flesch_readability": flesch_readability,
    "decontaminate_embedding": decontaminate_embedding,
    "wordpiece_train": wordpiece_train,
    "similarity_topk_mmr": similarity_topk_mmr,
    "token_label_chi2": token_label_chi2,
    "rake_keywords": rake_keywords,
    "wordpiece_encode": wordpiece_encode,
    "sparse_dot_topk": sparse_dot_topk,
    "bm25_topk": bm25_topk,
    "hard_negative_mining": hard_negative_mining,
    "rank_fusion_rrf": rank_fusion_rrf,
    "rank_fusion_rrf_ann": rank_fusion_rrf_ann,
    "compression_ratio_quality": compression_ratio_quality,
    "embedding_pca_power": embedding_pca_power,
    "term_cooccurrence_lift": term_cooccurrence_lift,
    "curriculum_schedule": curriculum_schedule,
    "gopher_quality_rules": gopher_quality_rules,
    "filter_agreement_kappa": filter_agreement_kappa,
    "mcnemar_test": mcnemar_test,
    "token_burstiness": token_burstiness,
    "source_cap_audit": source_cap_audit,
    "train_split_manifest": train_split_manifest,
    "char_gini_diversity": char_gini_diversity,
    "embedding_drift": embedding_drift,
    "mmd_drift_poly": mmd_drift_poly,
    "quantile_normalize_quality": quantile_normalize_quality,
    "feature_hash_vectors": feature_hash_vectors,
    "quality_classifier_linear": quality_classifier_linear,
    "quality_classifier_train": quality_classifier_train,
    "quality_filter_trained": quality_filter_trained,
    "dsir_importance_weights": dsir_importance_weights,
    "ngram_lm_score": ngram_lm_score,
    "stupid_backoff_score": stupid_backoff_score,
    "winnow_fingerprints": winnow_fingerprints,
    "oov_rate": oov_rate,
    "duplicate_span_fraction": duplicate_span_fraction,
    "bpe_pair_counts": bpe_pair_counts,
    "bpe_train_merges": bpe_train_merges,
    "arrow_doc_profile": arrow_doc_profile,
    "arrow_grouped_source_stats": arrow_grouped_source_stats,
    "export_training_shards": export_training_shards,
    "dedup_exact": dedup_exact,
    "cross_source_dup_matrix": cross_source_dup_matrix,
    "curate_corpus": curate_corpus,
    "dedup_ngram": dedup_ngram,
    "dedup_embedding": dedup_embedding,
    "similarity_topk": similarity_topk,
    "similarity_binary_rerank": similarity_binary_rerank,
    "similarity_ann_ivf": similarity_ann_ivf,
    "similarity_ann_ivf_trained": similarity_ann_ivf_trained,
    "similarity_pq": similarity_pq,
    "similarity_pq_int": similarity_pq_int,
    "similarity_ann_ivf_int": similarity_ann_ivf_int,
    "similarity_ann_ivfpq_int": similarity_ann_ivfpq_int,
    "matryoshka_overlap": matryoshka_overlap,
    "ann_recall_report": ann_recall_report,
    "semdedup_prune": semdedup_prune,
    "embedding_centroids": embedding_centroids,
    "embedding_kmeans": embedding_kmeans,
    "text_stats": text_stats,
    "ngram_counts": ngram_counts,
    "tfidf_terms": tfidf_terms,
    "lang_id": lang_id,
    "lang_id_confusion": lang_id_confusion,
    "quality_score": quality_score,
    "repetition_score": repetition_score,
    "doc_fingerprint": doc_fingerprint,
    "token_count_bpe": token_count_bpe,
    "multimodal_meta": multimodal_meta,
    "sample_stratified": sample_stratified,
    "sample_exact_k": sample_exact_k,
    "sample_weighted": sample_weighted,
    "embedding_quantize_int8": embedding_quantize_int8,
    "udtf_chunk_documents": udtf_chunk_documents,
    "udtf_polymorphic_unpack": udtf_polymorphic_unpack,
    "observed_quality_audit": observed_quality_audit,
    "mix_corpora": mix_corpora,
    "mix_temperature": mix_temperature,
    "shuffle_for_training": shuffle_for_training,
    "pack_sequences": pack_sequences,
    "t5_span_corruption": t5_span_corruption,
    "decontaminate_ngram": decontaminate_ngram,
    "dup_span_stats": dup_span_stats,
    "remove_dup_spans": remove_dup_spans,
    "bpe_encode": bpe_encode,
    "tokenizer_fertility": tokenizer_fertility,
    "ivf_retrain_loop": ivf_retrain_loop,
    "fim_transform": fim_transform,
    "unigram_train": unigram_train,
    "unigram_encode": unigram_encode,
    "tokenizer_fertility_compare": tokenizer_fertility_compare,
    "chunk_documents": chunk_documents,
    "pii_scrub": pii_scrub,
    "ann_lsh_pairs": ann_lsh_pairs,
}

ORACLES = {
    "template_prefix_audit": _TEMPLATE_PREFIX_SQL,
    "flesch_readability": _FLESCH_SQL,
    "decontaminate_embedding": _DECON_EMB_SQL,
    "wordpiece_train": _wordpiece_train_oracle(),
    "similarity_topk_mmr": _mmr_oracle_sql(),
    "token_label_chi2": _TOKEN_CHI2_SQL,
    "rake_keywords": _rake_sql(),
    "wordpiece_encode": _wordpiece_encode_oracle(),
    "sparse_dot_topk": _SPARSE_TOPK_SQL,
    "embedding_pca_power": _pca_power_oracle_sql(),
    "term_cooccurrence_lift": _COOC_SQL,
    "curriculum_schedule": _CURRICULUM_SQL,
    "gopher_quality_rules": _GOPHER_SQL,
    "filter_agreement_kappa": _kappa_sql(),
    "mcnemar_test": _mcnemar_sql(),
    "token_burstiness": _BURSTINESS_SQL,
    "source_cap_audit": _SOURCE_CAP_SQL,
    "train_split_manifest": _TRAIN_SPLIT_SQL,
    "char_gini_diversity": _CHAR_GINI_SQL,
    "embedding_drift": _EMB_DRIFT_SQL,
    "mmd_drift_poly": _mmd_sql(),
    "quantile_normalize_quality": _QNORM,
    "feature_hash_vectors": _FEATURE_HASH_SQL,
    "quality_classifier_linear": _QCLF_SQL,
    "quality_classifier_train": _QCLF_TRAIN_SQL,
    "quality_filter_trained": _QCLF_FILTER_SQL,
    "dsir_importance_weights": _DSIR_SQL,
    "ngram_lm_score": _LM_SQL,
    "stupid_backoff_score": _stupid_backoff_sql(),
    "winnow_fingerprints": _winnow_sql(),
    "oov_rate": _OOV_SQL,
    "duplicate_span_fraction": _DUP_SPAN,
    "bpe_pair_counts": _BPE_PAIRS,
    "bpe_train_merges": _bpe_train_oracle(),
    "arrow_doc_profile": _ARROW_PROFILE,
    "arrow_grouped_source_stats": _ARROW_GROUPED_SQL,
    "export_training_shards": _EXPORT_SHARDS_SQL,
    "dedup_exact": _DEDUP_EXACT,
    "cross_source_dup_matrix": _cross_source_dup_sql(),
    "curate_corpus": _CURATE,
    "dedup_ngram": _DEDUP_NGRAM,
    "dedup_embedding": _DEDUP_EMB,
    "similarity_topk": _SIM_TOPK,
    "similarity_binary_rerank": _BQ_RERANK,
    "similarity_pq_int": _PQ_INT_SQL,
    "similarity_ann_ivf_int": _ANN_IVF_INT_SQL,
    "similarity_ann_ivfpq_int": _ANN_IVFPQ_INT_SQL,
    "matryoshka_overlap": _MRL_OVERLAP_SQL,
    "ann_recall_report": _ann_recall_sql(),
    "bm25_topk": _BM25_SQL,
    "hard_negative_mining": _HARD_NEG_SQL,
    "rank_fusion_rrf": _RRF_SQL,
    "rank_fusion_rrf_ann": _RRF_ANN_SQL,
    "semdedup_prune": _SEMDEDUP_SQL,
    "embedding_kmeans": _kmeans_oracle_sql(),
    "embedding_centroids": f"""
SELECT label, (pos - 1)::BIGINT AS dim,
       sum(CAST(round(v::DOUBLE * {CENTROID_SCALE}) AS BIGINT))
         / ({CENTROID_SCALE}.0 * count(*)) AS centroid
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY 1, 2
""",
    "text_stats": _TEXT_STATS,
    "ngram_counts": _NGRAM_COUNTS,
    "tfidf_terms": _TFIDF,
    "lang_id": _LANG_ID,
    "lang_id_confusion": _lang_confusion_sql(),
    "quality_score": _QUALITY,
    "repetition_score": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                        i -> ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2]) AS sh
  FROM toks
)
SELECT doc_id,
       len(sh)::BIGINT AS n_3grams,
       len(list_distinct(sh))::BIGINT AS n_distinct,
       CASE WHEN len(sh) > 0
            THEN round((len(sh) - len(list_distinct(sh))) * 1.0 / len(sh), 6)
            ELSE 0.0 END AS rep_ratio
FROM g
""",
    "doc_fingerprint": _FINGERPRINT,
    "token_count_bpe": _BPE,
    "multimodal_meta": _MULTIMODAL,
    "sample_stratified": _SAMPLE_STRAT,
    "sample_exact_k": _SAMPLE_EXACT_K_SQL,
    "sample_weighted": _SAMPLE_WEIGHTED_SQL,
    "embedding_quantize_int8": _QUANT_SQL,
    # same oracle as the expression form — the two paths must
    # coincide row-for-row
    "udtf_chunk_documents": _CHUNKS,
    "udtf_polymorphic_unpack": _UNPACK_SQL,
    "observed_quality_audit": _OBSERVED_AUDIT,
    "mix_corpora": _MIX,
    "mix_temperature": _MIX_TEMP,
    "shuffle_for_training": _shuffle_sql(),
    "pack_sequences": _PACK_SEQ,
    "t5_span_corruption": _T5_SPAN_SQL,
    "decontaminate_ngram": _DECON,
    "dup_span_stats": _DUP_SPAN_SQL,
    "remove_dup_spans": _REMOVE_DUP_SPANS_SQL,
    "bpe_encode": _BPE_ENCODE_SQL,
    "tokenizer_fertility": _TOKENIZER_FERTILITY_SQL,
    "ivf_retrain_loop": _IVF_RETRAIN_LOOP_SQL,
    "fim_transform": _FIM_SQL,
    "unigram_train": _UNIGRAM_TRAIN_SQL,
    "unigram_encode": _UNIGRAM_ENCODE_SQL,
    "tokenizer_fertility_compare": _TOKENIZER_FERTILITY_COMPARE_SQL,
    "chunk_documents": _CHUNKS,
    "pii_scrub": _PII,
    "ann_lsh_pairs": _ANN_LSH,
}
