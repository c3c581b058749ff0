"""Seeded inputs for the benchmark workloads.

Every table is built from the deterministic xxhash64 expressions of
``tools/scale_probe.py``. Those expressions hash the row id only, so
the seed enters through the id domain: each generator sees
``spark.range(off, off + n)`` for a seed-derived offset ``off``, and
the key columns are renumbered back to ``0..n-1`` afterwards. The
same seed therefore gives byte-identical tables, and another seed
gives different data of the same shape.

On top of the scale_probe tables the generators plant the properties
the workloads need (see ``BENCHMARK.json`` for the sizes used):

- ``mr_corpus``: a Zipf (s=1) vocabulary, so the top two words are
  heavy hitters (share > 1/31), plus ``ord*`` tail words for grep;
- ``curate_corpus``: the scale_probe corpus (duplicate-free) with
  near-duplicate clusters copied from head documents at a fixed
  per-token edit rate;
- ``embeddings``: vectors around ``EMB_CLUSTERS`` seeded centres;
- ``ingest_batches``: micro-batches with a planted share of in-horizon
  resends and of updates to keys inserted earlier.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tools import scale_probe as sp

ZIPF_VOCAB = 50_000
GREP_EVERY = 97  # every 97th tail rank is spelled "ord<rank>"
EDIT_PER_MILLE = 30  # near-duplicate copies: 3% of tokens replaced
EMB_CLUSTERS = 32
EMB_NOISE = 0.3


class _Offset:
    """Hands scale_probe's generators a seed-shifted row-id domain."""

    def __init__(self, spark: SparkSession, offset: int, parts: int = 4):
        self._spark = spark
        self._offset = offset
        self._parts = parts

    def range(self, n: int) -> DataFrame:
        return self._spark.range(self._offset, self._offset + n, 1, self._parts)


def _offset(seed: int, n_orders: int) -> int:
    # a multiple of n_orders keeps gen_lineitem's l_orderkey (lid %
    # n_orders) in 0..n_orders-1; the factor stays below 2^31 so its
    # int-cast l_linenumber cannot overflow
    return (1 + seed % 1_000_000) * 1000 * n_orders


def _write(df: DataFrame, out_dir: str, name: str) -> None:
    df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def _zipf_token(seed_id: F.Column, i: F.Column) -> F.Column:
    # log-uniform rank ~ Zipf s=1: P(rank r) = ln((r+2)/(r+1)) / ln(V+1)
    u = F.pmod(F.xxhash64(seed_id, i, F.lit("z")), F.lit(1 << 30)) / float(1 << 30)
    rank = (F.exp(u * F.lit(math.log(ZIPF_VOCAB + 1))) - 1).cast(
        "long"
    )
    common = F.element_at(
        F.array(*[F.lit(w) for w in sp.VOCAB]),
        (F.least(rank, F.lit(len(sp.VOCAB) - 1)) + 1).cast("int"),
    )
    tail = F.when(
        rank % GREP_EVERY == 0, F.concat(F.lit("ord"), rank.cast("string"))
    ).otherwise(F.concat(F.lit("w"), rank.cast("string")))
    return F.when(rank < len(sp.VOCAB), common).otherwise(tail)


def mr_corpus(spark: SparkSession, out_dir: str, seed: int, n_docs: int,
              n_orders: int, parts: int) -> dict:
    """documents (Zipf text) + customer/orders/lineitem for mr_text."""
    off = _offset(seed, n_orders)
    s = _Offset(spark, off, parts)
    docs = sp.gen_documents(s, n_docs)
    n_tok = (F.pmod(F.xxhash64("doc_id", F.lit("len")), F.lit(80)) + 20).cast("int")
    text = F.array_join(
        F.transform(F.sequence(F.lit(0), n_tok - 1), lambda i: _zipf_token(F.col("doc_id"), i)),
        " ",
    )
    docs = docs.withColumn("text", text).select(
        (F.col("doc_id") - off).alias("doc_id"),
        "text",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
    )
    _write(docs, out_dir, "documents")
    n_cust = max(n_orders // 10, 100)
    _write(
        sp.gen_customer(s, n_cust).withColumn("c_custkey", F.col("c_custkey") - off),
        out_dir, "customer",
    )
    _write(
        sp.gen_orders(s, n_orders, n_cust).withColumn(
            "o_orderkey", F.col("o_orderkey") - off
        ),
        out_dir, "orders",
    )
    _write(
        sp.gen_lineitem(s, 4 * n_orders, n_orders).withColumn(
            "l_linenumber", F.col("l_linenumber") - off // n_orders
        ),
        out_dir, "lineitem",
    )
    return {"documents": n_docs, "orders": n_orders, "lineitem": 4 * n_orders,
            "customer": n_cust}


def curate_corpus(spark: SparkSession, out_dir: str, seed: int, n_docs: int,
                  n_emb: int, dup_frac: float, parts: int) -> dict:
    """documents with planted near-duplicate clusters + clustered
    embeddings for llm_curate. Returns the planted ground truth."""
    off = _offset(seed, 1)
    s = _Offset(spark, off, parts)
    base = sp.gen_documents(s, n_docs).withColumn("doc_id", F.col("doc_id") - off)
    n_copies = int(n_docs * dup_frac)
    n_base = n_docs - n_copies
    n_heads = max(n_copies // 2, 1)  # ~2 copies per head: clusters of ~3
    seed_tag = F.lit(f"s{seed}")
    heads = base.filter(F.col("doc_id") < n_heads).select(
        F.col("doc_id").alias("head"), F.split("text", " ").alias("htoks")
    )
    copies = (
        base.filter(F.col("doc_id") >= n_base)
        .withColumn("head", F.pmod(F.xxhash64(seed_tag, "doc_id", F.lit("src")), F.lit(n_heads)))
        .join(heads, "head")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    "htoks",
                    lambda t, i: F.when(
                        F.pmod(F.xxhash64(seed_tag, F.col("doc_id"), i, F.lit("e")), F.lit(1000))
                        < EDIT_PER_MILLE,
                        F.concat(
                            F.lit("x"),
                            F.pmod(F.xxhash64(seed_tag, F.col("doc_id"), i, F.lit("r")), F.lit(20_000)),
                        ),
                    ).otherwise(t),
                ),
                " ",
            ),
        )
    )
    cols = ["doc_id", "text", "lang", "source"]
    docs = base.filter(F.col("doc_id") < n_base).select(*cols).unionByName(
        copies.select(*cols)
    ).withColumn("n_chars", F.length("text"))
    _write(docs, out_dir, "documents")
    clusters: dict[int, list[int]] = {}
    for r in copies.select("doc_id", "head").collect():
        clusters.setdefault(int(r["head"]), [int(r["head"])]).append(int(r["doc_id"]))

    emb = sp.gen_embeddings(s, n_emb).withColumn("vec_id", F.col("vec_id") - off)
    cid = F.pmod(F.xxhash64(seed_tag, "vec_id", F.lit("cl")), F.lit(EMB_CLUSTERS))
    emb = emb.withColumn("cid", cid).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: (
                (F.pmod(F.xxhash64(seed_tag, F.col("cid"), i), F.lit(2001)) - 1000) / 1000.0
                + x * EMB_NOISE
            ).cast("float"),
        ).alias("embedding"),
        F.col("cid").cast("int").alias("label"),
    )
    _write(emb, out_dir, "embeddings")
    pairs = {
        (a, b)
        for members in clusters.values()
        for a in members
        for b in members
        if a < b
    }
    return {"documents": n_docs, "embeddings": n_emb, "planted_pairs": pairs,
            "clusters": len(clusters)}


INGEST_SCHEMA = pa.schema(
    [("batch_no", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
     ("doc_key", pa.string()), ("version", pa.int64()), ("text", pa.string())]
)
INGEST_SCHEMA_DDL = "batch_no long, ts timestamp, doc_key string, version long, text string"


def ingest_batches(spark: SparkSession, out_dir: str, seed: int, n_batches: int,
                   rows: int, dup_frac: float, upd_frac: float) -> list[str]:
    """One parquet file per micro-batch under ``out_dir``; returns the
    file paths in arrival order.

    Each batch holds ``rows`` rows: a ``dup_frac`` share resends (same
    key, version and text) of a row from the previous three batches, an
    ``upd_frac`` share new versions of keys inserted five batches
    earlier, the rest new keys. Texts come from the scale_probe
    corpus generator; the mix is drawn from ``random.Random(seed)``."""
    n_new = rows - int(rows * dup_frac) - int(rows * upd_frac)
    pool_n = n_batches * rows + 1
    off = _offset(seed, 1)
    texts = [
        r["text"]
        for r in sp.gen_documents(_Offset(spark, off), pool_n).orderBy("doc_id").collect()
    ]
    rng = random.Random(seed)
    next_text = 0
    latest: dict[str, tuple[int, str]] = {}  # key -> (version, text)
    born: dict[str, int] = {}
    recent: list[list[tuple[str, int, str]]] = []
    paths = []
    base_us = 1_704_067_200 * 1_000_000
    for b in range(n_batches):
        out: list[tuple[str, int, str]] = []
        for _ in range(n_new):
            key = f"k{b:04d}_{len(out):05d}"
            out.append((key, 1, texts[next_text]))
            next_text += 1
        old = [k for k, bb in born.items() if bb == b - 5]
        for key in rng.sample(old, min(len(old), rows - len(out) - int(rows * dup_frac))):
            out.append((key, latest[key][0] + 1, texts[next_text]))
            next_text += 1
        # resends: rows still carrying their key's latest version
        cands = [r for batch in recent for r in batch if latest.get(r[0]) == (r[1], r[2])]
        cands = [r for r in cands if r[0] not in {o[0] for o in out}]
        out.extend(rng.sample(cands, min(len(cands), rows - len(out))))
        for key, ver, text in out:
            if ver > latest.get(key, (0, ""))[0]:
                latest[key] = (ver, text)
            born.setdefault(key, b)
        recent = (recent + [out])[-3:]
        table = pa.table(
            {
                "batch_no": [b] * len(out),
                "ts": [base_us + b * 1_000_000 + i for i in range(len(out))],
                "doc_key": [r[0] for r in out],
                "version": [r[1] for r in out],
                "text": [r[2] for r in out],
            }
        ).cast(INGEST_SCHEMA)
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
