"""Document deduplication suite — exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

These are the training-data-pipeline operators layered on the same stage-1
machinery the ER pipeline uses (blocking kernels from
:mod:`blink_spark.functions.hashing`). Reference analog: dedup-by-key
invariants (``blink/main_dense.py:137``) and the candidate-generation
recall machinery generalized to document corpora.

All operators take a ``documents``-shaped DataFrame (``doc_id``, ``text``)
and scale the same way the ER pipeline does: band-key equi-joins, capped
blocks, no driver-side collection.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blink_spark.functions import hashing as H
from blink_spark.functions import strsim
from blink_spark.functions.text import canonicalize, token_ngrams_from_tokens, tokens
from blink_spark.operators import clustering
from blink_spark.operators.blocking import cap_blocks


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by canonicalized-text hash → group representative.

    Returns (doc_id, canon_id, group_size): ``canon_id`` is the minimum id
    sharing the identical canonical text.
    """
    keyed = docs.select(F.col(id_col).alias("doc_id"), F.md5(canonicalize(F.col(text_col))).alias("k"))
    groups = keyed.groupBy("k").agg(
        F.min("doc_id").alias("canon_id"), F.count(F.lit(1)).alias("group_size")
    )
    return keyed.join(groups, "k").select("doc_id", "canon_id", "group_size")


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("keys", T.ArrayType(T.LongType())),
    ]
)


def _minhash_keys_udf(docs: DataFrame, num_perm: int, bands: int, shingle_k: int, seed: int,
                      text_col: str, id_col: str) -> DataFrame:
    sub = docs.select(F.col(id_col).alias("doc_id"), canonicalize(F.col(text_col)).alias("t"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mh = H.MinHasher(num_perm=num_perm, seed=seed)
        for pdf in batches:
            sets = H.token_shingles_batch([(x or "").split() for x in pdf["t"]], k=shingle_k)
            keys = mh.band_keys(mh.signatures(sets), bands)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "keys": [k.tolist() for k in keys]})

    return sub.mapInPandas(gen, schema=_SIG_SCHEMA)


def minhash_dedup_pairs(
    docs: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    max_block: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    caches: list | None = None,
) -> DataFrame:
    """MinHash-LSH candidate near-duplicate pairs (doc_a < doc_b).

    The exploded key table feeds three subplans (size agg + both join
    sides), so it is persisted; pass ``caches`` to collect the handle for
    release (same convention as ``blocking.candidate_pairs``)."""
    keyed = (
        _minhash_keys_udf(docs, num_perm, bands, shingle_k, seed, text_col, id_col)
        .select("doc_id", F.explode("keys").alias("key"))
        .persist()
    )
    if caches is not None:
        caches.append(keyed)
    kept, _ = cap_blocks(keyed, max_block, key_cols=("key",))
    a = kept.select("key", F.col("doc_id").alias("doc_a"))
    b = kept.select("key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "key").where(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").dropDuplicates()
    )


def minhash_dedup_clusters(docs: DataFrame, jaccard_threshold: float = 0.6, **kw) -> DataFrame:
    """Near-dup clusters: LSH pairs → exact-Jaccard verify → connected components.

    Returns (doc_id, canon_id) covering every input document (singletons map
    to themselves).
    """
    id_col = kw.get("id_col", "doc_id")
    text_col = kw.get("text_col", "text")
    pairs = minhash_dedup_pairs(docs, **kw)
    verified = ngram_jaccard_pairs(docs, pairs, threshold=jaccard_threshold, text_col=text_col, id_col=id_col)
    edges = verified.select(
        F.col("doc_a").cast("string").alias("conv_a"), F.col("doc_b").cast("string").alias("conv_b")
    )
    # clustered as strings, so canon_id is the lexicographic-min id
    full = clustering.with_singletons(
        docs.select(F.col(id_col).cast("string").alias("conv_id")),
        clustering.connected_components(edges),
    )
    return full.select(
        F.col("conv_id").cast("long").alias("doc_id"), F.col("cluster_id").cast("long").alias("canon_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-n-gram Jaccard for given candidate pairs, thresholded.

    JVM-side set algebra (``array_intersect``/``array_union``) — no Python.
    Returns (doc_a, doc_b, jaccard).
    """
    grams = docs.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")).select(
        "doc_id", F.array_distinct(token_ngrams_from_tokens(F.col("t"), n)).alias("g")
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


_SIMHASH_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("simhash", T.LongType())]
)


def simhash_signatures(docs: DataFrame, ngram: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over char n-grams (Arrow-batched)."""
    sub = docs.select(F.col(id_col).alias("doc_id"), canonicalize(F.col(text_col)).alias("t"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = H.simhash64(H.char_ngrams_hashed_batch([x or "" for x in pdf["t"]], ngram))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": hs})

    return sub.mapInPandas(gen, schema=_SIMHASH_SCHEMA)


def simhash_dedup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    caches: list | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band-bucket join then exact Hamming filter.

    Hamming distance is computed JVM-side via ``bit_count(a ^ b)``; the
    signature UDF output is persisted (both join sides read it); pass
    ``caches`` to collect the handle for release (same convention as
    ``minhash_dedup_pairs``).
    """
    sigs = simhash_signatures(docs, text_col=text_col, id_col=id_col).persist()
    if caches is not None:
        caches.append(sigs)

    def with_keys(df: DataFrame) -> DataFrame:
        width = 64 // bands
        keys = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit((1 << width) - 1)).alias("bits"),
                )
                for b in range(bands)
            ]
        )
        return df.select("doc_id", "simhash", F.explode(keys).alias("k"))

    keyed = with_keys(sigs)
    a = keyed.select(F.col("k"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = keyed.select(F.col("k"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, "k")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via JVM-side vector algebra.

    Brute-force within-corpus variant (correctness baseline). The scale path
    buckets by random-hyperplane keys first — see
    :func:`blink_spark.operators.similarity.lsh_topk_neighbors`.
    """
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (norm(F.col("va")) * norm(F.col("vb")))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
