"""Stage 1 — blocking: MinHash-LSH band keys + SimHash embedding buckets.

This is the candidate-generation stage: the Spark-native analog of the
reference's bi-encoder + FAISS retrieval (``blink/indexer/faiss_indexer.py:
47-141``, ``blink/biencoder/biencoder.py:148-177``) and its Solr BM25
keyword retrieval (``blink/candidate_generation.py:68-115``). Like the
reference — which unions dense, BM25, and p_e_m-prior candidates — we union
two independent modalities (MinHash token-shingle bands ∪ SimHash char-gram
bands) because recall of stage 1 upper-bounds final F1 (SURVEY.md §7.3).

Scale design:
* signatures computed in ONE Arrow pass per conversation (vectorized numpy
  kernel, no per-row Python) → ``posexplode`` band keys → equi-join;
* oversized blocks (hot keys — boilerplate/empty conversations) are CAPPED
  or split before the self-join: the |block|² pair explosion is the ER
  scale killer (reference analog of its ``top_k``/``num_cand_mentions``
  caps, ``elq/main_dense.py:851-856``). The dropped-key stats
  :func:`cap_blocks` returns are not recorded by the pipeline yet;
* the pair self-join runs under AQE skew-join; pairs are canonicalized
  ``(least, greatest)`` + de-duplicated before stage 2;
* batch and incremental runs share ONE pair generator,
  :func:`candidate_pairs`: a batch run is the delta against an empty old
  side.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blink_spark.functions import hashing as H
from blink_spark.functions.text import canonicalize


@dataclass
class BlockingConfig:
    num_perm: int = 128          # MinHash permutations
    # rows-per-band r = num_perm / bands = 2: band-collision prob at pair
    # Jaccard j is 1-(1-j²)^64 ≈ 0.9998 at j=0.35 — recall-oriented, like
    # the reference's top_k=100 retrieval (recall upper-bounds final F1).
    # The extra pair volume r=2 admits is controlled by max_block_size.
    minhash_bands: int = 64
    shingle_k: int = 3           # tokens per shingle
    simhash_bands: int = 4       # 64-bit SimHash → 4×16-bit buckets
    char_ngram: int = 3
    max_block_size: int = 50     # hard cap on block membership (skew guard)
    # a candidate pair must share ≥ this many MinHash band keys. With r=2
    # rows/band a random same-vocabulary pair (j≈0.05) collides on SOME
    # band ~15% of the time — harmless at 10^5 docs, a pair explosion at
    # 10^8 (measured 8.8× superlinear pair growth at 4× corpus). A true
    # near-dup (j≥0.3) shares ~6+ bands, so ≥2 keeps recall while cutting
    # junk pairs ~10×. SimHash pairs are exempt (32-bit keys, random
    # collisions negligible; the modality exists to catch char-level
    # near-dups MinHash token shingles miss).
    min_shared_minhash_bands: int = 2
    # SimHash band candidates are verified against the FULL 64-bit Hamming
    # distance (Manku et al.'s verify step) before pairing: on same-domain
    # corpora SimHashes crowd together and a 32-bit slice-pair collision is
    # weak evidence (measured: ~1M junk candidates at 127k docs, junk
    # median hamming 8 vs gold median 3). bit_count(xor) runs JVM-side.
    sim_max_hamming: int = 8
    # oversized-block policy: "drop" discards hot keys entirely (hot keys
    # are boilerplate/empty-text at this corpus shape; the reference's
    # analog is its hard top-k caps), "split" salts them into sub-blocks
    # of ≤ max_block_size members (operators/skew.py) — bounded B·max pair
    # volume instead of 0, for corpora where hot keys still carry signal.
    overflow: str = "drop"
    # optional THIRD blocking modality: a sorted-neighborhood pass over the
    # doc_head prefix (0/1 = off, the default; ≥2 = window size). Hash
    # blocking has a sensitivity floor — a pair at trigram Jaccard ~0.2
    # (heavily corrupted twin) shares few MinHash bands and can miss both
    # hash modalities (observed: the one blocking miss in a 24-seed sweep,
    # seed 13, j=0.203) — while the same pair sorts adjacent under a text
    # prefix. SNM adds ≤ (window-1)·n pairs, linear in corpus size; the
    # exact pair scorer keeps precision, so enabling it can only add
    # recall. Off by default to keep the seeded regression pins stable.
    snm_window: int = 0
    snm_key_chars: int = 24
    vec_dim: int = 256           # hashed n-gram embedding dim
    seed: int = 42


def conversation_docs(transcripts: DataFrame, max_turns: int = 1024) -> DataFrame:
    """Collapse turns into one canonical document per conversation.

    Stable ``(conv_id, turn_idx)`` ordering via ``array_sort`` over
    ``struct(turn_idx, text)`` — deterministic regardless of partitioning,
    and the raw turn text is never mutated (the per-turn text-equality
    invariant lives in the *source* table; this is a derived view).

    ``max_turns`` bounds the per-conversation state: a degenerate
    conversation (a bot loop emitting millions of turns) would otherwise
    blow up the ``collect_list`` buffer on one executor. The filter is on
    ``turn_idx`` (deterministic prefix), BEFORE the aggregation, so the
    cap costs nothing and pushes into the scan. ``n_turns`` still counts
    every turn — it is a scoring feature and must see the true size.
    """
    turn = F.struct(F.col("turn_idx"), F.col("text"))
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.when(F.col("turn_idx") < max_turns, turn))).alias("turns"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .select(
            "conv_id",
            "n_turns",
            canonicalize(F.array_join(F.transform("turns", lambda t: t["text"]), " ␞ ")).alias("doc"),
        )
    )


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("doc_head", T.StringType()),
        T.StructField("shingles", T.ArrayType(T.IntegerType())),
        T.StructField("vec", T.ArrayType(T.FloatType())),
        T.StructField("minhash_keys", T.ArrayType(T.LongType())),
        T.StructField("simhash_keys", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
)

# Text prefix retained for the stage-2 edit-distance features. 256 chars:
# the 12-seed margin sweep (scripts/tune_blocking.py) shows identical
# margins at 512/256 (worst F1 1.0, min positive score 0.499, zero false
# positives), and the pass-2 DP cost is O(head²) — 256 quarters the
# dominant per-pair cost and halves the head bytes joined for the
# threshold-ambiguous sliver.
_HEAD_CHARS = 256


def compute_features(docs: DataFrame, cfg: BlockingConfig | None = None) -> DataFrame:
    """One Arrow pass computing every per-conversation feature stage 1+2 need:

    shingle-hash set, hashed n-gram vector, MinHash band keys, SimHash band
    keys, and a bounded text head. Computing them together means the corpus
    is read ONCE and stage 2 never has to re-derive features per pair
    (the reference equivalently precomputes + caches entity encodings,
    ``blink/eval_biencoder.py:229-253``).
    """
    cfg = cfg or BlockingConfig()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mh = H.MinHasher(num_perm=cfg.num_perm, seed=cfg.seed)
        for pdf in batches:
            texts = pdf["doc"].fillna("").tolist()
            shingle_sets = H.token_shingles_batch([t.split() for t in texts], k=cfg.shingle_k)
            # stage 2 ships these per PAIR: store 32-bit truncations (half
            # the pair-shuffle bytes; within-set collision prob ~|S|²/2³²
            # ≈ 4e-6 per doc — vanishing effect on Jaccard)
            shingles32 = [np.unique(s.astype(np.uint32)).view(np.int32) for s in shingle_sets]
            sigs = mh.signatures(shingle_sets)
            mh_keys = mh.band_keys(sigs, cfg.minhash_bands)
            # char n-gram hashes computed ONCE for the whole batch (single
            # encode + window pass), reused by SimHash + vectors
            cgrams = H.char_ngrams_hashed_batch(texts, n=cfg.char_ngram)
            sh = H.simhash64(cgrams)
            sh_keys = H.simhash_band_keys(sh, bands=cfg.simhash_bands)
            vecs = H.vectors_from_hashes(cgrams, dim=cfg.vec_dim)
            # empty documents emit NO blocking keys: the all-max MinHash
            # sentinel (and SimHash 0) would otherwise band every empty
            # conversation into one block and falsely cluster them — the
            # engine's form of the reference's min-token filter
            # (`data_ingestion.py:119-127`); empties resolve as singletons.
            empty = [len(s) == 0 for s in shingle_sets]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "n_turns": pdf["n_turns"].astype("int64"),
                    "doc_head": [t[:_HEAD_CHARS] for t in texts],
                    "shingles": [s.tolist() for s in shingles32],
                    "vec": list(vecs),
                    "minhash_keys": [[] if e else r.tolist() for e, r in zip(empty, mh_keys)],
                    "simhash_keys": [[] if e else r.tolist() for e, r in zip(empty, sh_keys)],
                    "simhash": sh,
                }
            )

    return docs.mapInPandas(gen, schema=_FEATURE_SCHEMA)


def block_keys(features: DataFrame) -> DataFrame:
    """Explode per-conversation band keys → ``(conv_id, modality, key)``.

    Both modalities are kept with provenance so recall can be attributed
    per-modality in metrics (BLINK reports per-retriever recall the same
    way, ``blink/candidate_retrieval/evaluator.py:29-90``).
    """
    mh = features.select(
        "conv_id",
        F.lit("minhash").alias("modality"),
        F.explode("minhash_keys").alias("key"),
        F.lit(None).cast("long").alias("sig"),
    )
    sh = features.select(
        "conv_id",
        F.lit("simhash").alias("modality"),
        F.explode("simhash_keys").alias("key"),
        F.col("simhash").alias("sig"),
    )
    return mh.unionByName(sh)


def cap_blocks(
    keys: DataFrame, max_block_size: int, key_cols: tuple[str, ...] = ("modality", "key")
) -> tuple[DataFrame, DataFrame]:
    """Drop blocking keys whose block exceeds the cap (skew guard).

    Returns ``(kept_keys, dropped_key_stats)``; the latter is small (one
    row per dropped key with its ``block_size``). A hot key with B members
    would emit B² candidate pairs — at 10^12 turns a single boilerplate key
    could otherwise generate more pairs than the rest of the corpus combined.
    """
    sizes = keys.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("block_size"))
    dropped = sizes.where(F.col("block_size") > max_block_size)
    kept = keys.join(F.broadcast(dropped.select(*key_cols)), on=list(key_cols), how="left_anti")
    return kept, dropped


def candidate_pairs(
    features_old: DataFrame | None,
    features_new: DataFrame,
    cfg: BlockingConfig | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Equi-join on (modality, key) → canonical deduped candidate pairs with
    at least one NEW side: the one stage-1 pair generator. A batch run is
    the delta against an empty old side (``features_old=None``).

    The hot-block policy (``cfg.overflow``: :func:`cap_blocks` or
    ``skew.split_hot_blocks``) runs on the new ∪ old key table — the block
    sizes a batch run over the whole corpus would see. The left join side
    carries only new conversations; new×new rows are kept once
    (``conv_n < conv_o``), new×old rows in either order, so after
    ``(least, greatest)`` canonicalization every shared key contributes
    exactly one row per pair and the shared-band counts match a batch
    run's. Old×old pairs are never generated. Newness is a real column only
    when an old side exists; in a batch run it is ``F.lit(True)``, which
    Catalyst folds back to the plain ``conv_a < conv_b`` self-join.

    Canonicalization + one aggregation happen before the expensive stage-2
    scorer (dedup pushdown by construction — the reference equivalently
    filters gold-missing pairs before its cross-encoder,
    ``blink/crossencoder/data_process.py:89-112``). The capped key set
    feeds THREE subplans (size agg + both join sides), so it is persisted
    and appended to ``caches`` (if given) for the caller to release;
    ``ERPipeline`` wires this to ``PipelineResult.unpersist()``.
    """
    cfg = cfg or BlockingConfig()
    delta = features_old is not None
    keys_new = block_keys(features_new)
    keys, feats, is_new = keys_new, features_new.select("conv_id", "doc_head"), F.lit(True)
    if delta:
        keys = keys_new.withColumn("is_new", F.lit(True)).unionByName(
            block_keys(features_old).withColumn("is_new", F.lit(False))
        )
        feats = feats.unionByName(features_old.select("conv_id", "doc_head"))
        is_new = F.col("is_new")
    if cfg.overflow == "split":
        from blink_spark.operators import skew

        kept, _ = skew.split_hot_blocks(keys, cfg.max_block_size)
        join_cols = ["modality", "key", "salt"]
    else:
        kept, _ = cap_blocks(keys, cfg.max_block_size)
        join_cols = ["modality", "key"]
    kept = kept.persist()
    if caches is not None:
        caches.append(kept)

    a = kept.where(is_new).select(*join_cols, F.col("conv_id").alias("conv_n"), F.col("sig").alias("sig_n"))
    b = kept
    if delta:
        # prune the (old ∪ new) side to keys the DELTA carries before the
        # pair join shuffles it — otherwise every old key row is shuffled
        # to match nothing. A micro-batch's key set is small (~tens of band
        # keys per conv), so it broadcasts; in a batch run it would be the
        # whole key table, hence delta-only. Pruning after the hot-block
        # policy keeps the census batch-identical, and the uncapped new key
        # set is a superset of `a`'s keys — lossless.
        new_key_set = keys_new.select("modality", "key").dropDuplicates()
        b = b.join(F.broadcast(new_key_set), ["modality", "key"], "left_semi")
    b = b.select(
        *join_cols, F.col("conv_id").alias("conv_o"), F.col("sig").alias("sig_o"), is_new.alias("new_o")
    )
    new_o, conv_n, conv_o = F.col("new_o"), F.col("conv_n"), F.col("conv_o")
    # (least, greatest) written so it folds to (conv_n, conv_o) in a batch
    # run, where every kept row already has conv_n < conv_o
    n_first = new_o | (conv_n < conv_o)
    hamming_ok = (F.col("modality") != "simhash") | (
        F.bit_count(F.col("sig_n").bitwiseXOR(F.col("sig_o"))) <= cfg.sim_max_hamming
    )
    # ONE aggregation over (conv_a, conv_b) with per-modality conditional
    # counts — a per-(pair, modality) groupBy followed by a dedup would be
    # two shuffles of the pair stream for the same answer
    shared = (
        a.join(b, on=join_cols)
        .where(((~new_o & (conv_n != conv_o)) | (new_o & (conv_n < conv_o))) & hamming_ok)
        .groupBy(
            F.when(n_first, conv_n).otherwise(conv_o).alias("conv_a"),
            F.when(n_first, conv_o).otherwise(conv_n).alias("conv_b"),
        )
        .agg(
            F.sum(F.when(F.col("modality") == "minhash", 1).otherwise(0)).alias("mh_shared"),
            F.max(F.when(F.col("modality") == "simhash", 1).otherwise(0)).alias("sh_hit"),
        )
    )
    pairs = shared.where(
        (F.col("sh_hit") == 1) | (F.col("mh_shared") >= cfg.min_shared_minhash_bands)
    ).select("conv_a", "conv_b")
    if cfg.snm_window >= 2:
        # third modality (opt-in): sorted-neighborhood pairs catch the
        # low-Jaccard twins below the hash modalities' sensitivity floor.
        # The union corpus is ranked (the ordering a batch run would see)
        # and only pairs with ≥1 new side are kept: old×old pairs within
        # the new ranking's window were within the OLD ranking's window too
        # (inserting rows only pushes old rows apart), so the old run
        # already considered them.
        snm = snm_pairs_from_features(feats, cfg)
        if delta:
            new_ids = features_new.select("conv_id")
            snm = snm.join(
                F.broadcast(new_ids.withColumnRenamed("conv_id", "conv_a")), "conv_a", "left_semi"
            ).unionByName(
                snm.join(F.broadcast(new_ids.withColumnRenamed("conv_id", "conv_b")), "conv_b", "left_semi")
            )
        pairs = pairs.unionByName(snm).dropDuplicates()
    return pairs


def global_rank(
    df: DataFrame,
    order_cols: list,
    n_partitions: int | None = None,
) -> DataFrame:
    """Dense global row numbers over a total order, WITHOUT the classic
    single-partition global window (``Window.orderBy`` with no partitionBy
    funnels the whole table through one task — the textbook scale killer).

    Spark-first shape: ``repartitionByRange`` (the same range exchange a
    global sort-merge uses) → per-partition ``row_number`` (partitioned
    window, scale-safe) → add each partition's prefix-sum offset via a
    broadcast join. The only driver-side data is one row PER PARTITION
    (O(parts), like a broadcast dim) — never row data. The final rank is
    independent of where the range boundaries land (offsets are computed
    from actual partition counts), so output is deterministic at any
    parallelism — asserted in tests.

    ``order_cols`` must be a total order (callers append the id column as
    tie-break); equal keys compare identically against every range
    boundary, so a total order also makes the partitioning unambiguous.

    The range-partitioned frame is ``localCheckpoint``-ed (eager) before
    anything reads it: ``repartitionByRange`` picks its boundaries by
    reservoir-sampling with a nondeterministic seed, so the sizes job and
    the final join — two separate jobs — could otherwise land different
    boundaries once an input partition exceeds the full-sample threshold,
    desynchronizing the broadcast offsets from the join-side partitioning
    (duplicated/skipped ranks). Freezing ONE evaluation makes both
    consumers see identical ``_pid`` assignments at any scale. Same
    mechanism the connected-components loop uses per round
    (clustering.py); unlike ``persist`` there is no CacheManager entry to
    leak — the blocks are released with the RDD.
    """
    spark = df.sparkSession
    n_parts = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    s = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = s.withColumn("_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols)))
    sizes = sorted(
        (int(r["_pid"]), int(r["n"]))
        for r in s.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in sizes:
        offsets.append((pid, acc))
        acc += n
    off = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        local.join(F.broadcast(off), "_pid")
        .withColumn("rn", (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_cols: list,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95 — the
    classic sort-based blocking family, complementing this module's
    hash-based MinHash-LSH and SimHash modalities): sort the corpus by a
    blocking key, slide a window of ``window`` records over the sorted
    order, and emit every pair that co-occurs in some window — i.e. all
    pairs within rank distance ``window - 1``.

    Scale shape: :func:`global_rank` (range exchange + partitioned window +
    broadcast offsets) → explode each row into its ``window - 1`` forward
    rank keys → ONE equi-join on rank. Pair volume is exactly
    ``Σ_{d=1..w-1} (n - d)`` — linear in corpus size by construction, the
    property that makes SNM attractive when hash blocking over-generates.
    A rank equi-join beats the naive ``b.rn BETWEEN a.rn+1 AND a.rn+w-1``
    range join, which Spark can only execute as a broadcast-nested-loop.

    Returns ``(id_a, id_b, dist)`` where ``id_a`` precedes ``id_b`` in the
    sort order and ``dist`` is their rank distance (1 ≤ dist < window).
    """
    if window < 2:
        raise ValueError(
            f"window must be >= 2 (a window of {window} pairs nothing); "
            "F.sequence(rn+1, rn+window-1) would otherwise run DESCENDING "
            "and emit self-pairs"
        )
    keyed = df.select(
        F.col(id_col),
        *[
            (F.col(k) if isinstance(k, str) else k).alias(f"_k{i}")
            for i, k in enumerate(key_cols)
        ],
    )
    ranked = global_rank(
        keyed, [f"_k{i}" for i in range(len(key_cols))] + [id_col]
    ).select(F.col(id_col).alias("id_a"), "rn")
    fwd = ranked.select(
        "id_a",
        F.col("rn").alias("rn_a"),
        F.explode(F.sequence(F.col("rn") + 1, F.col("rn") + (window - 1))).alias("rn"),
    )
    return (
        fwd.join(ranked.select(F.col("id_a").alias("id_b"), "rn"), "rn")
        .select("id_a", "id_b", (F.col("rn") - F.col("rn_a")).cast("long").alias("dist"))
    )


def snm_pairs_from_features(features: DataFrame, cfg: BlockingConfig) -> DataFrame:
    """The optional third blocking modality: sorted-neighborhood pairs over
    the feature table's ``doc_head`` prefix, canonicalized to the same
    ``(conv_a < conv_b)`` shape :func:`candidate_pairs` emits so it can
    union + dedup them.

    Empty documents are excluded for the same reason they emit no hash
    keys (compute_features): every empty doc_head sorts identically and a
    window over them would pair unrelated empty conversations.
    """
    key = F.substring(F.col("doc_head"), 1, cfg.snm_key_chars)
    pairs = sorted_neighborhood_pairs(
        features.select("conv_id", "doc_head").where(F.length("doc_head") > 0),
        [key],
        id_col="conv_id",
        window=cfg.snm_window,
    )
    return pairs.select(
        F.least("id_a", "id_b").alias("conv_a"), F.greatest("id_a", "id_b").alias("conv_b")
    )


def sorted_neighborhood_pairs_multikey(
    df: DataFrame,
    key_passes: list,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking (Hernández & Stolfo,
    SIGMOD'95 §4, "multi-pass approach"): run :func:`sorted_neighborhood_pairs`
    once per key ordering in ``key_passes`` and union the pair sets. A
    single sort key misses true matches that the key scatters (a typo in
    the leading characters moves a record arbitrarily far in the sorted
    order); several cheap passes with INDEPENDENT keys recover them —
    the paper shows multiple small-window passes beat one large-window
    pass at equal cost.

    Scale shape: each pass is the linear-pair-volume SNM plan (range
    exchange + partitioned row_number + rank equi-join); the union adds
    one dedup shuffle over ``Σ passes × window × n`` pairs — still linear
    in corpus size. Pairs are canonicalized ``(least, greatest)`` before
    the dedup because two passes may order the same pair differently.

    Returns ``(id_a, id_b, n_passes)`` with ``id_a < id_b`` and
    ``n_passes`` = how many passes emitted the pair (an agreement signal
    downstream scorers can weight, analogous to ``mh_shared`` in
    :func:`candidate_pairs`).
    """
    if not key_passes:
        raise ValueError("at least one key pass required")
    per_pass = []
    for pi, key_cols in enumerate(key_passes):
        p = sorted_neighborhood_pairs(df, key_cols, id_col=id_col, window=window)
        per_pass.append(
            p.select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.lit(pi).alias("_pass"),
            )
        )
    allp = per_pass[0]
    for p in per_pass[1:]:
        allp = allp.unionByName(p)
    # ranks are unique within a pass, so each pass emits a pair at most
    # once; countDistinct(_pass) makes n_passes robust to that invariant
    # ever changing (e.g. a salted variant emitting duplicates)
    return allp.groupBy("id_a", "id_b").agg(
        F.countDistinct("_pass").cast("long").alias("n_passes")
    )
