"""Offline (no-Spark) blocking-recall + scorer sweep across synth seeds.

Simulates stage 1+2 in pure numpy over many seeds to verify the F1 gate is
robust, not seed-lucky. Run: python scripts/tune_blocking.py [n_seeds]
"""

from __future__ import annotations

import sys

import numpy as np

from blink_spark import synth
from blink_spark.functions import hashing as H
from blink_spark.functions import strsim
from blink_spark.operators.blocking import BlockingConfig, _HEAD_CHARS
from blink_spark.operators.scoring import ScoringConfig


def simulate(seed: int, n_conv: int = 100, bcfg: BlockingConfig | None = None, scfg: ScoringConfig | None = None):
    bcfg = bcfg or BlockingConfig()
    scfg = scfg or ScoringConfig()
    t, labels = synth.generate_pandas(synth.SynthConfig(n_conversations=n_conv, seed=seed))
    docs = {}
    nturns = {}
    for cid, g in t.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        docs[cid] = " ␞ ".join(" ".join(x.lower().split()) for x in g.text)
        nturns[cid] = len(g)
    cids = sorted(docs)
    texts = [docs[c] for c in cids]
    shingle_sets = [H.token_shingles(x.split(), k=bcfg.shingle_k) for x in texts]
    # stage 2 ships 32-bit truncations (operators/blocking.py) — score
    # with the same sets the production scorer sees
    shingle_sets32 = [np.unique(s.astype(np.uint32)).astype(np.uint64) for s in shingle_sets]
    mh = H.MinHasher(bcfg.num_perm, seed=bcfg.seed)
    sigs = mh.signatures(shingle_sets)
    mkeys = mh.band_keys(sigs, bcfg.minhash_bands)
    sh = H.simhash64([H.char_ngrams_hashed(x, bcfg.char_ngram) for x in texts])
    skeys = H.simhash_band_keys(sh, bcfg.simhash_bands)
    mh_sets = {c: set(mkeys[i].tolist()) for i, c in enumerate(cids)}
    sh_sets = {c: set(skeys[i].tolist()) for i, c in enumerate(cids)}
    sh_u64 = sh.view(np.uint64)
    idx = {c: i for i, c in enumerate(cids)}
    # mirror of blocking.snm_pairs_from_features: rank non-empty docs by the
    # doc_head prefix (tie-break conv_id), pair within snm_window
    snm_rank = {}
    if bcfg.snm_window >= 2:
        head = {c: docs[c][:_HEAD_CHARS] for c in cids}
        order = sorted((c for c in cids if head[c]), key=lambda c: (head[c][: bcfg.snm_key_chars], c))
        snm_rank = {c: i for i, c in enumerate(order)}

    def blocked_pair(a: str, b: str) -> bool:
        """Mirror of blocking.candidate_pairs (with its opt-in SNM leg):
        ≥min_shared MinHash bands OR (SimHash slice-pair key AND full-64-bit
        hamming ≤ sim_max_hamming) OR rank distance < snm_window."""
        if len(mh_sets[a] & mh_sets[b]) >= bcfg.min_shared_minhash_bands:
            return True
        if bool(sh_sets[a] & sh_sets[b]) and (
            bin(int(sh_u64[idx[a]]) ^ int(sh_u64[idx[b]])).count("1") <= bcfg.sim_max_hamming
        ):
            return True
        return (
            a in snm_rank
            and b in snm_rank
            and abs(snm_rank[a] - snm_rank[b]) < bcfg.snm_window
        )

    gold = labels[labels.is_match == 1]
    miss_block, miss_score, scores_pos = [], [], []
    for a, b in zip(gold.conv_a, gold.conv_b):
        blocked = blocked_pair(a, b)
        ia, ib = idx[a], idx[b]
        jac = strsim.jaccard(shingle_sets32[ia], shingle_sets32[ib])
        ha, hb = texts[ia][:_HEAD_CHARS], texts[ib][:_HEAD_CHARS]
        s = (
            scfg.w_jaccard * jac
            + scfg.w_lev * strsim.levenshtein_ratio(ha, hb)
            + scfg.w_jw * strsim.jaro_winkler(ha[:64], hb[:64])
            + scfg.w_cosine * strsim.cosine(
                H.hashed_ngram_vector(texts[ia], bcfg.vec_dim), H.hashed_ngram_vector(texts[ib], bcfg.vec_dim)
            )
            + scfg.w_turns * min(nturns[a], nturns[b]) / max(nturns[a], nturns[b], 1)
        )
        scores_pos.append(s)
        if not blocked:
            miss_block.append((a, b, round(jac, 3), round(s, 3)))
        elif s < scfg.threshold:
            miss_score.append((a, b, round(jac, 3), round(s, 3)))

    neg = labels[labels.is_match == 0]
    fp = []
    for a, b in zip(neg.conv_a, neg.conv_b):
        if blocked_pair(a, b):
            ia, ib = idx[a], idx[b]
            jac = strsim.jaccard(shingle_sets32[ia], shingle_sets32[ib])
            ha, hb = texts[ia][:_HEAD_CHARS], texts[ib][:_HEAD_CHARS]
            s = (
                scfg.w_jaccard * jac
                + scfg.w_lev * strsim.levenshtein_ratio(ha, hb)
                + scfg.w_jw * strsim.jaro_winkler(ha[:64], hb[:64])
                + scfg.w_cosine * strsim.cosine(
                    H.hashed_ngram_vector(texts[ia], bcfg.vec_dim), H.hashed_ngram_vector(texts[ib], bcfg.vec_dim)
                )
                + scfg.w_turns * min(nturns[a], nturns[b]) / max(nturns[a], nturns[b], 1)
            )
            if s >= scfg.threshold:
                fp.append((a, b, round(s, 3)))
    return {
        "seed": seed,
        "gold": len(gold),
        "block_miss": miss_block,
        "score_miss": miss_score,
        "neg_fp": fp,
        "min_pos_score": round(min(scores_pos), 3) if scores_pos else None,
    }


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--snm"]
    n_seeds = int(args[0]) if args else 10
    cfg = BlockingConfig(snm_window=3) if "--snm" in sys.argv else None
    worst = 1.0
    for seed in range(1, n_seeds + 1):
        r = simulate(seed, bcfg=cfg)
        fn = len(r["block_miss"]) + len(r["score_miss"])
        tp = r["gold"] - fn
        fp = len(r["neg_fp"])
        p = tp / (tp + fp) if tp + fp else 1.0
        rec = tp / r["gold"]
        f1 = 2 * p * rec / (p + rec)
        worst = min(worst, f1)
        print(
            f"seed={seed:3d} gold={r['gold']:4d} block_miss={len(r['block_miss'])} "
            f"score_miss={len(r['score_miss'])} fp={fp} minpos={r['min_pos_score']} f1~={f1:.4f}"
        )
        for m in (r["block_miss"] + r["score_miss"])[:4]:
            print("   miss:", m)
    print("worst f1 ~=", round(worst, 4))
