"""Text-analysis operators over document corpora: language ID, quality
scoring, token counting, fingerprinting.

Column-expression layer over :mod:`blink_spark.functions.text` — everything
stays inside whole-stage codegen. Reference analogs: ``num_tokens = len(
text.split(' '))`` (``process_wiki_extractor_output_full.py:52-94``),
min-token / disambiguation filters (``data_ingestion.py:119-155``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions import text as X


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg word len) per document."""
    t = X.canonicalize(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        X.token_count(F.col(text_col)).alias("n_tokens"),
        F.length(t).alias("n_chars"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality signals + a blended score in [0,1]."""
    feats = X.quality_features(F.col(text_col))
    score = (
        0.35 * (1.0 - feats["punct_ratio"])
        + 0.25 * F.least(feats["stopword_ratio"] * 4.0, F.lit(1.0))
        + 0.2 * feats["alpha_ratio"]
        + 0.2 * F.least(feats["n_tokens"] / 100.0, F.lit(1.0))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(feats["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(feats["mean_word_len"], 4).alias("mean_word_len"),
        F.round(score, 4).alias("quality"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID per document (heuristic n-gram voting)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        X.lang_id_heuristic(F.col(text_col)).alias("lang_pred"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stable 64-bit + md5 fingerprints of canonicalized text."""
    t = X.canonicalize(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        X.fingerprint(F.col(text_col)).alias("fp64"),
        F.md5(t).alias("fp_md5"),
    )
