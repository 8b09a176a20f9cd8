"""Caption exact-substring duplicate matching: catches captions that are
exact substrings of one another, which signature hashing misses.

No reference analogue (the reference matches exact chunks only) —
spec'd in SURVEY.md §2.6.

Dataflow:
1. Blocking — JVM-side: build word k-grams with ``textops.word_grams``,
   hash each gram with ``textops.md5_long``
   (``conv(substring(md5(g),1,15),16,10)``, identical to the oracle's
   ``core.hashes.gram_hash`` and DuckDB's hex-cast — portable), explode →
   (bucket, image_id). A caption that is a substring of another shares
   *all* of its word k-grams with the host, so any shared-gram bucket is a
   complete blocking scheme for whole-word-aligned substrings.
2. Candidate pairs — the same salted/capped anchor-star generator as the
   MinHash LSH path (operators/lsh.anchor_star_pairs).
3. Verification — JVM-side: captions join back once per pair side and
   ``contains`` keeps pairs where one caption holds the other
   (``substring_pairs``, shared with the doc-side queries in textops).

Scale note: gram explosion multiplies caption rows by ≤ (tokens-k+1);
at 10^12 rows that blocking-key volume is tokens× the corpus, so the
engine path blocks on only the ``cfg.caption_max_grams`` smallest gram
hashes per caption BY DEFAULT (the numpy oracle applies the identical
bottom-m rule, keeping parity exact). A contained caption shares all its
grams with its host, so the sample loses a pair only when the host's
bottom-m misses every gram of the substring — ~0 at realistic caption
lengths (test_caption_bounded_recall plants long-host containments and
requires recall ≥ 0.99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mfdedup_spark.config import SignatureConfig
from mfdedup_spark.operators.lsh import anchor_star_pairs


def caption_gram_buckets(
    images: DataFrame, cfg: SignatureConfig, max_grams_per_caption: int | None = None
) -> DataFrame:
    """images → (bucket, image_id): one row per distinct word-k-gram.

    Shuffle-free: dedup, ordering and the bottom-m bound all happen
    INSIDE the per-caption array (array_distinct → array_sort → slice)
    before the explode, so blocking keys reach the pair generator without
    a distinct or window exchange — at any m, bounded or not. Identical
    to the oracle's ``sorted(set(hashes))[:m]``."""
    # function-local: textops imports substring_pairs from this module
    from mfdedup_spark.textops import md5_long, word_grams

    grams = word_grams(F.col("caption"), cfg.caption_gram_k)
    hashes = F.array_sort(F.array_distinct(F.transform(grams, md5_long)))
    if max_grams_per_caption is not None:
        hashes = F.slice(hashes, 1, max_grams_per_caption)
    return images.select("image_id", F.explode(hashes).alias("bucket")).select(
        "image_id", "bucket"
    )


def substring_pairs(
    pairs: DataFrame, texts: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Keep the candidate pairs ({id_col}_a, {id_col}_b) whose texts are
    distinct and one contains the other. The candidates carry ids only;
    the texts join back once per side, so no text payload rides the
    candidate shuffle. ``contains`` compares UTF-8 bytes, which on valid
    UTF-8 is the same as code-point containment (Python ``in``, the
    oracle's check)."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    ta = texts.select(F.col(id_col).alias(a), F.col(text_col).alias("_text_a"))
    tb = texts.select(F.col(id_col).alias(b), F.col(text_col).alias("_text_b"))
    return (
        pairs.join(ta, a)
        .join(tb, b)
        # identical texts don't establish a dup by themselves (oracle rule)
        .where(
            (F.col("_text_a") != F.col("_text_b"))
            & (
                F.contains(F.col("_text_b"), F.col("_text_a"))
                | F.contains(F.col("_text_a"), F.col("_text_b"))
            )
        )
        .select(a, b)
    )


def caption_pairs(
    images: DataFrame, cfg: SignatureConfig, pin: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """→ (verified caption pairs, overflow bucket stats). Blocking is
    bounded to cfg.caption_max_grams keys per caption by default
    (VERDICT r02 wrong #6: unbounded gram volume at web scale); the
    numpy oracle applies the identical bottom-m rule."""
    buckets = caption_gram_buckets(
        images, cfg, max_grams_per_caption=cfg.caption_max_grams
    )
    cand, stats = anchor_star_pairs(
        buckets, cfg, key_cols=["bucket"], id_col="image_id", pin=pin
    )
    verified = substring_pairs(cand, images, "image_id", "caption").select(
        "image_id_a",
        "image_id_b",
        F.lit("caption").alias("method"),
        F.lit(1.0).alias("score"),
    )
    return verified, stats
