"""Text/document operators — the training-data-pipeline extras over the
driver's ``documents`` table, built to be *portably deterministic*: every
hash here is modular arithmetic over md5 prefixes, so the exact same
values are computable in Spark (JVM, whole-stage codegen), in DuckDB (the
driver's oracle), and in numpy. That is what lets these register in
``__spark_entry__.py`` with full value-hash oracles instead of weaker
rows-only checks.

Operators:
- word-k-gram shingling + 64-perm MinHash + LSH band buckets (the text
  twin of the image signature stage, functions/signatures.py)
- exact dedup by text hash (reference analogue: exact-fp dedup,
  /root/reference/MetadataManager/MetadataManager.h:60-77)
- LSH pair generation + n-gram Jaccard verification
- language-ID (stopword-marker heuristic), quality scoring, token
  counting (BPE-ish regex), rolling-hash document fingerprinting
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mfdedup_spark.config import derive_seed
from mfdedup_spark.operators.caption_match import substring_pairs

#: Mersenne prime 2^31-1 — all modular hashing stays within int64 under
#: multiplication by coefficients < P, so Spark and DuckDB (which errors on
#: int64 overflow rather than wrapping) compute identical values.
P = 2147483647
NUM_PERMS = 64
GRAM_K = 3
DOC_BANDS = 8
DOC_ROWS = 8

#: permutation coefficients, derived from the named master seed
#: (config.derive_seed — the Gear.h:14-30 precedent)
PERM_A = [derive_seed(f"doc-minhash-a-{i}") % (P - 1) + 1 for i in range(NUM_PERMS)]
PERM_B = [derive_seed(f"doc-minhash-b-{i}") % P for i in range(NUM_PERMS)]


# ------------------------------------------------------------------ helpers
def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical to
    DuckDB's ``('0x'||substr(md5(x),1,15))::bigint``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of md5_long."""
    return f"('0x' || substr(md5({expr}), 1, 15))::bigint"


def word_grams(text: Column, k: int = GRAM_K) -> Column:
    """Array of word k-grams (space-joined); one whole-text gram when the
    text has fewer than k tokens. Matches the DuckDB expression in
    word_grams_sql."""
    toks = F.split(text, " ")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )


def word_grams_sql(expr: str, k: int = GRAM_K) -> str:
    """DuckDB twin: 1-based inclusive slicing t[i : i+k-1] == Spark
    slice(t, i, k)."""
    return (
        f"list_transform(range(1, greatest(len(string_split({expr}, ' ')) - {k - 1}, 1) + 1), "
        f"i -> array_to_string((string_split({expr}, ' '))[i : i + {k - 1}], ' '))"
    )


def gram_hashes(text: Column, k: int = GRAM_K) -> Column:
    """Array of gram hashes in [0, P)."""
    return F.transform(word_grams(text, k), lambda g: md5_long(g) % F.lit(P))


def gram_hashes_sql(expr: str, k: int = GRAM_K) -> str:
    return (
        f"list_transform({word_grams_sql(expr, k)}, "
        f"g -> {md5_long_sql('g')} % {P})"
    )


def minhash_cols(gh: Column) -> list[Column]:
    """64 MinHash components as individual long columns mh0..mh63."""
    return [
        F.array_min(
            F.transform(gh, lambda h: (F.lit(PERM_A[i]) * h + F.lit(PERM_B[i])) % F.lit(P))
        ).alias(f"mh{i}")
        for i in range(NUM_PERMS)
    ]


def minhash_sql(gh_expr: str, i: int) -> str:
    return (
        f"list_min(list_transform({gh_expr}, "
        f"h -> ({PERM_A[i]} * h + {PERM_B[i]}) % {P}))"
    )


def band_bucket(mh: list[Column], band: int, rows: int = DOC_ROWS) -> Column:
    """Fold one band's rows into a 60-bit bucket id via md5 of the joined
    component string (portable to DuckDB verbatim)."""
    joined = F.concat_ws("-", *mh[band * rows : (band + 1) * rows])
    return md5_long(joined)


def band_bucket_sql(mh_exprs: list[str], band: int, rows: int = DOC_ROWS) -> str:
    joined = ", ".join(mh_exprs[band * rows : (band + 1) * rows])
    return md5_long_sql(f"concat_ws('-', {joined})")


# ------------------------------------------------------------- operators
def _doc_grams(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, g): one row per distinct word-gram hash."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(gram_hashes(F.col("text")))).alias("g")
    )


def doc_signatures(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, mh0..mh63) — JVM-side MinHash, no UDFs."""
    gh = gram_hashes(F.col("text")).alias("gh")
    return docs.select("doc_id", gh).select("doc_id", *minhash_cols(F.col("gh")))


def doc_band_buckets(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, band, bucket) exploded LSH band buckets."""
    sig = doc_signatures(docs)
    mh = [F.col(f"mh{i}") for i in range(NUM_PERMS)]
    bands = F.array(
        *[band_bucket(mh, b) for b in range(DOC_BANDS)]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bucket"))


def _bucket_pairs(rows: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """All distinct unordered pairs (a < b) of ids sharing a bucket key.

    r06 (guide §2.3/§2.4): one aggregation pass instead of a bucket-keyed
    self-join — the join evaluated the ENTIRE upstream subtree twice
    (once per side; Spark shares no common subexpressions across join
    children), so for MinHash/SimHash band inputs every md5-gram and
    64-perm MinHash was computed twice. collect_set + sort_array + a
    strictly-after slice-explode emits the identical pair set from one
    pass. Per-bucket work stays O(n²) in pair OUTPUT exactly like the
    self-join (same rows, same single-reducer-per-key placement), and
    this stays the oracle-exact small-scale twin — the capped anchor-star
    generators remain the production path for hot buckets."""
    ids = (
        rows.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    a = ids.select("_ids", F.posexplode("_ids").alias("_i", f"{id_col}_a"))
    return (
        a.select(
            f"{id_col}_a",
            F.explode(
                F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))
            ).alias(f"{id_col}_b"),
        )
        .distinct()
    )


def doc_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band bucket."""
    return _bucket_pairs(doc_band_buckets(docs), ["band", "bucket"], "doc_id")


#: production-path skew guards for the doc-side pair generators (the
#: uncapped versions above stay as oracle-exact twins; these are what a
#: 100-TB run uses — per-bucket work O(cap), drops logged, never silent)
DOC_PAIR_CAP = 4
DOC_PAIR_SALT = 4


def doc_lsh_pairs_capped(
    docs: DataFrame, cap: int = DOC_PAIR_CAP, salt: int = DOC_PAIR_SALT
) -> tuple[DataFrame, DataFrame]:
    """Capped anchor-star LSH pairs over documents — the scale path twin
    of doc_lsh_pairs: within each (band, bucket) only the first ``cap``
    doc_ids participate and edges go (anchor → member), so per-bucket work
    is O(cap) instead of O(n²) (VERDICT r01 wrong #5). Returns
    (pairs(doc_id_a, doc_id_b), drop_log)."""
    from mfdedup_spark.operators.lsh import capped_pairs

    return capped_pairs(
        doc_band_buckets(docs), cap, salt,
        key_cols=("band", "bucket"), id_col="doc_id",
    )


def doc_simhash_band_pairs_capped(
    docs: DataFrame,
    hamming_max: int = 8,
    cap: int = DOC_PAIR_CAP,
    salt: int = DOC_PAIR_SALT,
) -> tuple[DataFrame, DataFrame]:
    """Capped anchor-star SimHash band pairs + hamming verification: ids
    flow through the capped generator (no payloads), simhash values join
    back per side only for the surviving pairs."""
    from mfdedup_spark.operators.lsh import capped_pairs

    bands = _doc_simhash_bands(docs)
    # r06: the 8-byte simhash rides the capped generator (carry=) so
    # verification needs no sa/sb join-backs — those re-evaluated the
    # whole SimHash aggregation subtree once per side (three evaluations
    # total including the band source)
    pairs, stats = capped_pairs(
        bands, cap, salt, key_cols=("band", "bucket"), id_col="doc_id",
        carry=("simhash",),
    )
    verified = (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_max)
    )
    return verified, stats


def doc_caption_substring_pairs_capped(
    docs: DataFrame, cap: int = DOC_PAIR_CAP, salt: int = DOC_PAIR_SALT
) -> tuple[DataFrame, DataFrame]:
    """Capped substring-containment pairs: candidate ids come from the
    capped anchor-star generator over shared-gram buckets (ids only — no
    text payloads in the distinct/shuffle), texts join once per side for
    the surviving candidates."""
    from mfdedup_spark.operators.lsh import capped_pairs

    grams = _doc_grams(docs)
    pairs, stats = capped_pairs(grams, cap, salt, key_cols=("g",), id_col="doc_id")
    return substring_pairs(pairs, docs, "doc_id", "text"), stats


def doc_exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups by text hash: (fp, canonical_id, n_copies)."""
    return (
        docs.select(md5_long(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _ngram_jaccard_over(docs: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard verification of the given candidate pairs.
    Output (doc_id_a, doc_id_b, n_common, jaccard).

    r06 (guide §2.3/§2.4): the intersection rides the per-doc gram ARRAY
    — two metadata joins + one array_intersect per candidate pair —
    instead of the former explode → join-on-(id, gram) → count →
    two size-joins cascade, which scanned `documents` four times (each
    recomputing every md5 gram hash) and paid two aggregation exchanges.
    n_common = |A ∩ B| over the distinct gram sets is identical; the
    n_common ≥ 1 guard preserves the old inner-join-on-gram semantics
    (a zero-overlap candidate never surfaced) for any threshold."""
    garr = docs.select(
        "doc_id", F.array_distinct(gram_hashes(F.col("text"))).alias("grams")
    )
    ga = garr.select(
        F.col("doc_id").alias("doc_id_a"), F.col("grams").alias("grams_a")
    )
    gb = garr.select(
        F.col("doc_id").alias("doc_id_b"), F.col("grams").alias("grams_b")
    )
    n_common = F.size(F.array_intersect("grams_a", "grams_b")).cast("long")
    return (
        pairs.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            n_common.alias("n_common"),
            F.size("grams_a").cast("long").alias("na"),
            F.size("grams_b").cast("long").alias("nb"),
        )
        .where(F.col("n_common") >= 1)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "n_common", "jaccard")
    )


def doc_ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact n-gram Jaccard over UNCAPPED LSH candidate pairs — the
    oracle-exact twin; production uses doc_ngram_jaccard_pairs_capped."""
    return _ngram_jaccard_over(docs, doc_lsh_pairs(docs), threshold)


def doc_ngram_jaccard_pairs_capped(
    docs: DataFrame,
    threshold: float = 0.2,
    cap: int = DOC_PAIR_CAP,
    salt: int = DOC_PAIR_SALT,
) -> tuple[DataFrame, DataFrame]:
    """Capped+verified n-gram Jaccard — the production path (VERDICT r02
    wrong #4: the verifier was only wired to the O(n²)/bucket uncapped
    source): candidates come from the salted capped anchor-star generator,
    the same intersection aggregation verifies them. Returns
    (pairs(doc_id_a, doc_id_b, n_common, jaccard), drop_log)."""
    pairs, stats = doc_lsh_pairs_capped(docs, cap, salt)
    return _ngram_jaccard_over(docs, pairs, threshold), stats


# ----------------------------------------------------------- text analysis
#: stopword markers per language for the n-gram/stopword language-ID
#: heuristic; counts are exact substring occurrences so both engines agree
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "que", "de"],
    "zh": ["de", "shi", "le"],
}

TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def doc_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), F.lit(0))
        ).alias("n_re_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


def doc_quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length, mean word length ×100 (int), stopword hits,
    digit count — integer outputs so the oracle hash is exact."""
    toks = F.split(F.col("text"), " ")
    stop_hits = sum(
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(f" {w} "), F.lit(""))))
            / F.lit(len(w) + 2)
        ).cast("long")
        for w in ("the", "and", "de", "la")
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_q"),
        F.size(toks).alias("n_tokens"),
        F.floor(
            F.lit(100) * F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks)
        ).cast("long").alias("mean_token_len_x100"),
        stop_hits.alias("stopword_hits"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), F.lit(0))).alias(
            "n_digits"
        ),
    )


def doc_lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: score = Σ occurrences of each marker
    (space-padded), guess = argmax with deterministic tie-break by
    language code."""
    def score(lang: str) -> Column:
        padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
        s = None
        for w in LANG_MARKERS[lang]:
            occ = (
                (F.length(padded) - F.length(F.replace(padded, F.lit(f" {w} "), F.lit(""))))
                / F.lit(len(w) + 2)
            ).cast("long")
            s = occ if s is None else s + occ
        return s

    scored = docs.select(
        "doc_id",
        *[score(lang).alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)])
    guess = F.coalesce(
        *[
            F.when(F.col(f"score_{lang}") == best, F.lit(lang))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    return scored.select("doc_id", guess.alias("lang_guess"))


SIMHASH_BITS = 60  # gram hashes carry 60 bits (15 hex chars of md5)


def doc_simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over distinct word-gram hashes, pure JVM
    expressions: bit i set iff more grams have bit i than not. Portable to
    DuckDB verbatim (shift/and/sum/case)."""
    grams = _doc_grams(docs)
    votes = grams.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("g"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def _doc_simhash_bands(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, simhash, band, bucket) over 4 × 15-bit simhash
    bands; posexplode keeps the band index so buckets of different bands
    don't mix."""
    return doc_simhash(docs).select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * 15).bitwiseAND(
                        F.lit((1 << 15) - 1)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )


def doc_simhash_sql() -> str:
    votes = ", ".join(
        f"cast(sum(case when (g >> {i}) & 1 = 1 then 1 else -1 end) as bigint) as v{i}"
        for i in range(SIMHASH_BITS)
    )
    fold = " + ".join(
        f"case when v{i} > 0 then cast({1 << i} as bigint) else 0 end"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        with grams as (
          select doc_id, unnest(list_distinct({gram_hashes_sql('text')})) as g
          from documents
        ),
        votes as (select doc_id, {votes} from grams group by doc_id)
        select doc_id, {fold} as simhash from votes
    """


def doc_simhash_band_pairs(docs: DataFrame, hamming_max: int = 8) -> DataFrame:
    """SimHash near-dup pairs: block on 4 × 15-bit simhash bands, verify
    hamming ≤ threshold with bit_count(xor) — the text twin of the image
    SimHash path."""
    bands = _doc_simhash_bands(docs)
    # r06: pair generation via one collect-per-bucket pass carrying
    # (doc_id, simhash) structs — the former bucket self-join evaluated
    # the whole SimHash aggregation subtree twice (once per side) and
    # needed no join-back only because both sides already paid it.
    # sort_array over structs orders by doc_id (unique), so the
    # strictly-after slice emits exactly the a < b pairs; hamming is
    # computed from the struct fields directly.
    ids = (
        bands.groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("doc_id", "simhash"))
            ).alias("_ids")
        )
        .where(F.size("_ids") > 1)
    )
    a = ids.select("_ids", F.posexplode("_ids").alias("_i", "_sa"))
    return (
        a.select(
            "_sa",
            F.explode(
                F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))
            ).alias("_sb"),
        )
        .select(
            F.col("_sa.doc_id").alias("doc_id_a"),
            F.col("_sb.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("_sa.simhash").bitwiseXOR(F.col("_sb.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


def doc_caption_substring_pairs(docs: DataFrame) -> DataFrame:
    """Exact-substring containment pairs over shared-gram candidates —
    the uncapped, SQL-checkable twin of the image caption matcher (same
    verification, ``substring_pairs``)."""
    grams = _doc_grams(docs)
    # r06: shared-gram blocking through the one-pass collect generator —
    # the former self-join on g recomputed the exploded gram table for
    # both sides (two full md5-gram scans of documents)
    cand = _bucket_pairs(grams, ["g"], "doc_id")
    return substring_pairs(cand, docs, "doc_id", "text")


# ----------------------------------------------------- chunking (T2 / T3)
#: 256-entry seeded gear table for text CDC (reference: Gear.h:14-30);
#: 20-bit entries keep every window sum far inside int64 in both engines
DOC_GEAR = [derive_seed(f"doc-gear-{b}") % (1 << 20) for b in range(256)]
DOC_CDC_WINDOW = 20   # rolling window width (chars)
DOC_CDC_DIVISOR = 64  # cut when window hash % divisor == 0 (expected ~64-char chunks)
DOC_FIXED_SIZE = 64   # fixed-chunking stride (T3)


def doc_cdc_chunks(docs: DataFrame) -> DataFrame:
    """T2: content-defined chunking of document text with a gear-style
    rolling window hash — the portable twin of the engine's selectable
    chunking (--ChunkingMethod, ChunkingPipeline.h:17-20; Rabin at
    :161-271). Boundary rule: cut after position i when the sum of seeded
    gear values over the trailing ``DOC_CDC_WINDOW`` chars ≡ 0 mod
    ``DOC_CDC_DIVISOR`` (an unweighted window sum rather than the shifted
    gear recurrence, so DuckDB can replay it exactly with a window sum —
    the engine's image path uses the true shifted gear, byte_shingles_gear).
    Content-defined: an edit moves boundaries only within one window.

    Output (doc_id, chunk_idx, chunk_len, chunk_fp) — all computed inside
    one narrow array expression, no explode shuffle.
    """
    # each array is STAGED as its own projected column: referencing a
    # named column inside the next transform() evaluates it once per row,
    # whereas inlining the expression would re-evaluate it per element
    # (an accidental O(n²·lut) blowup)
    # empty texts must yield zero chunks: sequence(1, 0) would produce the
    # DESCENDING [1, 0] and emit phantom rows the DuckDB twin (range(1,1)
    # = empty) doesn't (ADVICE r02 low #2)
    docs = docs.where(F.length("text") > 0)
    g_arr = F.array(*[F.lit(v).cast("long") for v in DOC_GEAR])
    n = F.length("text")
    w = F.lit(DOC_CDC_WINDOW)
    gvals = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.element_at(
            g_arr, F.pmod(F.ascii(F.substring(F.col("text"), i, F.lit(1))), F.lit(256)) + 1
        ),
    )
    staged = docs.select("doc_id", "text", gvals.alias("_gv"))
    h = F.transform(
        F.sequence(F.lit(1), F.size("_gv")),
        lambda i: F.aggregate(
            F.slice(F.col("_gv"), F.greatest(i - w + 1, F.lit(1)), F.least(i, w)),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
    )
    staged = staged.select("doc_id", "text", h.alias("_h"))
    cuts = F.filter(
        F.sequence(F.lit(1), F.size("_h")),
        lambda i: (F.element_at(F.col("_h"), i) % DOC_CDC_DIVISOR == 0)
        | (i == F.size("_h")),
    )
    staged = staged.select("doc_id", "text", cuts.alias("_cuts"))
    starts = F.concat(
        F.array(F.lit(0)), F.slice(F.col("_cuts"), 1, F.size("_cuts") - 1)
    )
    chunks = F.zip_with(
        starts, F.col("_cuts"),
        lambda s, e: F.substring(F.col("text"), s + 1, e - s),
    )
    return staged.select(
        "doc_id", F.posexplode(chunks).alias("idx", "chunk")
    ).select(
        "doc_id",
        (F.col("idx") + 1).cast("long").alias("chunk_idx"),
        F.length("chunk").cast("long").alias("chunk_len"),
        md5_long(F.col("chunk")).alias("chunk_fp"),
    )


def doc_cdc_chunks_sql() -> str:
    g_list = ", ".join(str(v) for v in DOC_GEAR)
    return f"""
        with lut as (
          select unnest(range(0, 256)) as b, unnest([{g_list}]) as g
        ),
        pos as (
          select doc_id, text, unnest(range(1, length(text) + 1)) as i
          from documents
        ),
        gv as (
          select p.doc_id, p.text, p.i, cast(l.g as bigint) as g
          from pos p join lut l on l.b = ascii(substr(p.text, p.i, 1)) % 256
        ),
        h as (
          select doc_id, text, i,
                 sum(g) over (partition by doc_id order by i
                              rows between {DOC_CDC_WINDOW - 1} preceding
                              and current row) as hh
          from gv
        ),
        cuts as (
          select doc_id, text, i as e
          from h where hh % {DOC_CDC_DIVISOR} = 0 or i = length(text)
        ),
        ch as (
          select doc_id, text, e,
                 coalesce(lag(e) over (partition by doc_id order by e), 0) as s,
                 row_number() over (partition by doc_id order by e) as chunk_idx
          from cuts
        )
        select doc_id, chunk_idx,
               cast(e - s as bigint) as chunk_len,
               {md5_long_sql("substr(text, s + 1, e - s)")} as chunk_fp
        from ch
    """


def doc_fixed_chunks(docs: DataFrame, size: int = DOC_FIXED_SIZE) -> DataFrame:
    """T3: fixed-offset chunking (ChunkingPipeline.h:303-389) — stride
    ``size`` substrings, fp per chunk. Same output schema as the CDC twin.
    """
    n_chunks = F.ceil(F.length("text") / F.lit(size)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
        lambda j: F.substring(F.col("text"), (j - 1) * size + 1, F.lit(size)),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("idx", "chunk")
    ).select(
        "doc_id",
        (F.col("idx") + 1).cast("long").alias("chunk_idx"),
        F.length("chunk").cast("long").alias("chunk_len"),
        md5_long(F.col("chunk")).alias("chunk_fp"),
    )


def doc_fixed_chunks_sql(size: int = DOC_FIXED_SIZE) -> str:
    return f"""
        select doc_id, cast(j as bigint) as chunk_idx,
               cast(length(substr(text, cast((j - 1) * {size} + 1 as bigint), {size}))
                    as bigint) as chunk_len,
               {md5_long_sql(f"substr(text, cast((j - 1) * {size} + 1 as bigint), {size})")}
                 as chunk_fp
        from documents,
             unnest(range(1, greatest(cast(ceil(length(text) / {size}.0) as bigint), 1) + 1))
               as t(j)
    """


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling polynomial fingerprint over gram hashes:
    fold(h_i): acc = (acc*31 + h_i) % P, seeded with 0 (list_prepend twin
    in DuckDB)."""
    gh = gram_hashes(F.col("text"))
    fp = F.aggregate(
        gh, F.lit(0).cast("long"), lambda acc, h: (acc * F.lit(31) + h) % F.lit(P)
    )
    return docs.select("doc_id", fp.alias("fingerprint"))
