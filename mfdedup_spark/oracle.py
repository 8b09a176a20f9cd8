"""Pure-Python/numpy reference oracle (no Spark).

This is the stand-in for running the C++ reference binary (which cannot
ingest arbitrary image fixtures): a faithful reimplementation of the
reference's semantics at the same shingle/signature config, used by the
parity tests (BASELINE.md: dup-pair recall ≥ 0.99 vs these assignments).

Semantics reproduced:
- two-generation NDF fingerprint tables with laterTable-before-earlierTable
  precedence (/root/reference/MetadataManager/MetadataManager.h:60-77) and
  Adjacent fps inserted into laterTable (:105-113)
- category id ``x(x-1)/2 + y`` for "first written in y, live in x"
  (/root/reference/README.md:51-57, Utility/ChunkWriterManager.h:30)
- dedup-ratio / chunk-class counters
  (/root/reference/DedupPipeline/DeduplicationPipeline.h:40-43,94-108)
- AVAR live/dead split (ArrangementPipeline/ArrangementFilterPipeline.h:113)
- plus the graft's LSH candidate generation / verification / union-find
  clustering, using the SAME numpy core as the Spark UDFs.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from mfdedup_spark.config import SignatureConfig
from mfdedup_spark.core import codecs
from mfdedup_spark.core.hashes import (
    SignatureTables,
    shingles_for,
    gram_hash,
    hamming64,
    lsh_band_buckets,
    minhash_signature,
    sha1_hex,
    simhash64,
    simhash_bands,
)


# ---------------------------------------------------------------- signatures
def compute_signatures(images: pd.DataFrame, cfg: SignatureConfig) -> pd.DataFrame:
    """Per-row signature columns over decoded pixels (input_hint: signatures
    are computed over decoded pixels, captions kept verbatim)."""
    t = SignatureTables.get(cfg)
    out = []
    for r in images.itertuples(index=False):
        pixels = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
        sh = shingles_for(pixels.tobytes(), cfg, t)
        mh = minhash_signature(sh, t)
        out.append(
            {
                "image_id": r.image_id,
                "version": int(getattr(r, "version", 1)),
                "sha1": sha1_hex(r.bytes),
                "phash": int(r.phash),
                "simhash": simhash64(sh, int(r.phash), t),
                "minhash": mh.tolist(),
                "mh_bands": lsh_band_buckets(mh, t).tolist(),
            }
        )
    df = pd.DataFrame(out)
    df["sh_bands"] = df["simhash"].map(
        lambda s: simhash_bands(int(s), cfg.simhash_bands).tolist()
    )
    return df


# ----------------------------------------------------------- candidate pairs
def candidate_pairs(sig: pd.DataFrame, cfg: SignatureConfig) -> set[tuple[str, str]]:
    """Anchor-star candidate pairs from MinHash LSH bands + SimHash bands.

    Bucket members sorted by image_id, capped at cfg.bucket_cap, anchor =
    min id, edges (anchor, member). Identical rule as the Spark operator
    (operators/lsh.py) so parity is exact.
    """
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for r in sig.itertuples(index=False):
        for b, v in enumerate(r.mh_bands):
            buckets[("mh", b, v)].append(r.image_id)
        for b, v in enumerate(r.sh_bands):
            buckets[("sh", b, v)].append(r.image_id)
    pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        members = sorted(set(members))[: cfg.bucket_cap]
        anchor = members[0]
        for m in members[1:]:
            pairs.add((anchor, m))
    return pairs


def verify_pairs(
    sig: pd.DataFrame, cand: set[tuple[str, str]], cfg: SignatureConfig
) -> pd.DataFrame:
    """Verification: exact SHA-1 equality, else MinHash-estimated Jaccard ≥
    threshold, else SimHash hamming ≤ threshold. Columns
    (image_id_a, image_id_b, method, score)."""
    s = sig.set_index("image_id")
    rows = []
    for a, b in sorted(cand):
        ra, rb = s.loc[a], s.loc[b]
        if ra.sha1 == rb.sha1:
            rows.append((a, b, "sha1", 1.0))
            continue
        est = float(np.mean(np.array(ra.minhash) == np.array(rb.minhash)))
        if est >= cfg.minhash_jaccard_threshold:
            rows.append((a, b, "minhash", est))
            continue
        ham = hamming64(int(ra.simhash), int(rb.simhash))
        if ham <= cfg.simhash_hamming_threshold:
            rows.append((a, b, "simhash", 1.0 - ham / 64.0))
    return pd.DataFrame(rows, columns=["image_id_a", "image_id_b", "method", "score"])


# ------------------------------------------------------------- caption pairs
def caption_pairs(images: pd.DataFrame, cfg: SignatureConfig) -> pd.DataFrame:
    """Exact-substring caption dups via word-k-gram blocking + containment
    check. Same blocking rule as operators/caption_match.py, including its
    single-space tokenization (``split(" ")``, not ``split()``)."""
    grams: dict[int, list[str]] = defaultdict(list)
    caps = {}
    for r in images.itertuples(index=False):
        caps[r.image_id] = r.caption
        toks = r.caption.split(" ")
        k = cfg.caption_gram_k
        seen = set()
        for i in range(max(1, len(toks) - k + 1)):
            g = " ".join(toks[i : i + k])
            seen.add(gram_hash(g))
        # bottom-m blocking sample — same bound as the engine path
        # (caption_gram_buckets orders by bucket hash, keeps the first m)
        for hg in sorted(seen)[: cfg.caption_max_grams]:
            grams[hg].append(r.image_id)
    cand: set[tuple[str, str]] = set()
    for members in grams.values():
        if len(members) < 2:
            continue
        members = sorted(set(members))[: cfg.bucket_cap]
        anchor = members[0]
        for m in members[1:]:
            cand.add((anchor, m))
    rows = []
    for a, b in sorted(cand):
        ca, cb = caps[a], caps[b]
        if ca == cb:
            continue  # identical captions don't establish a dup by themselves
        if ca in cb or cb in ca:
            rows.append((a, b, "caption", 1.0))
    return pd.DataFrame(rows, columns=["image_id_a", "image_id_b", "method", "score"])


# ------------------------------------------------------- connected components
def connected_components(
    pairs: pd.DataFrame, all_ids: list[str]
) -> dict[str, str]:
    """Union-find; cluster_id = min image_id in component (SURVEY §7
    hard-part (c): deterministic tie-break)."""
    parent: dict[str, str] = {i: i for i in all_ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["image_id_a"], pairs["image_id_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {i: find(i) for i in all_ids}


def near_dup(
    images: pd.DataFrame, cfg: SignatureConfig
) -> tuple[pd.DataFrame, dict[str, str]]:
    """The whole near-dup graph, the oracle twin of
    plans/pipeline.dedup_images: signatures → LSH candidates → verify +
    caption pairs → connected components. Returns (pairs, clusters)."""
    sig = compute_signatures(images, cfg)
    pairs = pd.concat(
        [
            verify_pairs(sig, candidate_pairs(sig, cfg), cfg),
            caption_pairs(images, cfg),
        ],
        ignore_index=True,
    )
    return pairs, connected_components(pairs, images["image_id"].tolist())


# ----------------------------------------------------------- NDF classification
def classify_versions(images: pd.DataFrame) -> pd.DataFrame:
    """Reference NDF classification, exact semantics.

    Per version in order, per row in seq_no order:
    fp in laterTable (already seen this version) → INTERNAL; else fp in
    earlierTable (previous version) → ADJACENT; else UNIQUE. Adjacent and
    Unique fps are inserted into laterTable; tables roll at version end
    (MetadataManager.h:60-77,94-122).
    """
    rows = []
    earlier: set[str] = set()
    for v in sorted(images["version"].unique()):
        later: set[str] = set()
        dfv = images[images["version"] == v].sort_values("seq_no")
        for r in dfv.itertuples(index=False):
            fp = sha1_hex(r.bytes)
            if fp in later:
                res = "INTERNAL"
            elif fp in earlier:
                res = "ADJACENT"
                later.add(fp)
            else:
                res = "UNIQUE"
                later.add(fp)
            rows.append((r.image_id, int(v), int(r.seq_no), fp, res))
        earlier = later  # tableRolling (MetadataManager.h:115-122)
    return pd.DataFrame(
        rows, columns=["image_id", "version", "seq_no", "fp", "result"]
    )


def metrics(images: pd.DataFrame, classification: pd.DataFrame) -> pd.DataFrame:
    """Per-version dedup counters (DeduplicationPipeline.h:40-43, 94-108).

    total_len = Σ len(bytes); unique_len = Σ len over UNIQUE rows;
    dedup_ratio = total_len / unique_len.
    """
    lens = {
        r.image_id: len(r.bytes)
        for r in images.itertuples(index=False)
    }
    cl = classification.copy()
    cl["length"] = [
        lens[i] for i in cl["image_id"]
    ]
    out = []
    for v, g in cl.groupby("version"):
        total = int(g["length"].sum())
        uniq = int(g.loc[g["result"] == "UNIQUE", "length"].sum())
        adj = int(g.loc[g["result"] == "ADJACENT", "length"].sum())
        out.append(
            {
                "version": int(v),
                "total_len": total,
                "unique_len": uniq,
                "adjacent_len": adj,
                "dedup_ratio": (total / uniq) if uniq else float("inf"),
                "n_unique": int((g["result"] == "UNIQUE").sum()),
                "n_internal": int((g["result"] == "INTERNAL").sum()),
                "n_adjacent": int((g["result"] == "ADJACENT").sum()),
            }
        )
    return pd.DataFrame(out)


def category_id(first_version: int, live_version: int) -> int:
    """Category serial for (live=x, first=y): x(x-1)/2 + y
    (/root/reference/README.md:51-57; new-chunk category for version v is
    v(v+1)/2 per Utility/ChunkWriterManager.h:30)."""
    x, y = live_version, first_version
    return x * (x - 1) // 2 + y


def avar_split(
    classification: pd.DataFrame, upto_version: int
) -> tuple[set[str], set[str]]:
    """AVAR live/dead fp split after ingesting ``upto_version``: fps of
    version upto-1 that appear in version upto are ACTIVE, others ARCHIVED
    (ArrangementFilterPipeline.h:113-130)."""
    prev = set(classification.loc[classification["version"] == upto_version - 1, "fp"])
    curr = set(classification.loc[classification["version"] == upto_version, "fp"])
    return prev & curr, prev - curr
