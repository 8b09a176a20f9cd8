"""Deterministic synthetic ``images`` fixtures (FIXTURES.md).

No external data: everything derives from ``numpy.default_rng(seed)``.
Schema matches BASELINE.json ``input_hint`` exactly:
(image_id string, bytes binary, w int32, h int32, fmt string,
 caption string, phash int64) plus ``version int32`` for the versioned
NDF/AVAR series (reference fileID, /root/reference/main.cpp:138).

Planted structure (ground truth returned alongside):
- ~60% base images (independent random pixels, no dups)
- ~15% exact duplicates (byte-identical, new image_id)  → SHA-1 path
- ~15% near-duplicates (noise / re-encode / 1-col crop) → MinHash/SimHash
- ~5%  caption-substring dups (distinct pixels)         → caption matcher
- ~5%  hot-bucket adversaries (near-constant pixels)    → LSH skew/salting
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from mfdedup_spark.core import codecs
from mfdedup_spark.core.hashes import phash64

_VOCAB_SIZE = 512

ARROW_SCHEMA_FIELDS = [
    ("image_id", "string"),
    ("bytes", "binary"),
    ("w", "int32"),
    ("h", "int32"),
    ("fmt", "string"),
    ("caption", "string"),
    ("phash", "int64"),
    ("version", "int32"),
    ("seq_no", "int64"),
]


def write_parquet(df: pd.DataFrame, path: str, row_group_size: int = 2048) -> None:
    """Write an images fixture with the exact input_hint schema
    (binary bytes, int32 dims, int64 phash).

    Small row groups matter: parquet is only splittable at row-group
    granularity, so a single-group file serializes every downstream scan
    onto one task no matter how many cores the cluster has."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(n, getattr(pa, t)()) for n, t in ARROW_SCHEMA_FIELDS])
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        path,
        row_group_size=row_group_size,
        # bytes are already zlib/DCT-compressed — snappy on top only
        # burns scan-side CPU
        compression="none",
    )
_FMTS = ["raw", "png", "jpeg"]
_DIMS = [32, 64, 128]


@dataclass
class Truth:
    """Planted ground truth for recall tests."""

    exact_pairs: set = field(default_factory=set)
    near_pairs: set = field(default_factory=set)
    caption_pairs: set = field(default_factory=set)
    hot_ids: set = field(default_factory=set)

    @property
    def all_pairs(self) -> set:
        return self.exact_pairs | self.near_pairs | self.caption_pairs


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return [
        "".join(rng.choice(letters, size=rng.integers(3, 9)))
        for _ in range(_VOCAB_SIZE)
    ]


def _caption(rng: np.random.Generator, vocab: list[str]) -> str:
    n = int(rng.integers(5, 31))
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))


def _rand_image(
    rng: np.random.Generator,
    fmt_weights: list[float] | None = None,
    dims: list[int] | None = None,
) -> tuple[np.ndarray, str]:
    h = int(rng.choice(dims or _DIMS))
    w = int(rng.choice(dims or _DIMS))
    fmt = str(rng.choice(_FMTS, p=fmt_weights))
    # smooth-ish random field: random base + blur via cumulative trick,
    # keeps pHash meaningful while remaining fully deterministic
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    return px, fmt


def _noise(rng: np.random.Generator, px: np.ndarray, frac: float = 0.004) -> np.ndarray:
    """±1 noise on ``frac`` of pixels; PSNR stays ≥ 40 dB."""
    out = px.astype(np.int16).copy()
    n = max(1, int(px.size * frac))
    idx = rng.choice(px.size, size=n, replace=False)
    delta = rng.choice(np.array([-1, 1]), size=n)
    flat = out.reshape(-1)
    flat[idx] = np.clip(flat[idx] + delta, 0, 255)
    return out.astype(np.uint8)


def _row(image_id: str, px: np.ndarray, fmt: str, caption: str) -> dict:
    data = codecs.encode(px, fmt)
    decoded = codecs.decode(data, px.shape[1], px.shape[0], fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": np.int32(px.shape[1]),
        "h": np.int32(px.shape[0]),
        "fmt": fmt,
        "caption": caption,
        "phash": np.int64(phash64(decoded)),
    }


def generate_images(
    n_images: int = 200,
    seed: int = 42,
    fmt_weights: list[float] | None = None,
    dims: list[int] | None = None,
) -> tuple[pd.DataFrame, Truth]:
    """Single-version fixture with planted dup structure. ``fmt_weights``
    orders over (raw, png, jpeg) — the bench uses a jpeg-heavy web-like
    mix; ``dims`` overrides the size choices (bench uses 64-256 px)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    truth = Truth()
    rows: list[dict] = []
    bases: list[tuple[str, np.ndarray, str, str]] = []  # id, px, fmt, caption

    n_base = int(n_images * 0.60)
    n_exact = int(n_images * 0.15)
    n_near = int(n_images * 0.15)
    n_cap = int(n_images * 0.05)
    n_hot = n_images - n_base - n_exact - n_near - n_cap
    next_id = 0

    def new_id() -> str:
        nonlocal next_id
        s = f"img{next_id:08d}"
        next_id += 1
        return s

    for _ in range(n_base):
        px, fmt = _rand_image(rng, fmt_weights, dims)
        cap = _caption(rng, vocab)
        iid = new_id()
        bases.append((iid, px, fmt, cap))
        rows.append(_row(iid, px, fmt, cap))

    for _ in range(n_exact):
        bid, px, fmt, cap = bases[int(rng.integers(0, len(bases)))]
        iid = new_id()
        rows.append(_row(iid, px, fmt, cap))
        truth.exact_pairs.add(tuple(sorted((bid, iid))))

    for k in range(n_near):
        bid, px, fmt, cap = bases[int(rng.integers(0, len(bases)))]
        iid = new_id()
        # mutate what the base row actually *decodes* to (a transcoder
        # decodes then re-encodes — for a jpeg base that's the quantized
        # pixels, not the pre-encode originals)
        base_decoded = codecs.decode(codecs.encode(px, fmt), px.shape[1], px.shape[0], fmt)
        mode = k % 3
        if mode == 0:  # re-encode: identical decoded pixels, new bytes
            new_fmt = "png" if fmt == "raw" else "raw"
            rows.append(_row(iid, base_decoded, new_fmt, cap))
        elif mode == 1:  # bounded noise
            rows.append(_row(iid, _noise(rng, base_decoded), fmt, cap))
        else:
            # crop last row; saved losslessly (a lossy re-encode of a
            # shifted 8×8 block grid would requantize every block and
            # destroy byte-level similarity — realistic crops are saved
            # as png)
            crop_fmt = "png" if fmt == "jpeg" else fmt
            rows.append(_row(iid, base_decoded[:-1, :], crop_fmt, cap))
        truth.near_pairs.add(tuple(sorted((bid, iid))))

    for _ in range(n_cap):
        bid, _, _, cap = bases[int(rng.integers(0, len(bases)))]
        px, fmt = _rand_image(rng)
        iid = new_id()
        # caption of the base is an exact substring of the new caption
        host = _caption(rng, vocab) + " " + cap + " " + _caption(rng, vocab)
        rows.append(_row(iid, px, fmt, host))
        truth.caption_pairs.add(tuple(sorted((bid, iid))))

    for _ in range(n_hot):
        # near-constant image: all-black ± 1 LSB → LSH hot bucket
        h = int(rng.choice(_DIMS))
        w = int(rng.choice(_DIMS))
        px = _noise(rng, np.zeros((h, w), dtype=np.uint8), frac=0.002)
        iid = new_id()
        truth.hot_ids.add(iid)
        rows.append(_row(iid, px, "raw", _caption(rng, vocab)))

    df = pd.DataFrame(rows)
    df["version"] = np.int32(1)
    df["seq_no"] = np.arange(len(df), dtype=np.int64)
    return df, truth


def generate_versioned(
    n_images: int = 120, versions: int = 3, seed: int = 42
) -> pd.DataFrame:
    """Backup series for NDF/AVAR parity (FIXTURES.md §2).

    Version v+1 keeps ~85% of v byte-identical (→ AdjacentDedup),
    re-duplicates ~5% within the version (→ InternalDedup), adds ~10%
    new rows (→ Unique). Mirrors /root/reference/MetadataManager/
    MetadataManager.h:60-77 classification outcomes.
    """
    rng = np.random.default_rng(seed + 1)
    vocab = _vocab(rng)
    next_id = 0

    def new_id() -> str:
        nonlocal next_id
        s = f"vimg{next_id:08d}"
        next_id += 1
        return s

    def fresh_row() -> dict:
        px, fmt = _rand_image(rng)
        return _row(new_id(), px, fmt, _caption(rng, vocab))

    frames = []
    current = [fresh_row() for _ in range(n_images)]
    for v in range(1, versions + 1):
        if v > 1:
            keep = int(len(current) * 0.85)
            kept_idx = rng.choice(len(current), size=keep, replace=False)
            carried = [dict(current[i]) for i in sorted(kept_idx)]
            n_new = int(n_images * 0.10)
            fresh = [fresh_row() for _ in range(n_new)]
            pool = carried + fresh
            n_int = int(n_images * 0.05)
            dup_idx = rng.integers(0, len(pool), size=n_int)
            internal = []
            for i in dup_idx:
                r = dict(pool[int(i)])
                r["image_id"] = new_id()
                internal.append(r)
            current = pool + internal
        ver_rows = []
        for seq, r in enumerate(current):
            rr = dict(r)
            rr["version"] = np.int32(v)
            rr["seq_no"] = np.int64(seq)
            ver_rows.append(rr)
        frames.append(pd.DataFrame(ver_rows))
    return pd.concat(frames, ignore_index=True)
