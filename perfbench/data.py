"""Workload inputs, generated from the seed and cached on disk by
(generator, size, seed).

- images: ``fixtures.generate_images`` with the bench.py mix (jpeg-heavy,
  64-256 px; 60 % base / 15 % exact / 15 % near / 5 % caption-substring /
  5 % near-constant hot-bucket), plus its planted truth.
- versioned: ``fixtures.generate_versioned`` (per version 85 % carried
  byte-identical, 10 % new, 5 % within-version copies), one parquet file
  per version.
- contract tables: ``documents``, ``events``, ``embeddings`` and
  ``lineitem`` with the column names and types of the driver's testdata
  tables, so the ``contract.q_*`` queries and their DuckDB oracles run on
  them unchanged.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

# bump when a generator below changes what it produces for a given seed
DATA_VERSION = "1"

CONTRACT_TABLES = ("documents", "events", "embeddings", "lineitem")


def _cached(cache_dir: str, generator: str, size: str, seed: int) -> tuple[str, bool]:
    path = os.path.join(cache_dir, f"{generator}-{size}-s{seed}-v{DATA_VERSION}")
    return path, os.path.exists(os.path.join(path, "_DONE"))


def _done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


# --------------------------------------------------------------------- images
def images(cache_dir: str, n: int, seed: int) -> tuple[str, list[tuple[str, str]]]:
    """→ (parquet path, planted duplicate pairs)."""
    from mfdedup_spark.fixtures import generate_images, write_parquet

    path, hit = _cached(cache_dir, "images", str(n), seed)
    pq_path = os.path.join(path, "images.parquet")
    truth_path = os.path.join(path, "truth.json")
    if not hit:
        os.makedirs(path, exist_ok=True)
        df, truth = generate_images(
            n_images=n, seed=seed, fmt_weights=[0.1, 0.2, 0.7], dims=[64, 128, 256]
        )
        write_parquet(df, pq_path)
        with open(truth_path, "w") as f:
            json.dump(sorted(truth.all_pairs), f)
        _done(path)
    with open(truth_path) as f:
        pairs = [tuple(p) for p in json.load(f)]
    return pq_path, pairs


# ------------------------------------------------------------------ versioned
def versioned(cache_dir: str, n: int, versions: int, seed: int) -> tuple[list[str], pd.DataFrame]:
    """→ (one parquet path per version, all versions as one frame)."""
    from mfdedup_spark.fixtures import generate_versioned, write_parquet

    path, hit = _cached(cache_dir, "versioned", f"{n}x{versions}", seed)
    all_path = os.path.join(path, "all.parquet")
    paths = [os.path.join(path, f"v{v}.parquet") for v in range(1, versions + 1)]
    if not hit:
        os.makedirs(path, exist_ok=True)
        df = generate_versioned(n_images=n, versions=versions, seed=seed)
        for v, p in enumerate(paths, start=1):
            write_parquet(df[df["version"] == v], p)
        df.to_parquet(all_path, index=False)
        _done(path)
    return paths, pd.read_parquet(all_path)


# ------------------------------------------------------------ contract tables
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order join small big customer query filter "
    "group stream vector index cache page"
).split()


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random word texts over a small vocabulary, with planted exact
    copies, light edits and substring hosts of earlier documents."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.14:  # near copy: ~10 % of words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 10), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.19:  # substring host
            pre = rng.choice(_WORDS, size=int(rng.integers(2, 10)))
            post = rng.choice(_WORDS, size=int(rng.integers(2, 10)))
            texts.append(" ".join([*pre, texts[int(rng.integers(0, i))], *post]))
        else:
            texts.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(8, 90)))))
    langs = rng.choice(["en", "zh", "es", "de", "fr"], size=n, p=[0.44, 0.15, 0.14, 0.14, 0.13])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, size=n).astype(np.int64),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], size=n),
            "value": np.round(rng.exponential(10.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    """Unit vectors around ten label centroids."""
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    x = centers[labels] + rng.normal(scale=1.1, size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": labels.astype(np.int32),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pd.DataFrame:
    days = rng.integers(0, 3650, size=n)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, max(2, n // 4), size=n).astype(np.int64),
            "l_partkey": rng.integers(1, 2000, size=n).astype(np.int64),
            "l_suppkey": rng.integers(1, 100, size=n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n),
            "l_linestatus": rng.choice(["O", "F"], size=n),
            "l_shipdate": np.datetime64("1992-01-01", "us")
            + (days * 86400 * 10**6).astype("timedelta64[us]"),
        }
    )


def contract_tables(cache_dir: str, docs: int, seed: int) -> str:
    """→ a directory with ``<table>.parquet`` for every CONTRACT_TABLES
    entry; sizes scale with ``docs`` (events 25×, embeddings 1×,
    lineitem 75×), like the testdata's sf ladder."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, hit = _cached(cache_dir, "contract", str(docs), seed)
    if not hit:
        os.makedirs(path, exist_ok=True)
        rng = np.random.default_rng(seed)
        frames = {
            "documents": _documents(rng, docs),
            "events": _events(rng, docs * 25),
            "embeddings": _embeddings(rng, docs),
            "lineitem": _lineitem(rng, docs * 75),
        }
        for name, df in frames.items():
            schema = None
            if name == "embeddings":
                schema = pa.schema(
                    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]
                )
            table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        _done(path)
    return path
