"""The three closed-loop workloads (one client: the next operation starts
when the last one returns).

Each workload class provides:
- ``prepare()``       generate (or load from the cache) the measured input;
- ``warm_pass()``     one warm-up pass over the measured input (set-up);
- ``measure(s)``      operations for ``s`` seconds, each checked;
- ``summary()``       end-to-end figures over the measured operations;
- ``traced(tr, probe)`` the traced pass: every layer call runs under a
                      span and its own Spark job group, with each layer's
                      inputs persisted and boundaries materialized, so
                      layer busy times add up. ``probe=True`` runs it at a
                      small fixed size (a light pass on a workload that
                      does not otherwise use the layer).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback

import pandas as pd

import data
from common import active_jobs, dir_files, force, median, timing_summary, wait_idle

# sizes: (measured and warm-up input, probe input)
DEDUP_IMAGES = (500, 120)
BACKUP_IMAGES = (400, 60)  # images per version
BACKUP_VERSIONS = 16       # generated; the measured loop stops at --seconds
PRELOAD = 2                # versions ingested before the timed window
CONTRACT_DOCS = (400, 60)

# stage names ingest_version records in its stage_stats table
INGEST_STAGES = (
    "signature_classify", "write_recipes", "write_chunks", "write_metrics_index", "arrangement",
)

RECALL_FLOOR = 0.99  # BASELINE.json dup-pair recall target


def use_smoke_sizes() -> None:
    """Tiny inputs for the harness self-check (``run.py --smoke``)."""
    global DEDUP_IMAGES, BACKUP_IMAGES, BACKUP_VERSIONS, CONTRACT_DOCS
    DEDUP_IMAGES, BACKUP_IMAGES, CONTRACT_DOCS = (80, 40), (40, 30), (60, 40)
    BACKUP_VERSIONS = 6


CONTRACT_MIX = (
    "doc_cluster",
    "ngram_jaccard_docs",
    "ndf_classification_events",
    "dedup_metrics_events",
    "caption_substring_docs",
    "embedding_neardup",
    "ann_cosine_topk",
    "restore_prefix_sum",
)


def _ratio(a: float, b: float) -> float:
    return a / b if b else float("nan")


class Op:
    """One timed operation of the closed loop."""

    __slots__ = ("kind", "seconds", "items", "ok", "error", "extra")

    def __init__(self, kind: str, seconds: float, items: float, ok: bool, error: str = "", **extra):
        self.kind, self.seconds, self.items = kind, seconds, items
        self.ok, self.error, self.extra = ok, error, extra


class Workload:
    name = ""

    def __init__(self, bench):
        self.bench = bench
        self.ops: list[Op] = []

    @property
    def spark(self):
        return self.bench.spark

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            if not self.step():
                break

    def step(self) -> bool:
        """Run one unit of the loop, append its Op records; False when the
        generated input is exhausted."""
        raise NotImplementedError

    def _guarded(self, kind: str, fn) -> Op:
        """Run ``fn`` (→ Op) and turn an exception into a failed Op."""
        try:
            op = fn()
        except Exception:  # a failed operation is counted, not fatal
            op = Op(kind, float("nan"), 0, False, traceback.format_exc(limit=8))
        self.ops.append(op)
        return op

    def cycle(self) -> tuple[float, float]:
        """One unit of work as (items, seconds), the seconds composed from
        medians: the sum over op kinds of (ops of that kind per unit ×
        median op time), the items likewise from median op sizes."""
        raise NotImplementedError

    def summary(self) -> tuple[float, dict]:
        """→ (items_per_s, workload-specific report)."""
        good = [o for o in self.ops if o.ok]
        items, seconds = self.cycle()
        report = {
            f"{k}_ms": timing_summary([1000.0 * o.seconds for o in good if o.kind == k])
            for k in sorted({o.kind for o in good})
        }
        report["cycle_ms"] = 1000.0 * seconds
        return _ratio(items, seconds), report

    def _median_of(self, kind: str) -> float:
        return median([o.seconds for o in self.ops if o.ok and o.kind == kind])


# ============================================================== dedup_batch
class DedupBatch(Workload):
    """One image version through ``dedup_images``; one operation is one
    call, forced through its clusters and metrics outputs."""

    name = "dedup_batch"

    def __init__(self, bench):
        super().__init__(bench)
        self.probe_path, _ = data.images(bench.cache, DEDUP_IMAGES[1], bench.seed + 1)
        self.hashes: set[str] = set()
        self.recall: float | None = None

    def prepare(self) -> None:
        self.path, self.truth = data.images(self.bench.cache, DEDUP_IMAGES[0], self.bench.seed)

    def _run(self, path: str):
        from mfdedup_spark.config import SignatureConfig
        from mfdedup_spark.plans.pipeline import dedup_images

        t0 = time.perf_counter()
        out = dedup_images(self.spark.read.parquet(path).repartition(4), SignatureConfig())
        leaked = active_jobs(self.spark)
        clusters = out["clusters"].toPandas()
        metrics = out["metrics"].first()
        out["signatures"].unpersist()
        dt = time.perf_counter() - t0
        wait_idle(self.spark)
        return dt, clusters, metrics, leaked

    def warm_pass(self) -> None:
        self._run(self.path)

    def _check(self, clusters: pd.DataFrame, metrics, n: int) -> str:
        if len(clusters) != n or clusters["image_id"].nunique() != n:
            return f"{len(clusters)} cluster rows for {n} images"
        if int(metrics["n_images"]) != n:
            return f"metrics n_images {metrics['n_images']} != {n}"
        if int(metrics["n_clusters"]) != clusters["cluster_id"].nunique():
            return "metrics n_clusters disagrees with clusters"
        s = clusters.sort_values("image_id")
        h = hashlib.sha256(
            "\n".join(s["image_id"] + ":" + s["cluster_id"]).encode()
        ).hexdigest()
        if h not in self.hashes:
            self.hashes.add(h)
            cid = dict(zip(clusters["image_id"], clusters["cluster_id"]))
            hit = sum(cid.get(a) is not None and cid.get(a) == cid.get(b) for a, b in self.truth)
            self.recall = hit / len(self.truth) if self.truth else 1.0
        if len(self.hashes) > 1:
            return "cluster assignment differs between passes"
        if self.recall < RECALL_FLOOR:
            return f"dup-pair recall {self.recall:.4f} < {RECALL_FLOOR}"
        return ""

    def step(self) -> bool:
        def op() -> Op:
            dt, clusters, metrics, _ = self._run(self.path)
            err = self._check(clusters, metrics, DEDUP_IMAGES[0])
            return Op("dedup", dt, DEDUP_IMAGES[0], not err, err)

        self._guarded("dedup", op)
        return True

    def cycle(self) -> tuple[float, float]:
        return DEDUP_IMAGES[0], self._median_of("dedup")

    def summary(self):
        items_per_s, report = super().summary()
        report["dedup_images_per_s"] = {
            "value": _ratio(DEDUP_IMAGES[0], self._median_of("dedup")), "unit": "images/s"
        }
        report["dedup_pair_recall"] = {"value": self.recall, "unit": "fraction"}
        return items_per_s, report

    # ---------------------------------------------------------------- traced
    def traced(self, tr, probe: bool = False) -> dict:
        """Layer-by-layer pass with persisted boundaries, after one checked
        untraced op as the end-to-end reference. Returns {"e2e_s",
        "traced_s", "layer_sum_s"}."""
        from pyspark.sql import functions as F

        from mfdedup_spark.config import SignatureConfig
        from mfdedup_spark.functions.signatures import compute_signatures
        from mfdedup_spark.operators.caption_match import caption_pairs
        from mfdedup_spark.operators.connected_components import connected_components
        from mfdedup_spark.operators.lsh import candidate_pairs
        from mfdedup_spark.operators.verify import verify_pairs

        c = self.bench.counters
        path = self.probe_path if probe else self.path
        n = DEDUP_IMAGES[1] if probe else DEDUP_IMAGES[0]
        # untraced end-to-end reference for this pass (also the leak probe)
        e2e, clusters, metrics, leaked = self._run(path)
        c["pipeline.leaked_jobs"] += leaked
        err = self._check(clusters, metrics, n) if not probe else ""
        if err:
            raise RuntimeError(err)
        cfg = SignatureConfig()
        held = []

        def keep(df):
            df = df.persist()
            held.append(df)
            return df

        t0 = time.perf_counter()
        with tr.span("dedup_pass", layer=None, probe=probe):
            with tr.span("input", layer="input"):
                images = keep(self.spark.read.parquet(path).repartition(4))
                images.count()
            with tr.span("compute_signatures", layer="signatures"):
                sig = keep(compute_signatures(images, cfg))
                c["signatures.rows"] += sig.count()
            with tr.span("candidate_pairs", layer="lsh"):
                cand, lsh_stats = candidate_pairs(sig, cfg)
                cand = keep(cand)
                n_cand = cand.count()
                dropped = lsh_stats.agg(F.sum("dropped")).first()[0] or 0
            with tr.span("verify_pairs", layer="verify"):
                ver = keep(verify_pairs(cand, sig, cfg))
                n_ver = ver.count()
            with tr.span("caption_pairs", layer="caption_match"):
                cp, cap_stats = caption_pairs(images, cfg)
                cp = keep(cp)
                n_cp = cp.count()
                cap_dropped = cap_stats.agg(F.sum("dropped")).first()[0] or 0
            with tr.span("connected_components", layer="connected_components"):
                edges = ver.select("image_id_a", "image_id_b").unionByName(
                    cp.select("image_id_a", "image_id_b")
                )
                cl = keep(connected_components(edges, sig.select("image_id")))
                n_clusters = cl.select("cluster_id").distinct().count()
        traced_s = time.perf_counter() - t0
        for df in held:
            df.unpersist()
        wait_idle(self.spark)
        c["lsh.candidate_pairs"] += n_cand
        c["lsh.bucket_dropped"] += dropped
        c["verify.pairs"] += n_ver
        c["caption_match.pairs"] += n_cp
        c["caption_match.bucket_dropped"] += cap_dropped
        c["connected_components.clusters"] += n_clusters
        layers = ("signatures", "lsh", "verify", "caption_match", "connected_components")
        layer_sum = sum(tr.busy_in(layer, "dedup_pass", probe) for layer in layers)
        c["pipeline.unattributed_s"] += e2e - layer_sum
        return {"e2e_s": e2e, "traced_s": traced_s, "layer_sum_s": layer_sum}


# ============================================================= backup_cycle
class BackupCycle(Workload):
    """A backup series ingested in order into a fresh warehouse
    (arrangement and retention on, ``with_clusters=False``); after each
    ingest the newest and the oldest retained version are restored."""

    name = "backup_cycle"

    def __init__(self, bench):
        super().__init__(bench)
        self.probe_paths, warm = data.versioned(bench.cache, BACKUP_IMAGES[1], 2, bench.seed + 1)
        self._probe_by_version = dict(tuple(warm.groupby("version")))
        self.store = None
        self.next_version = PRELOAD + 1
        self._warm_store, self._warm_next = None, 1
        self.sums = {"scanned": 0, "restored": 0}

    def prepare(self) -> None:
        self.paths, frames = data.versioned(
            self.bench.cache, BACKUP_IMAGES[0], BACKUP_VERSIONS, self.bench.seed
        )
        self._by_version = dict(tuple(frames.groupby("version")))

    def _new_store(self, tag: str):
        from mfdedup_spark.store import DedupStore

        wh = os.path.join(self.bench.out, f"warehouse-{tag}")
        shutil.rmtree(wh, ignore_errors=True)
        return DedupStore(self.spark, wh)

    # -- the three operations
    def _ingest(self, store, path: str):
        from mfdedup_spark.config import EngineConfig
        from mfdedup_spark.plans.ingest import ingest_version
        from mfdedup_spark.plans.retention import apply_retention

        cfg = EngineConfig()
        t0 = time.perf_counter()
        ingest_version(store, self.spark.read.parquet(path), cfg)
        apply_retention(store, cfg.retention)
        return time.perf_counter() - t0

    def _restore(self, store, v: int):
        """→ (seconds from the restore_version call to the collected rows,
        rows, restore stats)."""
        from mfdedup_spark.plans.restore import restore_version

        t0 = time.perf_counter()
        df, stats = restore_version(store, v)
        out = df.select("seq_no", "image_id", "offset", "bytes", "caption").toPandas()
        return time.perf_counter() - t0, out, stats

    # -- output checks
    @staticmethod
    def _check_restore(out: pd.DataFrame, want: pd.DataFrame) -> str:
        want = want.sort_values("seq_no")
        got = out.sort_values("seq_no").reset_index(drop=True)
        if len(got) != len(want) or list(got["seq_no"]) != list(want["seq_no"]):
            return f"restore returned {len(got)} rows, version has {len(want)}"
        if list(got["image_id"]) != list(want["image_id"]):
            return "restored image_id differs by seq_no"
        if list(got["bytes"]) != list(want["bytes"]):
            return "restored payload bytes differ by seq_no"
        if list(got["caption"]) != list(want["caption"]):
            return "restored caption differs by seq_no"
        lens = want["bytes"].map(len).to_numpy()
        offsets = lens.cumsum() - lens
        if list(got["offset"]) != [int(x) for x in offsets]:
            return "restored offset is not the recipe prefix sum"
        return ""

    @staticmethod
    def ndf_recount(cur: pd.DataFrame, prev: pd.DataFrame | None) -> dict:
        """UNIQUE/INTERNAL/ADJACENT from the generated frames (plain
        Python sets: pandas' isin/duplicated do not compare bytes objects
        by full value)."""
        prev_set = set(prev["bytes"]) if prev is not None else set()
        seen: set[bytes] = set()
        out = {"n_unique": 0, "n_internal": 0, "n_adjacent": 0}
        for b in cur.sort_values("seq_no")["bytes"]:
            if b in seen:
                out["n_internal"] += 1
            elif b in prev_set:
                out["n_adjacent"] += 1
            else:
                out["n_unique"] += 1
            seen.add(b)
        return out

    def _check_ndf(self, store, v: int, frames: dict) -> tuple[str, dict]:
        row = store.read_partitions("metrics", "version", [v]).first()
        got = {k: int(row[k]) for k in ("n_unique", "n_internal", "n_adjacent")}
        want = self.ndf_recount(frames[v], frames.get(v - 1))
        return ("" if got == want else f"v{v} NDF counts {got} != recount {want}"), got

    def warm_pass(self) -> None:
        """One backup step into a warm-up warehouse that lives across
        passes: ingest its next version, restore the newest and the oldest
        retained version."""
        from mfdedup_spark.store import DedupStore

        if self._warm_next > BACKUP_VERSIONS or self._warm_store is None:
            self._warm_store, self._warm_next = self._new_store("warm"), 1
        elif self._warm_store.spark is not self.spark:  # a set-up restarted the session
            self._warm_store = DedupStore(self.spark, self._warm_store.root)
        self._ingest(self._warm_store, self.paths[self._warm_next - 1])
        self._warm_next += 1
        m = self._warm_store.read_manifest()
        for rv in (m["total_version"], m.get("oldest_version", 1)):
            self._restore(self._warm_store, rv)
        wait_idle(self.spark)

    def measure(self, seconds: float) -> None:
        # versions 1..PRELOAD are ingested before the timed window, so every
        # measured step is an incremental version with a full retention
        # window behind it (version 2 arranges less and retains nothing,
        # and was the fastest step in every run)
        self.store = self._new_store(f"s{self.bench.seed}")
        for v in range(1, PRELOAD + 1):
            self._ingest(self.store, self.paths[v - 1])
            err, _ = self._check_ndf(self.store, v, self._by_version)
            if err:
                self.ops.append(Op("ingest", float("nan"), 0, False, err))
        self.next_version = PRELOAD + 1
        wait_idle(self.spark)
        super().measure(seconds)

    def step(self) -> bool:
        v = self.next_version
        if v > BACKUP_VERSIONS:
            return False
        self.next_version += 1
        n = len(self._by_version[v])

        def ingest() -> Op:
            dt = self._ingest(self.store, self.paths[v - 1])
            err, _ = self._check_ndf(self.store, v, self._by_version)
            return Op("ingest", dt, n, not err, err)

        if not self._guarded("ingest", ingest).ok:
            return True
        m = self.store.read_manifest()
        for rv in (m["total_version"], m.get("oldest_version", 1)):
            def restore(rv=rv) -> Op:
                dt, out, stats = self._restore(self.store, rv)
                err = self._check_restore(out, self._by_version[rv])
                self.sums["scanned"] += stats["scanned_bytes"]
                self.sums["restored"] += stats["restored_bytes"]
                return Op("restore", dt, len(out), not err, err, mb=stats["restored_bytes"] / 1e6)

            self._guarded("restore", restore)
        return True

    def cycle(self) -> tuple[float, float]:
        def items(kind: str) -> float:
            return median([o.items for o in self.ops if o.ok and o.kind == kind])

        return (
            items("ingest") + 2 * items("restore"),
            self._median_of("ingest") + 2 * self._median_of("restore"),
        )

    def stored_ratio(self, store, frames: dict) -> float:
        m = store.read_manifest()
        retained = range(m.get("oldest_version", 1), m["total_version"] + 1)
        inp = sum(int(frames[v]["bytes"].map(len).sum()) for v in retained)
        on_disk = sum(dir_files(store.root).values())
        return on_disk / inp

    def summary(self):
        items_per_s, report = super().summary()
        ing = [o for o in self.ops if o.ok and o.kind == "ingest"]
        res = [o for o in self.ops if o.ok and o.kind == "restore"]
        report["ingest_images_per_s"] = {
            "value": _ratio(sum(o.items for o in ing), sum(o.seconds for o in ing)),
            "unit": "images/s",
        }
        report["restore_mb_per_s"] = {
            "value": _ratio(sum(o.extra["mb"] for o in res), sum(o.seconds for o in res)),
            "unit": "MB/s",
        }
        report["restore_read_amp"] = {
            "value": _ratio(self.sums["scanned"], self.sums["restored"]), "unit": "ratio"
        }
        report["stored_bytes_per_input_byte"] = {
            "value": self.stored_ratio(self.store, self._by_version), "unit": "ratio"
        }
        report["versions_ingested"] = len(ing)
        return items_per_s, report

    # ---------------------------------------------------------------- traced
    def traced(self, tr, probe: bool = False) -> dict:
        """In one warehouse: versions 1..PRELOAD untimed as in the measured
        loop, the next two untraced (their median step is the end-to-end
        reference), then two traced. The probe pass traces both versions
        of the small series."""
        c = self.bench.counters
        if probe:
            paths, frames = self.probe_paths, self._probe_by_version
            preload, untraced, traced = [], [], [1, 2]
        else:
            paths, frames = self.paths, self._by_version
            preload = list(range(1, PRELOAD + 1))
            untraced = [PRELOAD + 1, PRELOAD + 2]
            traced = [PRELOAD + 3, PRELOAD + 4]
        from mfdedup_spark.config import EngineConfig
        from mfdedup_spark.plans.ingest import ingest_version
        from mfdedup_spark.plans.restore import restore_version
        from mfdedup_spark.plans.retention import apply_retention

        store = self._new_store("trace-probe" if probe else "trace")
        cfg = EngineConfig()

        def cycle(v: int) -> float:
            t0 = time.perf_counter()
            self._ingest(store, paths[v - 1])
            m = store.read_manifest()
            for rv in (m["total_version"], m.get("oldest_version", 1)):
                self._restore(store, rv)
            return time.perf_counter() - t0

        for v in preload:
            self._ingest(store, paths[v - 1])
        e2e_steps = [cycle(v) for v in untraced]
        traced_steps = []
        for v in traced:
            before = dir_files(store.root)
            t0 = time.perf_counter()
            with tr.span(f"backup_step_v{v}", layer=None, probe=probe):
                with tr.span("ingest_version", layer="ingest"):
                    res = ingest_version(store, self.spark.read.parquet(paths[v - 1]), cfg)
                    c["ingest.leaked_jobs"] += active_jobs(self.spark)
                after = dir_files(store.root)
                with tr.span("apply_retention", layer="retention"):
                    ret = apply_retention(store, cfg.retention)
                m = store.read_manifest()
                for rv in (m["total_version"], m.get("oldest_version", 1)):
                    with tr.span(f"restore_v{rv}", layer="restore"):
                        with tr.span("restore_version", layer="restore"):
                            df, stats = restore_version(store, rv)
                        c["restore.leaked_jobs"] += active_jobs(self.spark)
                        with tr.span("payload", layer="restore"):
                            out = df.select("seq_no", "image_id", "offset", "bytes", "caption").toPandas()
                    c["restore.prepare_s"] += tr.last("restore_version")
                    c["restore.payload_s"] += tr.last("payload")
                    c["restore.scanned_b"] += stats["scanned_bytes"]
                    c["restore._restored_b"] += stats["restored_bytes"]
                    c["restore.broadcast_route"] = int(
                        "BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString()
                    )
                    err = self._check_restore(out, frames[rv])
                    if err:
                        raise RuntimeError(err)
            traced_steps.append(time.perf_counter() - t0)
            new = {path: size for path, size in after.items() if before.get(path) != size}
            c["store.bytes_written"] += sum(new.values())
            c["store.files_written"] += len(new)
            # arrange rewrites every live chunk outside the new category
            new_cat = f"chunk_store/category={res['new_category']}/"
            c["store.bytes_rewritten_by_arrange"] += sum(
                size for path, size in new.items()
                if path.startswith("archived/")
                or (path.startswith("chunk_store/") and not path.startswith(new_cat))
            )
            c["retention.partitions_dropped"] += len(ret["dropped"])
            err, got = self._check_ndf(store, v, frames)
            if err:
                raise RuntimeError(err)
            c["classification.unique_rows"] += got["n_unique"]
            c["classification.internal_rows"] += got["n_internal"]
            c["classification.adjacent_rows"] += got["n_adjacent"]
            stages = store.read_stage_stats().where(f"version = {v}").toPandas()
            for _, r in stages.iterrows():
                if r["stage"] in INGEST_STAGES:
                    c[f"ingest.{r['stage']}_s"] += float(r["seconds"])
        c["store._ratio"] = self.stored_ratio(store, frames)
        wait_idle(self.spark)
        e2e = median(e2e_steps) if e2e_steps else float("nan")
        t = median(traced_steps)
        layer_sum = sum(
            tr.busy_in(layer, "backup_step", probe) for layer in ("ingest", "retention", "restore")
        ) / len(traced_steps)
        return {"e2e_s": e2e, "traced_s": t, "layer_sum_s": layer_sum}


# ============================================================= contract_mix
def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The canonical form tools/check_contract.py compares: sorted column
    names, object columns as str, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:200]}"
    return ""


class ContractMix(Workload):
    """A fixed list of contract queries over generated tables, each forced
    through a noop sink; one operation is one query."""

    name = "contract_mix"
    check_count = len(CONTRACT_MIX)  # oracle comparisons, counted as operations

    def __init__(self, bench):
        super().__init__(bench)
        self.probe_dir = data.contract_tables(bench.cache, CONTRACT_DOCS[1], bench.seed + 1)
        self._next = 0

    def prepare(self) -> None:
        self.dir = data.contract_tables(self.bench.cache, CONTRACT_DOCS[0], self.bench.seed)

    def _query(self, name: str):
        if name == "doc_cluster":
            from mfdedup_spark.contract import flagship

            return flagship
        import __spark_entry__

        return __spark_entry__.queries()[name]

    def _timed(self, name: str, sf_dir: str) -> float:
        fn = self._query(name)
        t0 = time.perf_counter()
        force(fn(self.spark, sf_dir))
        return time.perf_counter() - t0

    def warm_pass(self) -> None:
        for q in CONTRACT_MIX:
            self._timed(q, self.dir)

    def step(self) -> bool:
        q = CONTRACT_MIX[self._next % len(CONTRACT_MIX)]
        self._next += 1
        self._guarded(q, lambda: Op(q, self._timed(q, self.dir), 1, True))
        return True

    def measure(self, seconds: float) -> None:
        # at least one full pass of the mix, whatever the window
        super().measure(seconds)
        while self._next < len(CONTRACT_MIX):
            self.step()

    def check(self) -> list[str]:
        """Every query's result against its DuckDB oracle (outside the
        timed section); doc_cluster, which has no oracle, is checked for
        one cluster per document labelled by its minimum member."""
        import duckdb

        import __spark_entry__

        osql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in data.CONTRACT_TABLES:
                con.sql(f"create view {t} as select * from '{self.dir}/{t}.parquet'")
            errors = []
            for q in CONTRACT_MIX:
                got = self._query(q)(self.spark, self.dir).toPandas()
                if q == "doc_cluster":
                    n = len(pd.read_parquet(f"{self.dir}/documents.parquet", columns=["doc_id"]))
                    # cluster_id is the smallest member id in string order
                    ids = got.assign(s=got["doc_id"].astype(str))
                    mins = ids.groupby("cluster_id")["s"].min()
                    if (len(got) != n or got["doc_id"].nunique() != n
                            or not (mins.index.astype(str) == mins).all()):
                        errors.append(f"{q}: not one min-labelled cluster per document")
                    continue
                err = frames_equal(got, con.sql(osql[q]).df())
                if err:
                    errors.append(f"{q}: {err}")
            return errors
        finally:
            con.close()

    def cycle(self) -> tuple[float, float]:
        return len(CONTRACT_MIX), sum(self._median_of(q) for q in CONTRACT_MIX)

    def summary(self):
        items_per_s, report = super().summary()
        good = [o for o in self.ops if o.ok]
        report["contract_queries_per_s"] = {
            "value": _ratio(len(good), sum(o.seconds for o in good)), "unit": "queries/s"
        }
        return items_per_s, report

    # ---------------------------------------------------------------- traced
    def traced(self, tr, probe: bool = False) -> dict:
        sf_dir = self.probe_dir if probe else self.dir
        e2e = sum(self._timed(q, sf_dir) for q in CONTRACT_MIX)
        t0 = time.perf_counter()
        with tr.span("contract_pass", layer=None, probe=probe):
            for q in CONTRACT_MIX:
                with tr.span(q, layer=f"contract.{q}"):
                    force(self._query(q)(self.spark, sf_dir))
        traced_s = time.perf_counter() - t0
        layer_sum = sum(tr.busy_in(f"contract.{q}", "contract_pass", probe) for q in CONTRACT_MIX)
        return {"e2e_s": e2e, "traced_s": traced_s, "layer_sum_s": layer_sum}


WORKLOADS = {w.name: w for w in (DedupBatch, BackupCycle, ContractMix)}
