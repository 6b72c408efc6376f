"""Traced pass: spans around the program's public calls, Spark task metrics
from the event log, and counts from the checkpoint tables.

Spans are recorded from the benchmark's side only.  The wrappers replace
the public names where ``quichash_spark.pipeline`` looks them up at call
time: the module-level imports of ``pipeline``, ``lsh.unified_candidates``
(imported inside ``build_candidates``) and the ``CheckpointStore`` methods.
Each span's name becomes the Spark job description, so every job in the
event log maps back to the innermost span that submitted it.

Spark is lazy: a stage's work runs inside ``CheckpointStore.write`` for
that stage.  A layer's time is therefore its write span plus the span of
its own public call (which holds that call's eager jobs).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from functools import wraps
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: pipeline layers that own one checkpoint stage each: layer -> stages
LAYER_STAGES = {
    "udfs": ("signatures",),
    "exact_dedup": ("exact_groups",),
    "lsh": ("candidates", "buckets_dropped"),
    "verify": ("verified_edges",),
    "connected_components": ("clusters",),
}
STAGE_LAYER = {s: layer for layer, stages in LAYER_STAGES.items() for s in stages}
_DESC_PREFIX = "perfbench:"
_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"{_DESC_PREFIX}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            parent = f"{_DESC_PREFIX}{self._stack[-1]}" if self._stack else None
            self.sc.setJobDescription(parent)

    def wrap(self, fn, name_of):
        @wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, prior_dir: str | None = None):
        """Wrap the public calls for the duration of one pass."""
        from quichash_spark import pipeline, storage
        from quichash_spark.operators import lsh

        def fixed(name):
            return lambda a, k: name

        def store_call(op, pos):
            """Span name of a CheckpointStore call: its stage, and whether
            the store is the prior checkpoint of an incremental pass."""
            def name_of(a, k):
                stage = k.get("stage", a[pos] if len(a) > pos else None)
                kind = "prior_" if prior_dir is not None and str(a[0].base) == prior_dir else ""
                return f"storage.{kind}{op}/{stage}"
            return name_of

        targets = [
            (pipeline, "compute_signatures", fixed("udfs.compute_signatures")),
            (pipeline, "exact_duplicate_groups", fixed("exact_dedup.exact_duplicate_groups")),
            (lsh, "unified_candidates", fixed("lsh.unified_candidates")),
            (pipeline, "verify_candidates", fixed("verify.verify_candidates")),
            (pipeline, "connected_components", fixed("connected_components.connected_components")),
            (storage.CheckpointStore, "write", store_call("write", 2)),
            (storage.CheckpointStore, "append_metrics", store_call("append_metrics", 1)),
            (storage.CheckpointStore, "read", store_call("read", 1)),
        ]
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for owner, attr, name_of in targets:
                setattr(owner, attr, self.wrap(getattr(owner, attr), name_of))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def _layer_of(span: dict) -> str | None:
    """The pipeline layer a span's time belongs to; None for the prior
    checkpoint's reads, which belong to no stage of the pass."""
    name = span["name"]
    if name.startswith("storage.prior_"):
        return None
    if name.startswith("storage."):
        stage = name.split("/", 1)[1]
        return STAGE_LAYER.get(stage)
    mod = name.split(".", 1)[0]
    return mod if mod in LAYER_STAGES else None


def read_event_log(log_dir: Path) -> tuple[dict[int, str | None], dict[int, list[dict]]]:
    """(job id -> description, stage id -> task records) from the one
    uncompressed, non-rolling event log in ``log_dir``."""
    (log,) = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    with log.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                duration = info["Finish Time"] - info["Launch Time"]
                run = m.get("Executor Run Time", 0)
                # the Spark UI's scheduler delay: task wall not spent
                # deserializing, running, serializing or fetching results
                overhead = (m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0)
                            + (info["Finish Time"] - info["Getting Result Time"]
                               if info.get("Getting Result Time") else 0))
                tasks.setdefault(ev["Stage ID"], []).append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "run_ms": run,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sched_ms": max(0, duration - run - overhead),
                    "read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                })
    return job_desc, tasks


def span_metrics(spans: list[dict], root_id: int, job_desc: dict, tasks: dict) -> dict:
    """Per-layer stage metrics for the root span's subtree, plus the
    pipeline-wide job/stage/task counts and the root's self time."""
    by_id = {s["id"]: s for s in spans}

    def owner(sid: int | None) -> tuple[bool, str | None]:
        """(inside root subtree, layer) for a span id."""
        layer, inside = None, False
        while sid is not None:
            s = by_id[sid]
            layer = layer or _layer_of(s)
            if sid == root_id:
                inside = True
            sid = s["parent"]
        return inside, layer

    def span_of(desc: str | None) -> int | None:
        if desc and desc.startswith(_DESC_PREFIX):
            return int(desc[len(_DESC_PREFIX):])
        return None

    job_layer: dict[int, str | None] = {}
    for jid, desc in job_desc.items():
        inside, layer = owner(span_of(desc))
        if inside:
            job_layer[jid] = layer or "pipeline"

    out: dict[str, float] = {}
    root = by_id[root_id]
    children = [s for s in spans if s["parent"] == root_id]
    out["pipeline.wall_s"] = root["end"] - root["start"]
    out["pipeline.driver_gap_s"] = out["pipeline.wall_s"] - sum(
        c["end"] - c["start"] for c in children)
    out["storage.prior_read_s"] = sum(
        s["end"] - s["start"] for s in spans
        if s["name"].startswith("storage.prior_read/") and owner(s["id"])[0])
    for layer in LAYER_STAGES:
        out[f"{layer}.stage_s"] = sum(
            c["end"] - c["start"] for c in children if _layer_of(c) == layer)
        stage_tasks = {sid: ts for sid, ts in tasks.items()
                       if ts and job_layer.get(ts[0]["job"]) == layer}
        flat = [t for ts in stage_tasks.values() for t in ts]
        out[f"{layer}.task_s"] = sum(t["run_ms"] for t in flat) / 1e3
        out[f"{layer}.gc_s"] = sum(t["gc_ms"] for t in flat) / 1e3
        out[f"{layer}.sched_wait_s"] = sum(t["sched_ms"] for t in flat) / 1e3
        out[f"{layer}.shuffle_read_mb"] = sum(t["read_b"] for t in flat) / _MB
        out[f"{layer}.shuffle_write_mb"] = sum(t["write_b"] for t in flat) / _MB
        out[f"{layer}.spill_mb"] = sum(t["spill_b"] for t in flat) / _MB
        # skew of the layer's heaviest stage: its slowest task over its median
        skew = 0.0
        if stage_tasks:
            heavy = max(stage_tasks.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
            med = statistics.median(t["run_ms"] for t in heavy)
            skew = max(t["run_ms"] for t in heavy) / med if med > 0 else 1.0
        out[f"{layer}.task_skew"] = skew
    pipeline_stages = {sid for sid, ts in tasks.items() if ts and ts[0]["job"] in job_layer}
    out["pipeline.spark_jobs"] = len(job_layer)
    out["pipeline.spark_stages"] = len(pipeline_stages)
    out["pipeline.tasks"] = sum(len(tasks[s]) for s in pipeline_stages)
    # the per-round jobs of the CC call itself (its write job excluded)
    out["connected_components.jobs"] = sum(
        1 for jid in job_layer
        if by_id[span_of(job_desc[jid])]["name"].startswith("connected_components."))
    return out


def _table(ckpt: Path, stage: str, columns: list[str]):
    return pq.read_table(ckpt / stage, columns=columns)


def checkpoint_counts(ckpt: Path, cfg, prior: Path | None = None) -> dict:
    """Counts from the manifest, ``_metrics`` and the stage tables of one
    pass's checkpoint (no Spark).  ``prior``: the prior checkpoint of an
    incremental pass, whose signatures the candidate stage also buckets
    and whose clusters enter connected components as edges."""
    manifest = json.loads((ckpt / "_manifest.json").read_text())
    out: dict[str, float] = {}

    sig = _table(ckpt, "signatures", ["clip_id", "decode_ok"])
    out["udfs.clips"] = sig.num_rows
    out["udfs.decode_failed"] = sig.num_rows - int(np.sum(sig.column("decode_ok").to_numpy(zero_copy_only=False)))

    # the unified bucket table: text bands, pcm bands and SimHash chunks
    # per clip, band_idx offsetting each channel (lsh.unified_bucket_table)
    idx_parts, key_parts = [], []
    for d in [ckpt] + ([prior] if prior else []):
        t = _table(d, "signatures", ["band_keys_text", "band_keys_pcm", "simhash"])
        t = t.filter(pc.and_(pc.and_(pc.is_valid(t.column("band_keys_text")),
                                     pc.is_valid(t.column("band_keys_pcm"))),
                             pc.is_valid(t.column("simhash"))))
        for j, col in enumerate(("band_keys_text", "band_keys_pcm")):
            arr = t.column(col).combine_chunks()
            width = arr.value_lengths().to_numpy(zero_copy_only=False)
            pos = np.concatenate([np.arange(w) for w in width]) if len(width) else np.empty(0)
            idx_parts.append(pos.astype(np.int64) + j * cfg.bands)
            key_parts.append(arr.flatten().to_numpy().astype(np.int64))
        sims = t.column("simhash").to_numpy().astype(np.int64).view(np.uint64)
        width = 64 // cfg.simhash_chunks
        for c in range(cfg.simhash_chunks):
            idx_parts.append(np.full(len(sims), 2 * cfg.bands + c, np.int64))
            key_parts.append(((sims >> np.uint64(c * width)) & np.uint64((1 << width) - 1)).astype(np.int64))
    idx, keys = np.concatenate(idx_parts), np.concatenate(key_parts)
    out["lsh.band_rows"] = len(idx)
    _, counts = np.unique(np.stack([idx, keys], axis=1), axis=0, return_counts=True)
    out["lsh.multi_buckets"] = int(np.sum(counts > 1))
    dropped = list((ckpt / "_metrics").glob("buckets_dropped_*.parquet"))
    out["lsh.dropped_buckets"] = sum(
        int(np.sum(pq.read_table(p, columns=["rows_out"]).column("rows_out").to_numpy()))
        for p in dropped)
    out["lsh.pairs"] = manifest["candidates"]["rows"]

    ve = _table(ckpt, "verified_edges", ["clip_a", "clip_b", "snr_db", "accepted"])
    snr = ve.column("snr_db").to_numpy(zero_copy_only=False)
    accepted = ve.column("accepted").to_numpy(zero_copy_only=False)
    # the JVM fast path reports the SNR cap for identical decoded audio
    fast = snr == cfg.snr_cap_db
    slow_ids = set(np.asarray(ve.column("clip_a").to_pylist(), dtype=object)[~fast]) | set(
        np.asarray(ve.column("clip_b").to_pylist(), dtype=object)[~fast])
    out["verify.pairs"] = ve.num_rows
    out["verify.fast_pairs"] = int(np.sum(fast))
    out["verify.slow_pairs"] = int(np.sum(~fast))
    out["verify.accepted"] = int(np.sum(accepted))
    out["verify.payload_rows"] = len(slow_ids)
    out["lsh.useful_ratio"] = out["verify.accepted"] / max(1, out["lsh.pairs"])

    # connected components' input: accepted pairs, exact-group star edges
    # (only those touching a new clip in an increment), prior assignments
    new_ids = set(sig.column("clip_id").to_pylist())
    star = 0
    for g in _table(ckpt, "exact_groups", ["clip_ids"]).column("clip_ids").to_pylist():
        star += sum(1 for c in g[1:] if prior is None or g[0] in new_ids or c in new_ids)
    prior_edges = 0
    if prior is not None:
        pcl = _table(prior, "clusters", ["clip_id", "cluster_id"])
        prior_edges = int(np.sum(pc.not_equal(pcl.column("clip_id"), pcl.column("cluster_id")).to_numpy(zero_copy_only=False)))
    out["connected_components.edges"] = out["verify.accepted"] + star + prior_edges
    cl = _table(ckpt, "clusters", ["cluster_id"]).column("cluster_id").to_pylist()
    _, csize = np.unique(np.asarray(cl, dtype=object), return_counts=True)
    out["connected_components.clusters"] = len(csize)
    out["connected_components.max_cluster"] = int(csize.max()) if len(csize) else 0

    files = [p for p in ckpt.rglob("*") if p.is_file()]
    out["storage.files"] = len(files)
    out["storage.written_mb"] = sum(p.stat().st_size for p in files) / _MB
    return out
