"""Kernel microrun: the signature and verify primitives timed per clip with
no Spark, over a fixed sample of the workload's corpus.

Each primitive is timed alone, in the order ``signature_record_batch``
composes them, and the composed outputs are compared with that kernel's
own columns on the same sample — so the per-primitive split describes
exactly the work the signatures stage does.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from quichash_spark.config import CLIPS_CONFIG
from quichash_spark.functions import audio, hashing
from quichash_spark.functions.udfs import signature_record_batch
from quichash_spark.operators.verify import verify_pair

#: clips per sample (the first rows of the workload's timed corpus)
SAMPLE_CLIPS = 200
#: planted pairs timed through the verify kernel
VERIFY_PAIRS = 100
#: repetitions per primitive; the median repetition is reported
REPEATS = 3


def _sample(inputs: Path, workload: str) -> pa.RecordBatch:
    src = inputs / ("corpus" if workload == "fixture_batch" else "increment")
    t = pq.read_table(src, columns=["clip_id", "bytes", "codec", "transcript"])
    return t.slice(0, SAMPLE_CLIPS).combine_chunks().to_batches()[0]


def _timed(fn) -> tuple[float, object]:
    """(median seconds over REPEATS calls, last result)."""
    secs, out = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn()
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs), out


def microrun(inputs: Path, workload: str, truth: dict) -> dict:
    """Per-clip microseconds of each primitive, plus ``ok``: whether the
    composed primitives reproduce ``signature_record_batch``'s columns."""
    cfg = CLIPS_CONFIG
    rb = _sample(inputs, workload)
    n = rb.num_rows
    a, b = hashing.minhash_params(cfg)
    blobs = rb.column(1).to_pylist()
    codecs = rb.column(2).to_pylist()
    canons = [" ".join(t.split()) if isinstance(t, str) else "" for t in rb.column(3).to_pylist()]
    us = {}

    def per_clip(name: str, fn):
        sec, out = _timed(fn)
        us[name] = sec * 1e6 / n
        return out

    pcms = per_clip("audio.decode_us", lambda: [audio.decode_pcm(x, c) for x, c in zip(blobs, codecs)])
    words = per_clip("audio.frame_bits_us", lambda: audio.pcm_frame_bits_batch(pcms, cfg))
    pcm_sets = per_clip("audio.pcm_shingle_us", lambda: [
        audio.shingles_from_words(w, cfg) if p is not None else np.empty(0, np.uint64)
        for p, w in zip(pcms, words)])
    text_sets = per_clip("hashing.text_shingle_us",
                         lambda: [hashing.shingle_hashes(c, cfg.k_shingle) for c in canons])
    mh_text, mh_pcm = per_clip("hashing.minhash_us", lambda: (
        hashing.minhash_signature_batch(text_sets, a, b),
        hashing.minhash_signature_batch(pcm_sets, a, b)))
    bk_text, bk_pcm = per_clip("hashing.band_hash_us", lambda: (
        hashing.band_hashes_batch(mh_text, cfg.bands, cfg.rows),
        hashing.band_hashes_batch(mh_pcm, cfg.bands, cfg.rows)))
    sims = per_clip("hashing.simhash_us", lambda: [hashing.simhash64_i64(c) for c in canons])
    digests = per_clip("hashing.digest_us", lambda: [
        hashing.content_and_pcm_hash(p, c) if p is not None else (None, None)
        for p, c in zip(pcms, canons)])
    ref = per_clip("udfs.batch_us_per_clip", lambda: signature_record_batch(rb, cfg, a, b, True))

    def i64(mat: np.ndarray) -> list:
        return np.ascontiguousarray(mat).view(np.int64).tolist()

    composed = {
        "content_hash": [d[0] for d in digests],
        "pcm_hash": [d[1] for d in digests],
        "minhash_text": i64(mh_text),
        "minhash_pcm": i64(mh_pcm),
        "band_keys_text": i64(bk_text),
        "band_keys_pcm": i64(bk_pcm),
        "simhash": sims,
        "n_frames": [int(w.size) for w in words],
        "n_samples": [int(p.size) if p is not None else 0 for p in pcms],
        "transcript": canons,
        "decode_ok": [p is not None for p in pcms],
    }
    ok = all(ref.column(ref.schema.get_field_index(k)).to_pylist() == v for k, v in composed.items())

    # verify kernel over planted pairs (positives and below-gate negatives)
    # of the whole input (the re-uploads, for an increment), decoded outside
    # the timing
    half = VERIFY_PAIRS // 2
    pairs = truth["positives"][-half:] + truth["negatives"][-half:]
    want = {c for p in pairs for c in p}
    clips = {}
    for d in sorted(p for p in inputs.iterdir() if p.is_dir()):
        t = pq.read_table(d, columns=["clip_id", "bytes", "codec", "transcript"])
        for cid, data, codec, text in zip(*(t.column(k).to_pylist() for k in t.column_names)):
            if cid in want:
                clips[cid] = (audio.decode_pcm(data, codec), " ".join(text.split()))
    sec, _ = _timed(lambda: [verify_pair(clips[x][0], clips[y][0], clips[x][1], clips[y][1], cfg)
                             for x, y in pairs])
    us["verify.pair_us"] = sec * 1e6 / len(pairs)
    us["ok"] = ok
    return us
