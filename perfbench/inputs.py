"""Seeded benchmark inputs: parquet corpora plus their planted truth.

Every input is a pure function of ``(workload, seed)`` and is written
once into the work directory, then reused read-only by later runs with
the same seed.  The program under test only ever sees the parquet files;
the truth stays on the benchmark side for the correctness checks.

Truth is three lists of clip-id pairs:

- ``positives``: planted duplicates that must share a cluster (recall);
- ``exact``: byte-identical-audio + identical-transcript pairs, a subset
  of ``positives`` that must ALL share a cluster;
- ``negatives``: same transcript, audio below the 30 dB SNR gate — must
  never be merged.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from quichash_spark.config import CLIPS_CONFIG
from quichash_spark.fixtures.clips import BLOCK, VOCAB, clip_row, gen_clip, truth_row
from quichash_spark.functions.audio import PCM16_PADDED_HEADER, encode_wav
from quichash_spark.functions.hashing import hamming64, simhash64_i64

#: fixture_batch corpus size (a multiple of the 20-clip fixture block)
BATCH_CLIPS = 600
#: incremental_reupload: prior corpus size, re-uploaded bases, and new
#: unique clips in the increment
PRIOR_CLIPS = 600
REUPLOAD_BASES = 60
NEW_UNIQUE_CLIPS = 40
#: new unique clips come from fixture blocks far above any prior window,
#: so the two never overlap (an ordinal of ``_blocks``)
NEW_BLOCK_BASE = 2_500_000
#: part files per corpus: enough input splits for local[4] scans
PART_FILES = 4
#: bump when anything below changes, so cached inputs are rebuilt
INPUT_VERSION = 3

ARROW_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()),
    ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
    ("codec", pa.string()), ("transcript", pa.string()),
])


def _cid(i: int) -> str:
    return f"clip_{i:08d}"


def _write_corpus(rows: list[dict], path: Path) -> None:
    path.mkdir(parents=True)
    n = len(rows)
    for k in range(PART_FILES):
        part = rows[k * n // PART_FILES:(k + 1) * n // PART_FILES]
        pq.write_table(
            pa.Table.from_pylist(part, schema=ARROW_SCHEMA),
            path / f"part-{k:05d}.parquet",
        )


def _blocks(first: int, n: int) -> list[int]:
    """``n`` fixture blocks, from the ``first``-th block that is not a
    hot-band block on.  A hot-band block (``block % 5 == 4``) gives 12 of
    its clips the one-token transcript "ok", which all share one LSH
    bucket.  At the 400k-clip scale that bucket is far over the per-bucket
    cap and dropped; in a corpus of a few hundred clips it would stay under
    the cap, and its all-pairs expansion would swamp verify.  Leaving those
    blocks out leaves verify the planted pairs and natural collisions, as at
    that scale."""
    return [5 * (j // 4) + j % 4 for j in range(first, first + n)]


def _indices(blocks: list[int]) -> list[int]:
    return [b * BLOCK + off for b in blocks for off in range(BLOCK)]


def fixture_truth(indices: list[int]) -> dict[str, list]:
    """Planted truth of the fixture clips ``indices`` (whole blocks), read
    from the fixture's own truth rows plus its documented block layout."""
    groups: dict[str, list[str]] = {}
    exact: list[list[str]] = []
    negatives: list[list[str]] = []
    for i in indices:
        t = truth_row(i)
        if t["kind"] != "unique":
            groups.setdefault(t["true_cluster_id"], []).append(t["clip_id"])
        off, block = i % BLOCK, i // BLOCK
        if off == 13:
            exact.append([_cid(i - 1), _cid(i)])
        # off 8 of every third block re-uses off 7's transcript over audio
        # degraded below the SNR gate: a planted true negative
        if off == 8 and block % 3 == 1 and i >= BLOCK:
            negatives.append([_cid(i - 1), _cid(i)])
    positives = [sorted(m) for m in groups.values() if len(m) == 2]
    return {"positives": positives, "exact": exact, "negatives": negatives}


def _merge_truth(*parts: dict[str, list]) -> dict[str, list]:
    return {k: [p for t in parts for p in t[k]] for k in ("positives", "exact", "negatives")}


def _is_plain_unique(i: int) -> bool:
    """A prior clip with a distinctive transcript and no planted partner:
    offsets 0-6 and 9-11, outside the edge cases."""
    off = i % BLOCK
    return i > 5 and off <= 11 and off not in (7, 8)


def _noisy(pcm: np.ndarray, snr_db: float, rng: np.random.Generator) -> np.ndarray:
    x = pcm.astype(np.float64)
    rms = float(np.sqrt(np.mean(x ** 2))) or 1.0
    noisy = x + rng.normal(0.0, rms / 10.0 ** (snr_db / 20.0), size=x.size)
    return np.clip(noisy, -32000, 32000).astype(np.int16)


def _edit_tokens(text: str, rng: np.random.Generator) -> str | None:
    """<= 2 token substitutions whose SimHash stays within the verify
    radius; None when no such edit is found."""
    toks = text.split()
    base = simhash64_i64(text)
    for n_subs in (2, 1):
        for _ in range(200):
            cand = list(toks)
            for p in rng.choice(len(toks), size=n_subs, replace=False):
                cand[int(p)] = VOCAB[int(rng.integers(len(VOCAB)))]
            out = " ".join(cand)
            if out != text and hamming64(simhash64_i64(out), base) <= CLIPS_CONFIG.simhash_hamming_r:
                return out
    return None


def _reupload_rows(seed: int, prior: list[int]) -> tuple[list[dict], dict[str, list]]:
    """Re-uploads of prior clips, several per base: an exact copy under the
    other PCM wrapper, a noisy WAV re-encode at 33-40 dB, a <= 2-token
    transcript edit over identical audio, and (for half the bases) a WAV
    re-encode below the gate at 8-18 dB — the negative."""
    rng = np.random.default_rng([seed, 7331])
    pool = [i for i in prior if _is_plain_unique(i)]
    bases = sorted(int(i) for i in rng.choice(pool, size=REUPLOAD_BASES, replace=False))
    rows: list[dict] = []
    truth: dict[str, list] = {"positives": [], "exact": [], "negatives": []}
    for b in bases:
        base = gen_clip(b)
        row0 = clip_row(b)
        pcm, text, sr = base["pcm"], row0["transcript"], row0["sr_hz"]
        raw = np.ascontiguousarray(pcm, dtype="<i2").tobytes()

        def add(kind: str, data: bytes, codec: str, transcript: str) -> str:
            cid = f"reup_{seed:06d}_{b:08d}_{kind}"
            rows.append({"clip_id": cid, "bytes": data, "sr_hz": sr,
                         "dur_ms": row0["dur_ms"], "codec": codec,
                         "transcript": transcript})
            return cid

        if row0["codec"] == "pcm16":
            exact = add("exact", bytes(PCM16_PADDED_HEADER) + raw, "pcm16_padded", text)
        else:
            exact = add("exact", raw, "pcm16", text)
        truth["exact"].append([_cid(b), exact])
        truth["positives"].append([_cid(b), exact])
        noisy = _noisy(pcm, float(rng.uniform(33.0, 40.0)), rng)
        truth["positives"].append(
            [_cid(b), add("noisy", encode_wav(noisy, sr), "wav", text)]
        )
        edited = _edit_tokens(text, rng)
        if edited is not None:
            truth["positives"].append([_cid(b), add("edit", raw, "pcm16", edited)])
        if rng.random() < 0.5:
            bad = _noisy(pcm, float(rng.uniform(8.0, 18.0)), rng)
            truth["negatives"].append(
                [_cid(b), add("neg", encode_wav(bad, sr), "wav", text)]
            )
    return rows, truth


def _build(root: Path, write) -> Path:
    """Atomic build-once: ``write(tmp_dir)`` then rename into place."""
    if (root / "truth.json").exists():
        return root
    shutil.rmtree(root, ignore_errors=True)
    tmp = root.with_name(root.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    truth = write(tmp)
    (tmp / "truth.json").write_text(json.dumps(truth))
    os.replace(tmp, root)
    return root


def fixture_batch(work: Path, seed: int) -> Path:
    """The seed's ``N / 20`` fixture blocks (see ``_blocks``): ``corpus/``
    + truth."""
    idx = _indices(_blocks(seed * (BATCH_CLIPS // BLOCK), BATCH_CLIPS // BLOCK))

    def write(tmp: Path) -> dict:
        _write_corpus([clip_row(i) for i in idx], tmp / "corpus")
        return fixture_truth(idx)

    return _build(work / "inputs" / f"v{INPUT_VERSION}_fixture_batch_s{seed}", write)


def incremental_reupload(work: Path, seed: int) -> Path:
    """``prior/`` (the seed's fixture blocks) and ``increment/`` (re-uploads
    of prior clips plus a minority of new unique fixture clips) + truth over
    the union."""
    n_prior, n_new = PRIOR_CLIPS // BLOCK, NEW_UNIQUE_CLIPS // BLOCK
    prior = _indices(_blocks(seed * n_prior, n_prior))
    new = _indices(_blocks(NEW_BLOCK_BASE + seed * n_new, n_new))

    def write(tmp: Path) -> dict:
        _write_corpus([clip_row(i) for i in prior], tmp / "prior")
        reup, reup_truth = _reupload_rows(seed, prior)
        _write_corpus(reup + [clip_row(i) for i in new], tmp / "increment")
        return _merge_truth(fixture_truth(prior), fixture_truth(new), reup_truth)

    return _build(work / "inputs" / f"v{INPUT_VERSION}_incremental_reupload_s{seed}", write)


BUILDERS = {"fixture_batch": fixture_batch, "incremental_reupload": incremental_reupload}
