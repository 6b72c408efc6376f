"""End-to-end benchmark of the clips dedup engine (see README.md).

    python3 perfbench/run.py --workload fixture_batch --seed 0 --seconds 20 --trace 0

Prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``.  Diagnostics go
to stderr.  Inputs are generated from ``--seed`` into ``.perfbench_work/``
at the repository root and reused by later runs with the same seed; a
traced run leaves its spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

T0 = time.monotonic()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("fixture_batch", "incremental_reupload")
#: a run must end within this many seconds of its start
DEADLINE_S = 170.0
#: driver JVM heap (session.py reads SPARK_DRIVER_MEM)
DRIVER_MEM = "2g"

END_TO_END = {
    "clips_per_s": "clips/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "ratio",
}

_LAYERS = ("udfs", "exact_dedup", "lsh", "verify", "connected_components")
_STAGE_UNITS = {
    "stage_s": "s", "task_s": "s", "gc_s": "s", "sched_wait_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in _LAYERS for m, u in _STAGE_UNITS.items()},
    "udfs.clips": "count", "udfs.decode_failed": "count", "udfs.batch_us_per_clip": "us",
    "audio.decode_us": "us", "audio.frame_bits_us": "us", "audio.pcm_shingle_us": "us",
    "hashing.text_shingle_us": "us", "hashing.minhash_us": "us",
    "hashing.band_hash_us": "us", "hashing.simhash_us": "us", "hashing.digest_us": "us",
    "lsh.band_rows": "count", "lsh.multi_buckets": "count", "lsh.dropped_buckets": "count",
    "lsh.pairs": "count", "lsh.useful_ratio": "ratio",
    "verify.pairs": "count", "verify.fast_pairs": "count", "verify.slow_pairs": "count",
    "verify.accepted": "count", "verify.payload_rows": "count", "verify.pair_us": "us",
    "connected_components.edges": "count", "connected_components.jobs": "count",
    "connected_components.clusters": "count", "connected_components.max_cluster": "count",
    "pipeline.clips_per_s_1core": "clips/s", "pipeline.scaling_efficiency": "ratio",
    "pipeline.wall_s": "s", "pipeline.driver_gap_s": "s", "pipeline.spark_jobs": "count",
    "pipeline.spark_stages": "count", "pipeline.tasks": "count",
    "session.start_s": "s",
    "storage.written_mb": "MB", "storage.files": "count", "storage.prior_read_s": "s",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


# -- process tree ------------------------------------------------------------

def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def reap(pids: set[int], grace_s: float) -> None:
    """Wait for every pid to end; kill what is still alive after the grace."""
    end = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


# -- workers -------------------------------------------------------------------

def _env(run_dir: Path) -> dict:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark_local")
    # a fixed driver heap: the JVM's resident size then depends on the
    # work, not on how far an unbounded heap happened to grow
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["TMPDIR"] = str(tmp)
    # keep the temp files of the launcher and driver JVMs inside the work dir
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        env[var] = " ".join(
            filter(None, [env.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    return env


def _expect_done(proc: subprocess.Popen, log_path: Path) -> dict:
    from perfbench.worker import PREFIX

    for line in proc.stdout:
        if line.startswith(PREFIX):
            return json.loads(line[len(PREFIX):])
    raise RuntimeError(f"worker ended without a result:\n{log_path.read_text()[-4000:]}")


def measure(workload: str, inputs: Path, seconds: float, trace: bool, run_dir: Path,
            spans_out: Path) -> dict:
    """Run the worker (one driver process, one JVM), collect its result and
    wait until its whole process tree has ended."""
    spec = {
        "workload": workload, "inputs": str(inputs), "trace": trace, "work": str(run_dir),
        "seconds": seconds, "spans_out": str(spans_out),
    }
    from perfbench import proctree

    env = _env(run_dir)
    log("starting worker")
    with open(run_dir / "worker.log", "w") as err:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"), json.dumps(spec)],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=err,
            cwd=run_dir, env=env, text=True,
        )
        # every pid of the tree, so that all of them can be waited for
        watch = proctree.Sampler(proc.pid, interval=0.5)
        watch.start()
        timer = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - T0)), proc.kill)
        timer.start()
        try:
            done = _expect_done(proc, run_dir / "worker.log")
            log("worker reported")
            proc.wait()
        finally:
            timer.cancel()
            watch.stop()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            log("worker exited")
            reap(watch.seen, grace_s=20.0)
            log("process tree ended")
    for k, lv in done["levels"].items():
        log(f"local[{k}] start={lv['start_s']:.1f}s warm={lv['warm_s']:.1f}s walls={lv['walls']} "
            f"peak RSS MB={[round(x) for x in lv['rss_mb']]}")
    log(f"setup_s={done['setup_s']:.1f} attempted={done['attempted']} failed={done['failed']}")
    for p in done["problems"]:
        log(f"FAILED: {p}")
    return done


def clips_per_s(done: dict, k: int) -> float:
    """Clips per second over level ``k``'s timed passes: the clips of all
    of them ÷ their summed walls."""
    walls = done["levels"][str(k)]["walls"]
    if not walls:
        raise RuntimeError(f"local[{k}] produced no correct timed pass")
    return done["n_clips"] * len(walls) / sum(walls)


def end_to_end(done: dict) -> dict:
    return {
        "clips_per_s": clips_per_s(done, 4),
        "setup_s": done["setup_s"],
        "peak_rss_mb": statistics.median(done["levels"]["4"]["rss_mb"]),
        "dup_pair_recall": min(done["recalls"]),
    }


def scaling(done: dict) -> dict:
    """The N->4N pair of a traced run, which times both levels."""
    cps4, cps1 = clips_per_s(done, 4), clips_per_s(done, 1)
    return {"pipeline.clips_per_s_1core": cps1,
            "pipeline.scaling_efficiency": cps4 / (4.0 * cps1)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not (ROOT / "quichash_spark" / "pipeline.py").is_file():
        log(f"no quichash_spark sources under {ROOT}: nothing to measure")
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import inputs

    t0 = time.monotonic()
    data = inputs.BUILDERS[args.workload](WORK, args.seed)
    log(f"inputs ready in {time.monotonic() - t0:.1f}s: {data}")

    run_dir = WORK / f"run_{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        spans_out = WORK / "traces" / f"{args.workload}_s{args.seed}_spans.json"
        spans_out.parent.mkdir(parents=True, exist_ok=True)
        res = measure(args.workload, data, args.seconds, bool(args.trace), run_dir, spans_out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        values = {**(res.get("layer") or {}), **scaling(res)}
        missing = sorted(set(PER_LAYER) - set(values))
        if missing:
            raise RuntimeError(f"traced pass produced no value for {missing}")
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = end_to_end(res)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
