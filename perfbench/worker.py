"""The Spark side of one benchmark run: one driver process, one JVM.

Started by ``run.py`` with a JSON spec as its only argument.  It sets up
``local[4]`` (session start plus warm-up), then runs timed passes in a
closed loop — the next pass starts only after the previous one finished —
for the run's seconds, and at least ``MIN_PASSES``.  Every pass is checked
against the planted truth outside the timed region; a pass that fails its
check is never a timing sample.

With tracing on, one more pass at ``local[4]`` runs with spans and the
Spark event log after the timed passes.  Then the context restarts at
``local[1]`` in the same JVM for the N side of the N->4N pair, and the
kernel microrun follows at the end with Spark stopped.

The result goes to the controller as one stdout line prefixed
``@perfbench``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import proctree  # noqa: E402
from perfbench.checks import check_clusters  # noqa: E402

PREFIX = "@perfbench "
#: Spark levels, timed in this order in one JVM, with each level's share
#: of the run's seconds.  A run without tracing times ``local[4]`` only;
#: ``local[1]`` is timed in traced runs, for the per-layer N->4N pair.
LEVELS = ((4, 1.0), (1, 0.5))
#: the least number of timed passes per workload and level: about 20 s of
#: passes at local[4].  The registered seconds rarely add one more, so every
#: run times the same passes of the warm-up curve, whatever the host's speed.
MIN_PASSES = {
    "fixture_batch": {4: 3, 1: 2},
    "incremental_reupload": {4: 2, 1: 2},
}
#: the level of the traced pass
TRACED_LEVEL = 4
#: warm-up per workload and level, counted in set-up time.  "pass": one
#: full untimed pass — the first pass in a cold JVM is 2-3x a steady one.
#: "prior": batch-cluster the prior corpus that the increment is added to;
#: this is the cold first pass of the incremental run.  "spawn": the
#: signature kernel over the corpus with a no-op sink, which starts and
#: warms the new context's Python worker; JIT and codegen state carry over
#: from the local[4] passes in the same JVM.
WARM_UP = {
    "fixture_batch": {4: "pass", 1: "spawn"},
    "incremental_reupload": {4: "prior", 1: "spawn"},
}


class Run:
    """The workload's inputs, passes and their checks in one driver."""

    def __init__(self, spec: dict) -> None:
        import pyarrow.parquet as pq

        self.spec = spec
        self.workload = spec["workload"]
        self.inputs = Path(spec["inputs"])
        self.work = Path(spec["work"])
        self.truth = json.loads((self.inputs / "truth.json").read_text())
        self.prior: Path | None = None
        self.n_pass = 0
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.problems: list[str] = []

        def ids(d: str) -> set[str]:
            return set(pq.read_table(self.inputs / d, columns=["clip_id"]).column("clip_id").to_pylist())

        if self.workload == "fixture_batch":
            self.expected = ids("corpus")
            self.n_clips = len(self.expected)
        else:
            new = ids("increment")
            self.expected = ids("prior") | new
            self.n_clips = len(new)

    def start(self, k: int) -> float:
        """Start the Spark session at ``local[k]``; its start seconds."""
        from quichash_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.spec["trace"]:
            log_dir = self.work / f"eventlog_local{k}"
            log_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark(
            f"local[{k}]", app_name=f"perfbench_{self.workload}_local{k}",
            shuffle_partitions=2 * k, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def build_prior(self) -> None:
        """Batch-cluster the prior corpus; incremental passes reuse the
        checkpoint read-only."""
        from quichash_spark.pipeline import run_pipeline

        self.prior = self.work / "prior"
        run_pipeline(self.spark, self.spark.read.parquet(str(self.inputs / "prior")), str(self.prior))

    def spawn_workers(self) -> None:
        from quichash_spark.config import CLIPS_CONFIG
        from quichash_spark.functions.udfs import compute_signatures

        src = "corpus" if self.workload == "fixture_batch" else "increment"
        clips = self.spark.read.parquet(str(self.inputs / src))
        compute_signatures(clips, CLIPS_CONFIG, include_minhash=False).write.format(
            "noop").mode("overwrite").save()

    def run_pass(self, tracer=None) -> tuple[float, Path]:
        """One pass into a fresh checkpoint dir: (wall seconds, dir)."""
        from quichash_spark import pipeline

        self.n_pass += 1
        ckpt = self.work / f"pass_{self.n_pass}"
        read = self.spark.read.parquet
        if self.workload == "fixture_batch":
            clips = read(str(self.inputs / "corpus"))
            root = "pipeline.run_pipeline"

            def call():
                pipeline.run_pipeline(self.spark, clips, str(ckpt))
        else:
            new = read(str(self.inputs / "increment"))
            all_clips = read(str(self.inputs / "prior"), str(self.inputs / "increment"))
            root = "pipeline.incremental_update"

            def call():
                pipeline.incremental_update(self.spark, str(self.prior), new, all_clips, str(ckpt))
        t0 = time.monotonic()
        if tracer is None:
            call()
        else:
            with tracer.patched(str(self.prior) if self.prior else None), tracer.span(root) as span:
                call()
            self.root_span = span["id"]
        return time.monotonic() - t0, ckpt

    def check(self, ckpt: Path) -> bool:
        self.attempted += 1
        try:
            res = check_clusters(ckpt / "clusters", self.truth, self.expected)
        except Exception as exc:  # noqa: BLE001 — an unreadable output is a failed pass
            res = {"ok": False, "error": repr(exc)}
        if "recall" in res:
            self.recalls.append(res["recall"])
        if not res["ok"]:
            self.failed += 1
            self.problems.append(json.dumps(res))
        return res["ok"]

    def one(self, tracer=None, keep: bool = False) -> float | None:
        """Run and check one pass; its wall, or None if it crashed or was
        wrong.  Its checkpoint is deleted unless ``keep``."""
        try:
            wall, ckpt = self.run_pass(tracer)
        except Exception as exc:  # noqa: BLE001 — a crashed pass is a failed pass
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"pass crashed: {exc!r}"[:2000])
            return None
        ok = self.check(ckpt)
        if not keep:
            shutil.rmtree(ckpt, ignore_errors=True)
        return wall if ok else None

    def level(self, k: int, first: bool, budget_s: float, out: dict) -> None:
        """Set up and time one level into ``out["levels"][k]``.  Passes run
        while the next one is expected to end within ``budget_s``, and at
        least ``MIN_PASSES`` are attempted."""
        if not first:
            self.spark.stop()
        start_s = self.start(k)
        if first:
            out["session_s"] = start_s
        t0 = time.monotonic()
        warm = {"pass": self.one, "prior": self.build_prior, "spawn": self.spawn_workers}
        warm[WARM_UP[self.workload][k]]()
        warm_s = time.monotonic() - t0
        out["setup_s"] += start_s + warm_s
        n_before = self.attempted
        walls: list[float] = []
        rss: list[float] = []
        t_start = time.monotonic()
        while self.attempted - n_before < MIN_PASSES[self.workload][k] or (
            walls and time.monotonic() - t_start + walls[-1] <= budget_s
        ):
            # this driver, its JVM and the JVM's Python workers
            sampler = proctree.Sampler(os.getpid(), interval=0.1)
            sampler.start()
            wall = self.one()
            sampler.stop()
            if wall is not None:
                walls.append(wall)
                rss.append(sampler.peak)
        out["levels"][k] = {"start_s": start_s, "warm_s": warm_s, "walls": walls, "rss_mb": rss}

    def traced_pass(self) -> None:
        """One traced pass at the current level; ``layer_metrics`` reads its
        spans, event log and checkpoint once Spark has stopped."""
        from perfbench import trace

        self.tracer = trace.Tracer(self.spark)
        self.traced_wall = self.one(self.tracer, keep=True)
        self.traced_ckpt = self.work / f"pass_{self.n_pass}"

    def layer_metrics(self, walls: list[float]) -> dict:
        """The per-layer metrics: the traced pass (against the median of
        ``walls``, the untraced walls at its level), then the kernel
        microrun."""
        from perfbench import kernels, trace
        from quichash_spark.config import CLIPS_CONFIG

        self.tracer.dump(Path(self.spec["spans_out"]))
        layer = {}
        if self.traced_wall is not None and walls:
            job_desc, tasks = trace.read_event_log(self.work / f"eventlog_local{TRACED_LEVEL}")
            layer.update(trace.span_metrics(self.tracer.spans, self.root_span, job_desc, tasks))
            layer.update(trace.checkpoint_counts(self.traced_ckpt, CLIPS_CONFIG, self.prior))
            layer["trace.overhead_ratio"] = self.traced_wall / statistics.median(walls)
        shutil.rmtree(self.traced_ckpt, ignore_errors=True)
        kern = kernels.microrun(self.inputs, self.workload, self.truth)
        self.attempted += 1
        if not kern.pop("ok"):
            self.failed += 1
            self.problems.append("kernel primitives do not reproduce signature_record_batch")
        layer.update(kern)
        return layer


def main() -> int:
    spec = json.loads(sys.argv[1])
    run = Run(spec)
    out: dict = {"n_clips": run.n_clips, "levels": {}, "setup_s": 0.0}
    levels = LEVELS if spec["trace"] else LEVELS[:1]
    for idx, (k, share) in enumerate(levels):
        run.level(k, idx == 0, share * spec["seconds"], out)
        if spec["trace"] and k == TRACED_LEVEL:
            run.traced_pass()
    run.spark.stop()
    if spec["trace"]:
        out["layer"] = run.layer_metrics(out["levels"][TRACED_LEVEL]["walls"])
        out["layer"]["session.start_s"] = out["session_s"]
    out.update(attempted=run.attempted, failed=run.failed, recalls=run.recalls,
               problems=run.problems)
    sys.stdout.write(PREFIX + json.dumps(out) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
