#!/usr/bin/env python3
"""kgpipe benchmark: the production entry point ``pipeline.run_pipeline``,
from a parquet transcript table to a committed triple table.

    python3 kgbench/run.py --workload chat-fused --seed 1 --seconds 15 --trace 0

Run it from the repository root.  The load is a closed loop: one client,
one ``run_pipeline`` job at a time, on ``local[nproc]``.  The inputs (a
synthetic OBO file and a transcript parquet table, kgbench.gen) are made
from ``--seed`` before any timed window, and kgpipe receives only those
files.  Every job's committed output is checked (kgbench.check) outside
the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer ledger instead (kgbench.trace).  The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it stamps the workload.  Every file the run writes goes under
``.kgbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import gen  # noqa: E402

OBO_TERMS = 8_000
N_BUCKETS = 16
RUN_KEY = "KGBENCH"
SETUPS = 3            # session starts per run; setup_s is their median
JOB_TIMEOUT_S = 60.0
KERNEL_SAMPLE = 1000  # turns scanned in-process for the token statistics
RSS_PERIOD_S = 0.5    # worker-memory sampling period during timed jobs
WARMUP_JOBS = 1       # untimed full-size jobs first: a session's first runs slow
MIN_JOBS = 3          # timed jobs per run, however long they take

#: every end-to-end metric --trace 0 prints, with its unit
E2E_METRICS = {
    "cpu_per_turn": "refloop",
    "setup_s": "s",
    "py_worker_rss_mb": "MB",
    "mention_p": "ratio",
    "mention_r": "ratio",
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str         # gen.make_corpus kind
    turns: int
    fused: bool       # PipelineConfig.fused

    def config(self, obo_path: str):
        from kgpipe.pipeline import PipelineConfig

        return PipelineConfig(obo_paths={gen.ONTOLOGY: obo_path},
                              run_key=RUN_KEY, n_buckets=N_BUCKETS,
                              fused=self.fused)


WORKLOADS = {w.name: w for w in [
    Workload(
        "chat-fused",
        "fused plan over short Zipf-length chats of ~300-char turns: the "
        "Python scan kernel and the one conversation shuffle do most of the "
        "work, and tokens repeat heavily (a per-token cache would hit)",
        kind="chat", turns=2000, fused=True),
    Workload(
        "agent-staged",
        "staged plan over agent transcripts with 1-4k-char tool logs of "
        "mostly unique tokens: Arrow bytes per turn are high, token caches "
        "miss, and the staged JVM layers do most of the rest",
        kind="agent", turns=250, fused=False),
]}


@dataclass(frozen=True)
class Sample:
    """What one job measured."""
    wall: float  # seconds
    cpu: float   # CPU seconds of the driver, JVM and workers, JIT excluded
    jit: float   # CPU seconds of the JVM's JIT compiler threads
    ref: float   # HostSpeed.measure() seconds, mean of before and after


class Paths:
    def __init__(self, work: str):
        self.work = work
        self.obo = os.path.join(work, "input", "onto.obo")
        self.transcripts = os.path.join(work, "input", "transcripts")
        self.out = os.path.join(work, "out")
        self.lineage = os.path.join(work, "lineage")
        self.scratch = os.path.join(work, "scratch")
        self.events = os.path.join(work, "events")


def make_inputs(wl: Workload, seed: int, paths: Paths):
    """Generate the OBO file and the transcript table (untimed)."""
    onto = gen.make_ontology(seed, OBO_TERMS)
    corpus = gen.make_corpus(seed, onto, wl.kind, wl.turns)
    os.makedirs(os.path.dirname(paths.obo), exist_ok=True)
    with open(paths.obo, "w", encoding="utf-8") as fh:
        fh.write(onto.obo_text)
    gen.write_parquet(corpus.rows, paths.transcripts)
    return onto, corpus


def sample_texts(corpus) -> list[str]:
    """A fixed, evenly spaced sample of non-null turn texts."""
    rows = sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in corpus.rows if r["text"] is not None)
    step = max(1, len(rows) // KERNEL_SAMPLE)
    return [t for _c, _i, t in rows[::step][:KERNEL_SAMPLE]]


def distinct_token_share(texts: list[str]) -> float:
    """Distinct raw tokens ÷ raw tokens, through kgpipe's tokenizer."""
    from kgpipe.trie import pretokenize

    tokens = [tok for text in texts
              for _cb, _ce, raw in pretokenize(text) for tok, _b, _e in raw]
    return len(set(tokens)) / len(tokens)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


class Bench:
    """One workload's inputs, golden set, job loop and failure count."""

    def __init__(self, wl: Workload, paths: Paths, corpus, speed):
        from kgbench import check

        self.wl = wl
        self.speed = speed  # spark_env.HostSpeed
        self.paths = paths
        self.corpus = corpus
        self.cfg = wl.config(paths.obo)
        self.gold = check.golden_index(corpus.golden)
        self.reference_digest: str | None = None
        self.attempted = 0
        self.failed = 0
        self.min_p = 1.0
        self.min_r = 1.0
        self.errors: list[str] = []

    def job(self, spark) -> Sample:
        """One ``run_pipeline`` call over the workload's table into a
        fresh output directory, with the host's speed measured before and
        after it.  A job still running after JOB_TIMEOUT_S is
        cancelled."""
        from kgbench.spark_env import CpuMeter, jvm_process
        from kgpipe.pipeline import run_pipeline

        shutil.rmtree(self.paths.out, ignore_errors=True)
        before = self.speed.measure()
        timer = threading.Timer(JOB_TIMEOUT_S,
                                spark.sparkContext.cancelAllJobs)
        timer.start()
        cpu = CpuMeter(jvm_process(spark).pid)
        try:
            cpu.start()
            t0 = time.perf_counter()
            tdf = spark.read.parquet(self.paths.transcripts)
            run_pipeline(spark, tdf, self.cfg, self.paths.out)
            wall = time.perf_counter() - t0
            used = cpu.stop()
        finally:
            timer.cancel()
        ref = statistics.mean((before, self.speed.measure()))
        return Sample(wall, used, cpu.jit_s, ref)

    def verify(self, path: str) -> list[str]:
        """Check the table committed at *path*; returns its problems."""
        from kgbench import check

        res = check.check(check.read_triples(path), self.gold,
                          self.corpus.n_structure)
        self.min_p = min(self.min_p, res["p"])
        self.min_r = min(self.min_r, res["r"])
        problems = list(res["problems"])
        if self.reference_digest is None:
            self.reference_digest = res["digest"]
        elif res["digest"] != self.reference_digest:
            problems.append(f"triple digest {res['digest']} differs from "
                            f"the run's first job ({self.reference_digest})")
        return problems

    def record(self, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(p[:300] for p in problems)
        return not problems

    def timed_jobs(self, spark, seconds: float = 0.0, rss=None,
                   min_jobs: int = 1) -> list[Sample]:
        """Closed loop until the jobs' summed wall time reaches *seconds*
        and at least *min_jobs* ran.  A job that fails its check counts
        as failed and gives no sample; a job that raises (or is
        cancelled) counts as failed and ends the loop."""
        samples: list[Sample] = []
        spent = 0.0
        n = 0
        while spent < seconds or n < min_jobs:
            n += 1
            if rss is not None:
                rss.begin()
            try:
                sample = self.job(spark)
            except Exception as exc:  # noqa: BLE001 - counted and reported
                self.record([f"{type(exc).__name__}: {exc}"])
                break
            finally:
                if rss is not None:
                    rss.end()
            spent += sample.wall
            if self.record(self.verify(self.paths.out)):
                samples.append(sample)
        if not samples:
            raise RuntimeError("no job passed: " + "; ".join(self.errors))
        return samples


def restart(spark, master: str, nproc: int):
    """Stop *spark* and start a session on *master* in the same JVM;
    returns ``(spark, seconds)``."""
    from kgbench import spark_env

    spark.stop()
    return spark_env.start_session(master, nproc)


def run_untraced(bench: Bench, nproc: int, seconds: float,
                 stamp: dict) -> dict:
    """A warm-up job, then timed jobs for *seconds*; then the session is
    restarted SETUPS - 1 times, so that setup_s is the median of the JVM
    launch and the restarts.  The restarts come after the timed jobs
    because the first jobs after a restart run slow again.

    ``cpu_per_turn`` is each job's CPU time (driver, JVM and Python
    workers; JIT compiler threads excluded) over the host's speed
    (``spark_env.HostSpeed``: the CPU time of a fixed loop on every CPU,
    before and after the job), per input turn, median over the timed
    jobs.  On a shared 4-vCPU VM the same job's wall and CPU times both
    changed by up to 2x with other tenants' load, between runs and within
    one; the reference loop changes with them, so the quotient keeps what
    the pipeline costs."""
    from kgbench import spark_env

    master = f"local[{nproc}]"
    spark, launch = spark_env.start_session(master, nproc)
    setups = [launch]
    try:
        bench.timed_jobs(spark, min_jobs=WARMUP_JOBS)
        rss = spark_env.WorkerRss(spark_env.jvm_process(spark).pid,
                                  RSS_PERIOD_S)
        steal = spark_env.CpuSteal()
        try:
            samples = bench.timed_jobs(spark, seconds, rss, MIN_JOBS)
        finally:
            rss.close()
        stamp["cpu_steal_share"] = steal.share()
        for _ in range(SETUPS - 1):
            spark, s = restart(spark, master, nproc)
            setups.append(s)
    finally:
        spark_env.shutdown(spark)
    turns = len(bench.corpus.rows)
    walls = [s.wall for s in samples]
    stamp.update({
        "setup_samples_s": setups,
        "job_walls_s": walls,
        "job_cpu_s": [s.cpu for s in samples],
        "job_jit_cpu_s": [s.jit for s in samples],
        "host_speed_s": [s.ref for s in samples],
        "turns_per_sec": turns / median(walls),
        "cpu_ms_per_turn": 1e3 * median([s.cpu for s in samples]) / turns,
        "py_processes_peak": rss.peak_processes,
        "py_worker_peaks_mb": rss.peaks_mb,
    })
    return {
        "cpu_per_turn": median([s.cpu / s.ref for s in samples]) / turns,
        "setup_s": median(setups),
        "py_worker_rss_mb": median(rss.peaks_mb),
        "mention_p": bench.min_p,
        "mention_r": bench.min_r,
    }


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


def run_all(args) -> int:
    """Every workload in its own process; prints each one's result with
    ``job_fail_share``, then one combined result line."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["metrics"]["job_fail_share"] = {
            "value": res["failed"] / res["attempted"], "unit": "ratio"}
        print(json.dumps({"workload": name, **res}), flush=True)
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update(
            {f"{name}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="kgpipe benchmark")
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    import kgpipe  # a checkout without kgpipe fails here, loudly

    if os.path.dirname(os.path.abspath(kgpipe.__file__)) != \
            os.path.join(ROOT, "kgpipe"):
        raise SystemExit(f"kgpipe was imported from {kgpipe.__file__}, "
                         f"not from {ROOT}")
    from kgbench import spark_env

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".kgbench_work", wl.name)
    shutil.rmtree(work, ignore_errors=True)
    paths = Paths(work)
    spark_env.confine(ROOT, work)
    speed = spark_env.HostSpeed()  # forked before the JVM starts
    try:
        onto, corpus = make_inputs(wl, args.seed, paths)
        bench = Bench(wl, paths, corpus, speed)
        stamp = {
            "workload": wl.name, "seed": args.seed, "nproc": nproc,
            "master": f"local[{nproc}]", **versions(),
            "obo_terms": onto.n_terms, "obo_variants": onto.n_variants,
            **corpus.stats,
            "normalize.distinct_token_share":
                distinct_token_share(sample_texts(corpus)),
            "run_seconds": args.seconds,
        }
        if args.trace:
            from kgbench import trace

            values = trace.run_traced(bench, nproc, args.seconds, stamp)
            units = {k: u for k, (u, _b) in trace.LAYER_METRICS.items()}
        else:
            values = run_untraced(bench, nproc, args.seconds, stamp)
            units = E2E_METRICS
    finally:
        speed.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another workload's run is using it
            pass
    stamp["errors"] = bench.errors
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
