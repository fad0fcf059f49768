"""Per-layer ledger (``--trace 1``): where one workload's job time goes.

Spans are recorded from the benchmark's side, around calls into kgpipe's
public functions; kgpipe itself is not instrumented.

1. Kernel, in-process on a fixed sample of turns: ``trie.pretokenize``,
   ``MatchConfig.normalize_token`` and ``DictionaryTrie.scan_text``, plus
   the dictionary build (``obo.parse_ontology``, ``obo.dictionary_rows``,
   ``detect.build_tries``).  Each is timed over one pass, so that a cache
   inside a layer shows only what it saves within one pass.
2. Untraced jobs: ``run_pipeline`` as in ``--trace 0``, after the same
   warm-up jobs; their median wall time is ``trace.job_s``, the base of
   the shares below.
3. Traced jobs: the same calls in a session that writes Spark's event log
   (a restart in the same JVM, followed by one untimed warm-up job,
   because the first job after a restart runs slow), under the job group
   ``job``; ``trace.overhead_share`` compares their wall time with the
   untraced jobs.
4. Layers: each public layer call of the workload's plan, under a job
   group named after the layer, timed as plan construction (driver-side
   work such as trie builds and broadcasts included) plus one execution
   into Spark's ``noop`` sink.  Its output is then cached, untimed, as
   the next layer's input, so each time is the layer's own.  The layers
   of the plan add up to ``trace.job_s`` except for
   ``trace.uncovered_share``.
5. Lineage (fused workload): a resumed ``run_pipeline`` with lineage and
   snapshot over a run whose first half of buckets is committed; its
   Spark jobs split around the SQL execution that writes the triples.

Stage metrics (executor run/CPU time, GC, shuffle bytes, spill, task
times) come from the event log, attributed to the layers by job group.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import re
import shutil
import time
from dataclasses import replace

from kgbench import gen
from kgbench.run import N_BUCKETS, RUN_KEY, WARMUP_JOBS, median, restart, \
    sample_texts

MB = 2 ** 20

#: every per-layer metric --trace 1 prints: (unit, which way is better)
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "obo.parse_s": ("s", "lower"),
    "obo.rows_s": ("s", "lower"),
    "obo.variants": ("count", "higher"),
    "obo.dictionary_s": ("s", "lower"),
    "trie.build_s": ("s", "lower"),
    "trie.broadcast_mb": ("MB", "lower"),
    "normalize.tokenize_us_per_turn": ("us", "lower"),
    "normalize.token_us": ("us", "lower"),
    "normalize.distinct_token_share": ("ratio", "lower"),
    "trie.scan_us_per_turn": ("us", "lower"),
    "trie.mentions_per_turn": ("count", "higher"),
    "read.s": ("s", "lower"),
    "detect.s": ("s", "lower"),
    "detect.arrow_handoff_s": ("s", "lower"),
    "detect.errors": ("count", "lower"),
    "disambig.s": ("s", "lower"),
    "disambig.shuffle_mb": ("MB", "lower"),
    "disambig.kept_share": ("ratio", "higher"),
    "canon.s": ("s", "lower"),
    "canon.components": ("count", "higher"),
    "triples.fanout_s": ("s", "lower"),
    "fused.s": ("s", "lower"),
    "fused.shuffle_mb": ("MB", "lower"),
    "fused.spill_mb": ("MB", "lower"),
    "fused.task_skew": ("ratio", "lower"),
    "triples.write_s": ("s", "lower"),
    "triples.files_written": ("count", "lower"),
    "triples.mb_written": ("MB", "lower"),
    "lineage.outstanding_s": ("s", "lower"),
    "lineage.buckets_todo": ("count", "lower"),
    "lineage.commit_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.uncovered_share": ("ratio", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}

# the output path of a write, in a formatted physical plan
_INSERT_RE = re.compile(r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
                        r"(?:[^\n]*\n)*?Arguments: ([^,\s]+)")

#: layers whose self times partition a job of each plan
FUSED_LAYERS = ("read.s", "obo.dictionary_s", "fused.s", "triples.write_s")
STAGED_LAYERS = ("read.s", "obo.dictionary_s", "detect.s", "disambig.s",
                 "canon.s", "triples.fanout_s", "triples.write_s")
TRACED_JOBS = 2


def walls(samples) -> list[float]:
    return [s.wall for s in samples]


def _clock(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# 1. kernel
# ---------------------------------------------------------------------------

def kernel(bench, m: dict) -> None:
    from kgpipe.canon import components_from_rows
    from kgpipe.detect import build_tries
    from kgpipe.normalize import config_for
    from kgpipe.obo import dictionary_rows, parse_ontology
    from kgpipe.trie import pretokenize

    cfg = config_for(gen.ONTOLOGY)
    texts = sample_texts(bench.corpus)
    pretoks, t = _clock(lambda: [pretokenize(x) for x in texts])
    m["normalize.tokenize_us_per_turn"] = t / len(texts) * 1e6
    tokens = [tok for p in pretoks for _b, _e, raw in p for tok, _tb, _te in raw]

    def normalize_all():
        for tok in tokens:
            if not cfg.is_stopword(tok):
                cfg.normalize_token(tok)

    _, t = _clock(normalize_all)
    m["normalize.token_us"] = t / len(tokens) * 1e6
    m["normalize.distinct_token_share"] = len(set(tokens)) / len(tokens)

    terms, m["obo.parse_s"] = _clock(lambda: parse_ontology(bench.paths.obo))
    rows, m["obo.rows_s"] = _clock(
        lambda: dictionary_rows(terms, gen.ONTOLOGY, cfg))
    m["obo.variants"] = len(rows)
    tries, m["trie.build_s"] = _clock(lambda: build_tries(rows))
    # what the plan broadcasts: fused ships the canonical map and Mayla
    # config beside the tries
    payload = (tries, components_from_rows(rows), None) \
        if bench.wl.fused else tries
    m["trie.broadcast_mb"] = len(pickle.dumps(payload)) / MB
    trie = tries[gen.ONTOLOGY]
    found, t = _clock(lambda: [trie.scan_text(x, p)
                               for x, p in zip(texts, pretoks)])
    m["trie.scan_us_per_turn"] = t / len(texts) * 1e6
    m["trie.mentions_per_turn"] = sum(map(len, found)) / len(texts)
    m["canon.components"] = len(set(components_from_rows(rows).values()))


# ---------------------------------------------------------------------------
# 4. layers
# ---------------------------------------------------------------------------

def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _layer(spark, m: dict, name: str, make, keep: list | None = None):
    """Time ``make()`` (plan construction, including driver-side work such
    as trie builds and broadcasts) plus a full execution of its plan into
    the ``noop`` sink.  With *keep*, the frame is then materialized in
    the cache, untimed, as the next layer's input."""
    _group(spark, name)
    t0 = time.perf_counter()
    df = make()
    df.write.format("noop").mode("overwrite").save()
    m[name] = time.perf_counter() - t0
    if keep is None:
        return None
    _group(spark, name + ".cache")
    df = df.persist()
    df.count()
    keep.append(df)
    return df


def layers(spark, bench, m: dict) -> list:
    """Run the workload plan's public layer calls one by one, each on the
    cached output of the previous one; returns the frames to unpersist."""
    from pyspark.sql import functions as F

    from kgpipe.canon import canonicalize
    from kgpipe.detect import build_dictionary_df, detect_mentions
    from kgpipe.disambig import tfidf_disambiguate
    from kgpipe.fused import fused_conv_triples
    from kgpipe.triples import all_triples, write_triples

    cfg = bench.cfg
    keep: list = []
    t = _layer(spark, m, "read.s",
               lambda: spark.read.parquet(bench.paths.transcripts), keep)
    _group(spark, "obo.dictionary_s")
    d, m["obo.dictionary_s"] = _clock(lambda: build_dictionary_df(
        spark, cfg.obo_paths, cfg.detect_configs))

    def passthrough(batches):
        yield from batches

    _layer(spark, m, "detect.arrow_handoff_s", lambda: t.select(
        "conv_id", "turn_idx", "text").mapInPandas(
        passthrough, "conv_id string, turn_idx int, text string"))
    mentions = _layer(spark, m, "detect.s",
                      lambda: detect_mentions(t, d, cfg.detect_configs), keep)
    _group(spark, "detect.errors")
    m["detect.errors"] = mentions.filter(
        F.col("concept_id") == "__ERROR__").count()
    if cfg.fused:
        caches: list = []
        triples = _layer(spark, m, "fused.s", lambda: fused_conv_triples(
            t, d, configs=cfg.detect_configs, cooc_window=cfg.cooc_window,
            disambiguate=cfg.disambiguate, canonical=cfg.canonical,
            max_turns_per_group=cfg.max_turns_per_group,
            cache_registry=caches, mayla=cfg.mayla,
            mayla_concept_freq=cfg.mayla_concept_freq,
            mayla_freq_scope=cfg.mayla_freq_scope), keep)
        keep.extend(caches)
    else:
        dis = _layer(spark, m, "disambig.s",
                     lambda: tfidf_disambiguate(mentions), keep)
        m["disambig.kept_share"] = dis.count() / mentions.count()
        canon = _layer(spark, m, "canon.s", lambda: canonicalize(dis, d), keep)
        triples = _layer(spark, m, "triples.fanout_s", lambda: all_triples(
            t, canon.filter(F.col("concept_id") != "__ERROR__"),
            concept_col="canonical_id", cooc_window=cfg.cooc_window), keep)
    out = bench.paths.scratch
    _group(spark, "triples.write_s")
    _, m["triples.write_s"] = _clock(lambda: write_triples(
        triples, out, cfg.n_buckets, mode="overwrite"))
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    m["triples.files_written"] = len(files)
    m["triples.mb_written"] = sum(map(os.path.getsize, files)) / MB
    return keep


# ---------------------------------------------------------------------------
# 5. lineage
# ---------------------------------------------------------------------------

def resumed_lineage_run(spark, bench, m: dict) -> float:
    """Commit the first half of the buckets through the lineage path, put
    the snapshot back to its pre-flip staging state, then run the resumed
    call over the whole input (job group ``lineage.resume``) and return
    its wall time.  Its committed snapshot must equal the one-shot runs'
    triples."""
    from kgbench import check
    from kgpipe.lineage import bucket_col
    from kgpipe.pipeline import run_pipeline
    from kgpipe.triples import snapshot_staging_path

    p = bench.paths
    cfg = replace(bench.cfg, snapshot=True)
    shutil.rmtree(p.out, ignore_errors=True)
    tdf = spark.read.parquet(p.transcripts)
    _group(spark, "lineage.prepare")
    run_pipeline(spark, tdf.filter(bucket_col(N_BUCKETS) < N_BUCKETS // 2),
                 cfg, p.out, p.lineage)
    snap = check.committed_dir(p.out)
    os.remove(os.path.join(snap, "_manifest.json"))
    os.rename(snap, snapshot_staging_path(p.out, RUN_KEY))
    os.remove(os.path.join(p.out, "_latest"))
    done = spark.read.parquet(p.lineage).select("partition_id").distinct()
    m["lineage.buckets_todo"] = N_BUCKETS - done.count()
    _group(spark, "lineage.resume")
    _, wall = _clock(lambda: run_pipeline(
        spark, spark.read.parquet(p.transcripts), cfg, p.out, p.lineage))
    bench.record(bench.verify(p.out))
    return wall


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs, tasks and SQL plans of one application's JSON event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {"start": ev["Submission Time"], "end": None,
                   "group": props.get("spark.jobGroup.id"),
                   "execution": props.get("spark.sql.execution.id")}
            self.jobs[ev["Job ID"]] = job
            for sid in ev["Stage IDs"]:
                self.stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            accs = ev["Task Info"].get("Accumulables") or []
            self.tasks.append({
                "stage": ev["Stage ID"],
                # tasks that ran a Python UDF carry its SQL metrics
                "python": any(a.get("Name") == "data sent to Python workers"
                              for a in accs),
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                "spill_b": tm.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.plans[ev["executionId"]] = ev.get(
                "physicalPlanDescription", "")

    def group_tasks(self, group: str) -> list[dict]:
        return [t for t in self.tasks
                if self.jobs[self.stage_job[t["stage"]]]["group"] == group]

    def totals(self, group: str) -> dict:
        ts = self.group_tasks(group)
        return {
            "run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "shuffle_mb": sum(t["shuffle_b"] for t in ts) / MB,
            "spill_mb": sum(t["spill_b"] for t in ts) / MB,
        }

    def task_skew(self, group: str) -> float:
        """max ÷ median run time of the Python tasks (the scan) in the
        group's stage with the most Python task time."""
        by_stage: dict[int, list[float]] = {}
        for t in self.group_tasks(group):
            if t["python"]:
                by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if not by_stage:
            raise RuntimeError(f"no Python tasks in job group {group!r}")
        runs = max(by_stage.values(), key=sum)
        return max(runs) / max(1.0, median(runs))

    def job_seconds(self, jobs: list[dict]) -> float:
        """Wall time covered by the union of *jobs*' intervals."""
        spans = sorted((j["start"], j["end"]) for j in jobs if j["end"])
        total, cur_s, cur_e = 0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1e3


def lineage_split(log: EventLog, out_dir: str) -> dict[str, list]:
    """Split the resumed call's Spark jobs around its triple write: the
    jobs of the SQL execution that inserts into *out_dir* are ``write``
    (with the plan that produces the triples); jobs before it read the
    lineage table and probe for outstanding buckets (``outstanding``);
    jobs after it append lineage rows and commit the snapshot
    (``commit``)."""
    out_dir = os.path.abspath(out_dir)
    jobs = sorted((j for j in log.jobs.values()
                   if j["group"] == "lineage.resume"),
                  key=lambda j: j["start"])
    writes = {
        ex for ex, plan in log.plans.items()
        if (hit := _INSERT_RE.search(plan))
        and hit.group(1).removeprefix("file:").startswith(out_dir)
    }
    is_write = [j["execution"] is not None and int(j["execution"]) in writes
                for j in jobs]
    if not any(is_write):
        raise RuntimeError("no triple write found in the resumed call")
    first = is_write.index(True)
    last = len(is_write) - 1 - is_write[::-1].index(True)
    return {
        "outstanding": jobs[:first],
        "write": [j for j, w in zip(jobs, is_write) if w],
        "commit": [j for j, w in zip(jobs[last + 1:], is_write[last + 1:])
                   if not w],
    }


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def run_traced(bench, nproc: int, seconds: float, stamp: dict) -> dict:
    from kgbench import spark_env

    phases: dict[str, float] = {}
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        phases[name] = time.perf_counter() - t0
        t0 = time.perf_counter()

    m = {name: 0.0 for name in LAYER_METRICS}
    kernel(bench, m)
    phase("kernel")
    master = f"local[{nproc}]"
    spark, launch = spark_env.start_session(master, nproc)
    setups = [launch]
    try:
        bench.timed_jobs(spark, min_jobs=WARMUP_JOBS)
        untraced = walls(bench.timed_jobs(spark, seconds / 4, min_jobs=2))
        phase("untraced")
        spark_env.set_event_log(spark, bench.paths.events)
        spark, s = restart(spark, master, nproc)
        setups.append(s)
        _group(spark, "warmup")
        bench.timed_jobs(spark)
        _group(spark, "job")
        traced = []
        for _ in range(TRACED_JOBS):
            traced.append(bench.job(spark).wall)
            bench.record(bench.verify(bench.paths.out))
        phase("traced")
        for df in layers(spark, bench, m):
            df.unpersist()
        phase("layers")
        if bench.wl.fused:
            stamp["lineage_resume_s"] = resumed_lineage_run(spark, bench, m)
            phase("lineage")
        spark_env.set_event_log(spark, None)
        spark, s = restart(spark, master, nproc)  # a third setup sample
        setups.append(s)
    finally:
        spark_env.shutdown(spark)
    phase("shutdown")
    stamp["phase_s"] = phases
    m["session.start_s"] = median(setups)
    stamp["setup_samples_s"] = setups

    (log_path,) = glob.glob(os.path.join(bench.paths.events, "*"))
    log = EventLog(log_path)
    job = log.totals("job")
    m.update({
        "spark.executor_run_s": job["run_s"] / TRACED_JOBS,
        "spark.executor_cpu_s": job["cpu_s"] / TRACED_JOBS,
        "spark.gc_s": job["gc_s"] / TRACED_JOBS,
        "spark.shuffle_mb": job["shuffle_mb"] / TRACED_JOBS,
        "spark.spill_mb": job["spill_mb"] / TRACED_JOBS,
    })
    if bench.wl.fused:
        fused = log.totals("fused.s")
        m["fused.shuffle_mb"] = fused["shuffle_mb"]
        m["fused.spill_mb"] = fused["spill_mb"]
        m["fused.task_skew"] = log.task_skew("fused.s")
        split = lineage_split(log, bench.paths.out)
        m["lineage.outstanding_s"] = log.job_seconds(split["outstanding"])
        m["lineage.commit_s"] = log.job_seconds(split["commit"])
        stamp["lineage_jobs"] = {k: len(v) for k, v in split.items()}
    else:
        m["disambig.shuffle_mb"] = log.totals("disambig.s")["shuffle_mb"]

    job_s = median(untraced)
    covered = sum(m[k] for k in (FUSED_LAYERS if bench.wl.fused
                                 else STAGED_LAYERS))
    m["trace.job_s"] = job_s
    m["trace.uncovered_share"] = 1.0 - covered / job_s
    m["trace.overhead_share"] = median(traced) / job_s - 1.0
    stamp["untraced_walls_s"] = untraced
    stamp["traced_walls_s"] = traced
    return {k: m[k] for k in LAYER_METRICS}
