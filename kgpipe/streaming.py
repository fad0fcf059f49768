"""Incremental / streaming execution.

The reference is batch-with-resume (OUTSTANDING-only collection reader,
``RunCatalogCollectionReader.java:62-94``); kgpipe.lineage reproduces that
exactly.  This module adds the Structured-Streaming rendering of the same
semantics for deployments that prefer engine-managed checkpoints over the
lineage table:

- ``stream_detect``: ``readStream`` over the transcripts table →
  the same broadcast-trie ``mapInPandas`` detection → ``writeStream`` with
  ``Trigger.AvailableNow`` + checkpointLocation.  Each invocation processes
  exactly the files not yet seen by the checkpoint — incremental resume
  with no custom bookkeeping, at-least-once into an idempotent sink.
- ``stream_mention_counts``: a windowed stateful aggregation with a
  watermark (per-conversation mention rates over event time) — the
  late-data pattern for monitoring the pipeline in continuous mode.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schemas
from .trie import TurnScanner


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a growing transcripts directory."""
    return spark.readStream.schema(schemas.TRANSCRIPTS).parquet(path)


def stream_detect(
    spark: SparkSession,
    input_path: str,
    dictionary: DataFrame,
    output_path: str,
    checkpoint_path: str,
    configs: Optional[dict] = None,
    await_termination: bool = True,
):
    """Incrementally detect mentions over new transcript files only.

    ``Trigger.AvailableNow`` drains everything currently available and
    stops — batch-shaped operationally, streaming-checkpointed for resume
    (the engine-managed alternative to the lineage anti-join)."""
    from .detect import build_tries, collect_dictionary

    import pandas as pd

    local_rows = collect_dictionary(dictionary)
    tries = build_tries(local_rows, configs)
    bc = spark.sparkContext.broadcast(tries)

    def scan(batches):
        tries_local = bc.value
        for pdf in batches:
            scanner = TurnScanner(tries_local)  # same kernel as batch detect
            out = {
                "conv_id": [], "turn_idx": [], "ontology": [], "concept_id": [],
                "begin": [], "end": [], "covered_text": [], "error": [],
            }
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                for ont, cid, b, e, cov in scanner.scan(text):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(int(turn_idx))
                    out["ontology"].append(ont)
                    out["concept_id"].append(cid)
                    out["begin"].append(b)
                    out["end"].append(e)
                    out["covered_text"].append(cov)
                    out["error"].append(None)
            yield pd.DataFrame(out)

    stream = stream_transcripts(spark, input_path)
    mentions = stream.select("conv_id", "turn_idx", "text").mapInPandas(
        scan, schema=schemas.MENTIONS
    )
    q = (
        mentions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_conv_pairs(
    transcript_stream: DataFrame,
    dictionary: DataFrame,
    cooc_window: int = 3,
    configs: Optional[dict] = None,
    state_timeout_ms: Optional[int] = None,
    max_state_concepts: int = 10_000,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): incremental
    windowed co-occurrence over a live transcript stream.

    Per-conversation state buffers the concept sets of the last
    ``cooc_window`` turns; each micro-batch detects mentions in its new
    turns (broadcast trie, Arrow-batched), pairs them against the buffer
    AND against each other under |Δturn| <= window with ``ca < cb``, emits
    the new pair rows, and rolls the buffer forward.  Pairs that straddle a
    micro-batch boundary are found exactly once — the property the
    stateless streaming path cannot provide.  Per-conversation state is
    BOUNDED by construction: only the last ``cooc_window`` turns' concept
    sets, never the transcript; entries merge per turn index (replays
    cannot stack duplicates), and each stored set is capped at
    ``max_state_concepts`` (sorted-prefix eviction, deterministic), so a
    pathological concept-dense turn cannot grow per-key state without
    bound — worst case ``(cooc_window + 1) × max_state_concepts`` concept
    ids per conversation.  In-batch pairing always sees the FULL detected
    sets; only what survives into cross-batch state is capped, so the
    documented precision cost is pairs whose earlier turn exceeded the
    cap and whose later turn arrives in a later micro-batch.
    With ``state_timeout_ms`` set, idle
    conversations additionally drop their state after that much processing
    time (a conversation resuming later starts a fresh window, matching
    the batch plan's per-block ghost semantics).

    NOTE: in this sandbox's pyspark 4.1.2 local mode,
    ``GroupStateTimeout.ProcessingTimeTimeout`` deadlocks the micro-batch
    (all executor threads block forever reading the Python state worker;
    reproduced with a trivial stateful counter, so it is an environment
    bug, not this operator) — hence the ``NoTimeout`` default.  On a
    cluster where the timeout path works, pass a TTL to bound idle-key
    state.

    Output rows: ``(conv_id, ta, tb, ca, cb)`` with ta <= tb, ca < cb.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .detect import build_tries, collect_dictionary

    spark = transcript_stream.sparkSession
    local_rows = collect_dictionary(dictionary)
    tries = build_tries(local_rows, configs)
    bc = spark.sparkContext.broadcast(tries)

    out_schema = ("conv_id string, ta int, tb int, ca string, cb string")
    state_schema = "tis array<int>, cids array<string>"
    _EMPTY = {"conv_id": [], "ta": [], "tb": [], "ca": [], "cb": []}

    def per_conv(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(_EMPTY)
            return
        scanner = TurnScanner(bc.value)
        if state.exists:
            tis, cid_strs = state.get
            buffer = [(int(t), set(s.split(",")) if s else set())
                      for t, s in zip(tis, cid_strs)]
        else:
            buffer = []
        out = {k: list(v) for k, v in _EMPTY.items()}
        # concatenate the group's Arrow chunks and sort ONCE — per-chunk
        # sorting gives no cross-chunk ordering, and an out-of-order turn
        # would otherwise pair against a buffer it doesn't belong to
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("turn_idx")
            for turn_idx, text in zip(batch["turn_idx"], batch["text"]):
                ti = int(turn_idx)
                concepts = {cid for _, cid, _, _, _ in scanner.scan(text)}
                # pair the new turn against the buffered window (which,
                # after this batch's earlier turns were appended, also
                # covers new-vs-new pairs)
                for tj, cset in buffer:
                    # two-sided: a late micro-batch can deliver a turn
                    # EARLIER than buffered ones; |Δ| keeps such pairs
                    # window-bounded instead of emitting arbitrary spans
                    if abs(ti - tj) > cooc_window:
                        continue
                    for ca in cset:
                        for cb in concepts:
                            if ca == cb:
                                continue
                            lo, hi = (ca, cb) if ca < cb else (cb, ca)
                            out["conv_id"].append(conv_id)
                            out["ta"].append(min(tj, ti))
                            out["tb"].append(max(tj, ti))
                            out["ca"].append(lo)
                            out["cb"].append(hi)
                # same-turn distinct-concept pairs
                cl = sorted(concepts)
                for i in range(len(cl)):
                    for j in range(i + 1, len(cl)):
                        out["conv_id"].append(conv_id)
                        out["ta"].append(ti)
                        out["tb"].append(ti)
                        out["ca"].append(cl[i])
                        out["cb"].append(cl[j])
                buffer.append((ti, concepts))
                max_ti = max(t for t, _ in buffer)
                buffer = [(t, s) for t, s in buffer
                          if t >= max_ti - cooc_window]
        # bound the stored state (see docstring): merge per turn index,
        # cap each set at max_state_concepts via deterministic
        # sorted-prefix eviction
        merged: dict[int, set] = {}
        for t, s in buffer:
            merged.setdefault(t, set()).update(s)
        items = sorted(merged.items())
        state.update((
            [t for t, _ in items],
            [",".join(sorted(s)[:max_state_concepts]) for _, s in items],
        ))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(out)

    return (
        transcript_stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            per_conv, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout
            if state_timeout_ms is not None else GroupStateTimeout.NoTimeout,
        )
    )


def stream_mention_counts(
    mentions_stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over an event-time column ``ts``:
    per-conversation mention counts per time window, tolerating late turns
    up to the watermark (the Structured-Streaming late-data pattern the
    batch reference has no analogue for)."""
    return (
        mentions_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def stream_triples(
    spark: SparkSession,
    input_path: str,
    dictionary: DataFrame,
    output_path: str,
    checkpoint_path: str,
    configs: Optional[dict] = None,
    await_termination: bool = True,
):
    """Incremental KG materialization: new transcript files → mention +
    structure triples, streaming-checkpointed (``Trigger.AvailableNow``).

    The stateless triple families (denotes with span evidence, turn
    partOf/role/tool, conv rdf:type per new turn) stream through the same
    broadcast-trie scan as ``stream_detect`` plus pure column expressions;
    windowed co-occurrence needs cross-batch state and lives in
    ``stream_conv_pairs``.  Conv rdf:type rows recur for every batch that
    touches a conversation — the parquet sink is append-only, so readers
    dedupe that tiny slice (or an Iceberg MERGE sink absorbs it); at-least-
    once into an idempotent consumer, matching ``stream_detect``."""
    from .detect import build_tries, collect_dictionary
    from .triples import (
        CONV_NS, DC_IS_PART_OF, IAO_DOCUMENT, PRED_DENOTES, PRED_ROLE,
        PRED_TOOL, RDF_TYPE, concept_uri_col, turn_uri_col,
    )

    import pandas as pd

    local_rows = collect_dictionary(dictionary)
    tries = build_tries(local_rows, configs)
    bc = spark.sparkContext.broadcast(tries)

    mention_schema = ("conv_id string, turn_idx int, concept_id string,"
                      " begin int, end int, covered_text string")

    def scan(batches):
        tries_local = bc.value
        for pdf in batches:
            scanner = TurnScanner(tries_local)
            out = {"conv_id": [], "turn_idx": [], "concept_id": [],
                   "begin": [], "end": [], "covered_text": []}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                for _, cid, b, e, cov in scanner.scan(text):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(int(turn_idx))
                    out["concept_id"].append(cid)
                    out["begin"].append(b)
                    out["end"].append(e)
                    out["covered_text"].append(cov)
            yield pd.DataFrame(out)

    stream = stream_transcripts(spark, input_path)
    ev = F.struct(
        F.col("begin").alias("begin"), F.col("end").alias("end"),
        F.col("covered_text").alias("text"),
    )
    denotes = (
        stream.select("conv_id", "turn_idx", "text")
        .mapInPandas(scan, schema=mention_schema)
        .select(
            turn_uri_col().alias("subj"),
            F.lit(PRED_DENOTES).alias("pred"),
            concept_uri_col().alias("obj"),
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
            ev.alias("evidence"),
        )
    )
    none_ev = F.lit(None).cast("struct<begin:int,end:int,text:string>")
    conv_uri = F.concat(F.lit(CONV_NS), F.col("conv_id"))
    structure = stream.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(turn_uri_col().alias("subj"),
                             F.lit(DC_IS_PART_OF).alias("pred"),
                             conv_uri.alias("obj")),
                    F.struct(turn_uri_col().alias("subj"),
                             F.lit(PRED_ROLE).alias("pred"),
                             F.col("role").alias("obj")),
                    F.struct(turn_uri_col().alias("subj"),
                             F.lit(PRED_TOOL).alias("pred"),
                             F.col("tool").alias("obj")),
                    F.struct(conv_uri.alias("subj"),
                             F.lit(RDF_TYPE).alias("pred"),
                             F.lit(IAO_DOCUMENT).alias("obj")),
                ),
                lambda t: t["obj"].isNotNull(),
            )
        ).alias("t"),
        "conv_id", "turn_idx",
    ).select(
        F.col("t.subj").alias("subj"), F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"), "conv_id",
        # conv-level rdf:type rides the per-turn explode (stateless stream —
        # no per-conv grouping), so null its turn_idx: recurrences across
        # turns/batches become IDENTICAL rows, matching the batch plans'
        # shape and letting readers (or an Iceberg MERGE sink) dedupe the
        # tiny slice on full rows
        F.when(F.col("t.pred") == RDF_TYPE, F.lit(None))
        .otherwise(F.col("turn_idx")).cast("int").alias("turn_idx"),
        none_ev.alias("evidence"),
    )
    triples = denotes.unionByName(structure)
    q = (
        triples.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_latest_state(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    checkpoint_path: str,
    keys=("user_id", "event_type"),
    ts: str = "ts",
    tie_cols=None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Incrementally materialized current-state table: an AvailableNow
    stream over a growing fact directory, upserting each micro-batch into
    a snapshot-committed state store via ``foreachBatch`` — the streaming
    rendering of ``kgpipe.temporal.latest_by_key``.

    Each batch computes its batch-local latest rows (one window), merges
    them with the committed state (union + the same window — latest-wins
    is associative/commutative given the deterministic tie-break, so
    batch ORDER does not matter), and commits the result as the next
    ``snap-N`` (readers always see a complete table; a crash mid-commit
    leaves the previous snapshot visible).  At-least-once replays are
    absorbed by idempotence: re-upserting the same rows cannot change a
    latest-wins state.  State size is bounded by the key-space, not the
    stream length.  Returns the final committed state as a DataFrame.
    """
    from .temporal import (
        latest_by_key, read_state_snapshot, write_state_snapshot,
    )

    reader = spark.readStream.schema(spark.read.parquet(input_path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    src = reader.parquet(input_path)

    def upsert(batch_df, _batch_id):
        new = latest_by_key(batch_df, keys, ts, tie_cols)
        try:
            cur = read_state_snapshot(batch_df.sparkSession, state_path)
            merged = latest_by_key(cur.unionByName(new), keys, ts, tie_cols)
        except FileNotFoundError:
            merged = new
        # materialize BEFORE committing: the merge plan reads the current
        # snapshot directory, which the commit is about to supersede
        write_state_snapshot(merged.localCheckpoint(eager=True), state_path)

    q = (
        src.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_state_snapshot(spark, state_path)
