"""Fused conversation-local pipeline: transcripts → triples in ONE wide
dependency.

The staged pipeline (detect → TF-IDF disambiguation → canonicalize →
triple fan-out) pays several shuffles; every one of them except the first
groups by conv-derived keys.  This operator exploits that: co-locate each
conversation once (repartition by conv_id + sort within partitions), then
run the whole per-conversation computation — trie detection per turn,
duplicate removal, the Mayla precision filter (document-local, so it
belongs here), span disambiguation by conversation-level term
frequency, canonical-id mapping (broadcast union-find map), co-occurrence
pairing — inside a single Arrow-batched ``mapInPandas`` pass (ONE Python
call per Arrow batch; conversations are contiguous in the sorted partition
and the only cross-batch carry is the last, possibly incomplete, group).
Structure triples (conv rdf:type, turn partOf, role, tool) come from a
narrow JVM column plan unioned with the scan output — no Python, and
role/tool never enter the shuffle.  The only remaining wide steps are that
one shuffle and the output write.

Trade-offs vs the staged path (kgpipe.pipeline):
- disambiguation uses conversation-local TF (ties → min concept id); the
  staged path scores with global IDF — use it when corpus-level statistics
  must participate;
- a single conversation must fit in one task — unless
  ``max_turns_per_group`` is set, which splits conversations into
  turn-index blocks (ghost-replicated at the boundary so windowed
  co-occurrence stays exact; offsets are turn-relative so splitting is
  safe) and bounds per-task state for adversarial mega-conversations.
  When splitting meets conversation-LEVEL scoring (TF disambiguation or
  conv-scope Mayla frequency), the plan auto-switches to
  ``_exact_conv_plan`` — pre-aggregated per-conversation side tables
  joined onto a narrow detect scan — so the skew guard no longer changes
  semantics (``exact_conv_scores=False`` restores the one-shuffle
  block-local approximation).

At 1000 executors this is the plan you want: shuffle bytes ≈ input bytes,
exactly once, no barrier between per-conversation products.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .canon import components_from_rows
from .detect import build_tries, collect_dictionary
from .disambig import mayla_keep_py
from .trie import TurnScanner, is_null_text
from .normalize import MatchConfig
from .triples import (
    CONV_NS,
    OBO_PREFIX,
    PRED_COOCCURS,
    PRED_DENOTES,
    conversation_triples,
)

_FLAT_SCHEMA = (
    "subj string, pred string, obj string, conv_id string, turn_idx int,"
    " ev_begin int, ev_end int, ev_text string"
)

#: pred value of quarantined per-conversation failures (obj = message);
#: consumed by kgpipe.pipeline's lineage integration, never written to the
#: triple table
ERROR_PRED = "__ERROR__"


def _concept_uri(cid: str) -> str:
    if cid.startswith("http"):
        return cid
    return OBO_PREFIX + cid.replace(":", "_")


def conv_tf_disambiguate(mentions: DataFrame) -> DataFrame:
    """Conversation-level TF disambiguation — the declarative twin of the
    fused scan's in-Python rule (keep the span candidate with the highest
    conversation-level mention frequency, ties to the smaller concept id).
    ONE conv_id exchange; both windows ride it (same shape as
    disambig.tfidf_disambiguate minus the IDF broadcasts)."""
    from pyspark.sql import Window

    from .session import cpu_partition_count

    m = mentions.repartition(
        cpu_partition_count(mentions.sparkSession), "conv_id")
    w_tf = Window.partitionBy("conv_id", "concept_id")
    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end").orderBy(
        F.desc("__tf"), F.asc("concept_id"))
    return (
        m.withColumn("__tf", F.count(F.lit(1)).over(w_tf))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank", "__tf")
    )


def _exact_conv_plan(
    transcripts: DataFrame,
    dictionary: DataFrame,
    configs,
    cooc_window: int,
    disambiguate: bool,
    canonical: bool,
    quarantine_errors: bool,
    cache_registry: Optional[list],
    mayla: bool,
    mayla_concept_freq,
    mayla_default_freq: int,
    mayla_freq_scope: str,
) -> DataFrame:
    """EXACT conversation-scope scoring under block splitting (VERDICT r4
    #4): instead of block-local in-scan Mayla/TF, the detect scan stays
    NARROW (no pre-shuffle, no ghosts) and the conversation-level scores
    come from pre-aggregated side tables joined back onto the mention
    stream —

    - Mayla conv frequency: per-(conv, surface) substring-count sums
      (disambig.mayla_conv_freq_filter; never assembles conversation text
      in one task);
    - TF disambiguation: a (conv, concept) window count + span argmax on
      one conv_id exchange (conv_tf_disambiguate);
    - co-occurrence: the banded (conv, turn-bucket) equi-join
      (triples.cooccurrence_pairs), not an in-task pair walk.

    Semantics are identical to the UNSPLIT fused plan for any
    ``max_turns_per_group`` (test-asserted), and per-task state is bounded
    by block/window density everywhere, so the skew guard no longer trades
    correctness.  Errors quarantine PER TURN (detect row quarantine); with
    ``quarantine_errors=False`` error rows are dropped from the output
    (the in-scan plan would instead fail the job)."""
    from .canon import canonicalize_with_map, components_from_rows
    from .detect import collect_dictionary, detect_mentions
    from .disambig import mayla_conv_freq_filter, mayla_filter
    from .triples import cooccurrence_triples, mention_triples

    rows = collect_dictionary(dictionary)
    raw = detect_mentions(transcripts, dictionary, configs,
                          local_rows=rows).persist()
    if cache_registry is not None:
        cache_registry.append(raw)
    errors = raw.filter(F.col("concept_id") == "__ERROR__")
    ok = raw.filter(F.col("concept_id") != "__ERROR__")
    if mayla:
        if (mayla_freq_scope == "conversation"
                and mayla_concept_freq is not None):
            ok = mayla_conv_freq_filter(
                ok, transcripts, dictionary, mayla_concept_freq,
                mayla_default_freq)
        else:
            ok = mayla_filter(ok, transcripts, dictionary,
                              mayla_concept_freq,
                              default_freq=mayla_default_freq,
                              freq_scope="turn")
    if disambiguate:
        ok = conv_tf_disambiguate(ok)
    concept_col = "concept_id"
    if canonical:
        ok = canonicalize_with_map(ok, components_from_rows(rows))
        concept_col = "canonical_id"
    result = (
        mention_triples(ok, concept_col)
        .unionByName(cooccurrence_triples(ok, cooc_window, concept_col))
        .unionByName(conversation_triples(transcripts))
    )
    if quarantine_errors:
        err_rows = errors.select(
            F.concat(F.lit(CONV_NS), F.col("conv_id")).alias("subj"),
            F.lit(ERROR_PRED).alias("pred"),
            F.col("error").alias("obj"),
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit(None).cast("struct<begin:int,end:int,text:string>")
            .alias("evidence"),
        )
        result = result.unionByName(err_rows)
    return result


def fused_conv_triples(
    transcripts: DataFrame,
    dictionary: DataFrame,
    configs: Optional[dict[str, MatchConfig]] = None,
    cooc_window: int = 3,
    disambiguate: bool = True,
    canonical: bool = True,
    max_turns_per_group: Optional[int] = None,
    quarantine_errors: bool = False,
    cache_registry: Optional[list] = None,
    mayla: bool = False,
    mayla_concept_freq: Optional[int | dict] = None,
    mayla_default_freq: int = 1,
    mayla_freq_scope: str = "turn",
    exact_conv_scores: Optional[bool] = None,
) -> DataFrame:
    """transcripts → full triple set with one shuffle (see module doc).

    ``max_turns_per_group`` is the mega-conversation skew guard (SURVEY.md
    §7 "Skew"): when set (must be >= cooc_window), conversations are split
    into turn-index blocks of that size and the group key becomes
    (conv_id, block), so no single task ever holds more than ~2 blocks of
    turns regardless of how hot a conversation is.  With
    ``disambiguate=False`` co-occurrence parity with the unsplit plan is
    exact (test-asserted): the first ``cooc_window`` turns of each block
    are replicated into the previous block as *ghost* rows (they
    contribute pair partners but no structure/denotes output), every pair
    is counted in the home block of its earlier turn, and the per-block
    pair lists are deduplicated conversation-wide afterwards.

    ``exact_conv_scores`` governs conversation-LEVEL scoring under
    splitting.  Default (None = auto): when ``max_turns_per_group`` is set
    together with ``disambiguate=True`` or conversation-scope Mayla
    frequency, the plan switches to ``_exact_conv_plan`` — side-table
    scoring joined onto a narrow detect scan — whose output is IDENTICAL
    to the unsplit fused plan at any block size (test-asserted), at the
    cost of the banded co-occurrence join instead of the in-task pair
    walk.  ``False`` forces the historical block-local in-scan scoring
    (one shuffle, documented approximation: a span-ambiguous GHOST
    mention may resolve differently per block); ``True`` forces the
    side-table plan even without splitting.
    """
    if mayla_freq_scope not in ("turn", "conversation"):
        raise ValueError(
            f"mayla_freq_scope must be 'turn' or 'conversation', "
            f"got {mayla_freq_scope!r}"
        )
    if max_turns_per_group is not None and max_turns_per_group < cooc_window:
        raise ValueError("max_turns_per_group must be >= cooc_window")
    if exact_conv_scores is None:
        exact_conv_scores = (
            max_turns_per_group is not None
            and (disambiguate
                 or (mayla and mayla_freq_scope == "conversation"
                     and mayla_concept_freq is not None))
        )
    if exact_conv_scores:
        return _exact_conv_plan(
            transcripts, dictionary, configs, cooc_window, disambiguate,
            canonical, quarantine_errors, cache_registry, mayla,
            mayla_concept_freq, mayla_default_freq, mayla_freq_scope,
        )
    spark = transcripts.sparkSession
    rows = collect_dictionary(dictionary)
    tries = build_tries(rows, configs)
    comp_map = components_from_rows(rows) if canonical else {}
    # Mayla precision filter runs INSIDE the per-conversation scan: its
    # inputs (surface casing, in-turn surface frequency, canonical-label
    # equality — MaylaPostProcessingComponent.java:97-125) are all
    # turn-local, so the production one-shuffle plan expresses it without
    # any extra exchange.  The canonical-label map is ontology-sized and
    # rides the existing broadcast.
    # freq_scope='conversation' counts the surface over the WHOLE group's
    # text (the reference's document granularity) — free here because the
    # group IS the conversation; in split mode (exact_conv_scores=False)
    # the count is block-local over the block's own non-ghost turns.
    mayla_cfg = None
    if mayla:
        canon_label: dict = {}
        for r in rows:
            canon_label.setdefault(r["concept_id"], r.get("canonical"))
        mayla_cfg = (mayla_concept_freq, mayla_default_freq, canon_label,
                     mayla_freq_scope == "conversation")
    bc = spark.sparkContext.broadcast((tries, comp_map, mayla_cfg))
    block_size = max_turns_per_group

    def _process_conv(conv_id, block, turns, emit, scanner, comp,
                      mcfg) -> None:
        """One conversation (or block): *turns* is ``[(ti, text, ghost)]``
        already in turn order (the partition is sorted); *emit* appends into
        the CALLING BATCH's shared output columns — no per-conversation
        pandas objects anywhere on this path.

        Structure triples (conv rdf:type, turn partOf, role, tool) are NOT
        emitted here — they are pure column expressions and come from a
        narrow JVM-side plan (``conversation_triples``) unioned after the
        scan.  The Python pass produces only what needs the trie: denotes
        triples and co-occurrence pairs (plus quarantined error rows).
        This also narrows the shuffle: role/tool never leave the scan side.
        """
        # detect per turn through the batch's shared kernel (turn-relative
        # offsets — the per-turn text equality invariant — and turn-local
        # dedup of identical (concept, span) annotations).  Ghost rows
        # (next block's first `cooc_window` turns, replicated here as pair
        # partners) produce NO denotes output.
        mentions: list[tuple[int, str, int, int, str, bool]] = []
        # conversation-scope Mayla frequency text: the group's turns
        # joined in (turn_idx, text) order — identical to the staged
        # mayla_filter(freq_scope='conversation') aggregate when the group
        # IS the conversation.  Under max_turns_per_group (reachable only
        # via exact_conv_scores=False — the auto default routes conv-scope
        # splitting to _exact_conv_plan) the count is block-local over the
        # block's OWN turns: ghost rows are excluded so boundary text is
        # never double-counted.
        conv_text = None
        if mcfg is not None and mcfg[3]:
            conv_text = "\n".join(
                t for _, t, _ in sorted(
                    (ti, text, g) for ti, text, g in turns
                    if not g and not is_null_text(text)
                )
            )
        for ti, text, ghost in turns:
            for ont, cid, b, e, cov in scanner.scan(text):
                # Mayla after turn-local dedup, before TF disambiguation —
                # the staged chain's order (pipeline.build_mentions)
                if mcfg is not None and not mayla_keep_py(
                    cov, conv_text if conv_text is not None else text,
                    ont, mcfg[2].get(cid), mcfg[0], mcfg[1],
                ):
                    continue
                mentions.append((ti, cid, b, e, cov, ghost))

        # conversation-local TF disambiguation: for span-ambiguous mentions
        # keep the concept with the highest conv-level frequency, ties to
        # the smaller id (deterministic; block-local when splitting)
        if disambiguate and mentions:
            tf: dict[str, int] = {}
            for _, cid, _, _, _, _ in mentions:
                tf[cid] = tf.get(cid, 0) + 1
            by_span: dict[tuple[int, int, int], tuple] = {}
            for m in mentions:
                ti, cid, b, e, cov, ghost = m
                k = (ti, b, e)
                best = by_span.get(k)
                if best is None or (-tf[cid], cid) < (-tf[best[1]], best[1]):
                    by_span[k] = m
            mentions = sorted(by_span.values())

        # canonical mapping + denotes triples + windowed co-occurrence
        pair_counts: dict[tuple[str, str], int] = {}
        canon_mentions = []
        for ti, cid, b, e, cov, ghost in mentions:
            ccid = comp.get(cid, cid)
            canon_mentions.append((ti, ccid, b, e, cov, ghost))
            if not ghost:
                emit(f"{CONV_NS}{conv_id}#t{ti}", PRED_DENOTES,
                     _concept_uri(ccid), conv_id, ti, (b, e, cov))
        # co-occurrence: |Δturn| <= window, distinct concepts, each
        # unordered mention pair counted once under (min, max) concept
        # order.  Mentions are turn-sorted, so a forward scan that breaks
        # at Δturn > window is O(n · window-density), not O(n²) — the
        # difference between minutes and seconds on a mega-conversation.
        # When splitting, a pair belongs to the home block of its EARLIER
        # turn — each unordered pair is visible in exactly one group
        # (ghost↔ghost pairs belong to the next block, where both turns
        # are regular rows), so no pair is double-counted.
        canon_mentions.sort(key=lambda m: m[0])
        n = len(canon_mentions)
        for i in range(n):
            ta, ca = canon_mentions[i][0], canon_mentions[i][1]
            if block_size is not None and ta // block_size != block:
                continue  # min(ta, tb) == ta on a sorted scan
            for j in range(i + 1, n):
                tb, cb = canon_mentions[j][0], canon_mentions[j][1]
                if tb - ta > cooc_window:
                    break
                if ca == cb:
                    continue
                key = (ca, cb) if ca < cb else (cb, ca)
                pair_counts[key] = pair_counts.get(key, 0) + 1
        for (ca, cb), _cnt in sorted(pair_counts.items()):
            emit(_concept_uri(ca), PRED_COOCCURS, _concept_uri(cb), conv_id)

    _OUT_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx",
                 "ev_begin", "ev_end", "ev_text")

    def scan_partition(batches):
        """Per-PARTITION harness: one Python call AND one output DataFrame
        per Arrow batch, not per conversation.  ``groupBy(conv)
        .applyInPandas`` invokes Python once per GROUP — one pandas frame
        per conversation, which dominates runtime on many-short-
        conversation corpora.  Data arrives repartitioned by the group key
        and sorted within the partition, so groups are contiguous row
        runs; a plain walk over the batch's column arrays slices them with
        zero pandas machinery, and the only carry between batches is the
        (possibly incomplete) LAST group — bounded by one conversation
        (one block in split mode)."""
        tries_l, comp, mcfg = bc.value
        pending_key = None
        pending_turns: list = []

        def make_emit(out):
            def emit(subj, pred, obj, conv_id, turn_idx=None,
                     ev=(None, None, None)):
                out["subj"].append(subj)
                out["pred"].append(pred)
                out["obj"].append(obj)
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn_idx)
                out["ev_begin"].append(ev[0])
                out["ev_end"].append(ev[1])
                out["ev_text"].append(ev[2])
            return emit

        def process(key, turns, emit):
            conv_id, block = key
            try:
                _process_conv(conv_id, int(block), turns, emit,
                              scanner, comp, mcfg)
            except Exception as exc:
                if not quarantine_errors:
                    raise
                # per-conversation quarantine (the reference records
                # per-doc errors in its run catalog,
                # RunCatalogAE.java:107-112): one ERROR_PRED row instead
                # of a failed task; kgpipe.pipeline's lineage integration
                # turns it into an ERROR lineage bucket
                emit(CONV_NS + conv_id, ERROR_PRED,
                     f"{type(exc).__name__}: {exc}", conv_id)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # one kernel (so one normalizer memo) per Arrow batch
            scanner = TurnScanner(tries_l)
            out = {k: [] for k in _OUT_COLS}
            emit = make_emit(out)
            conv_a = pdf["conv_id"].to_numpy()
            block_a = pdf["block"].to_numpy()
            ti_a = pdf["turn_idx"].to_numpy()
            text_a = pdf["text"].to_numpy()
            ghost_a = pdf["is_ghost"].to_numpy()
            cur_key, cur_turns = pending_key, pending_turns
            for i in range(n):
                key = (conv_a[i], block_a[i])
                if key != cur_key:
                    if cur_key is not None:
                        process(cur_key, cur_turns, emit)
                    cur_key, cur_turns = key, []
                cur_turns.append((int(ti_a[i]), text_a[i], bool(ghost_a[i])))
            pending_key, pending_turns = cur_key, cur_turns
            if out["subj"]:
                yield pd.DataFrame(out)
        if pending_key is not None:  # flush the partition's last group
            out = {k: [] for k in _OUT_COLS}
            process(pending_key, pending_turns, make_emit(out))
            if out["subj"]:
                yield pd.DataFrame(out)

    base = transcripts.select("conv_id", "turn_idx", "text")
    # explicit partition count: a bare repartition("conv_id") is an AQE
    # coalescing target — on a text-light corpus it collapses to one or two
    # ~64MB partitions and SERIALIZES the Python scan stage (measured: 2→8
    # core efficiency fell from ≥0.9 to 0.73).  The Python cost per byte is
    # far higher than a shuffle-read's, so partition count must track CPU,
    # not bytes.
    from .session import cpu_partition_count

    n_parts = cpu_partition_count(transcripts.sparkSession)
    if block_size is None:
        keyed = base.withColumn("block", F.lit(0)).withColumn(
            "is_ghost", F.lit(False)
        )
        flat = (
            keyed.repartition(n_parts, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx")
            .mapInPandas(scan_partition, schema=_FLAT_SCHEMA)
        )
    else:
        keyed = base.withColumn(
            "block", F.floor(F.col("turn_idx") / block_size).cast("int")
        ).withColumn("is_ghost", F.lit(False))
        ghosts = (
            keyed.filter(
                (F.col("turn_idx") % block_size < cooc_window)
                & (F.col("block") > 0)
            )
            .withColumn("block", F.col("block") - 1)
            .withColumn("is_ghost", F.lit(True))
        )
        grouped = (
            keyed.unionByName(ghosts)
            .repartition(n_parts, "conv_id", "block")
            .sortWithinPartitions("conv_id", "block", "turn_idx")
            .mapInPandas(scan_partition, schema=_FLAT_SCHEMA)
        ).persist()
        # only the (conv, pair) co-occurrence triples can surface from
        # several blocks (with IDENTICAL rows — turn_idx/evidence null);
        # every other row kind is emitted exactly once per group, including
        # legitimately duplicated denotes rows (two concepts canonicalizing
        # to one component at the same span), which a full-row
        # dropDuplicates would wrongly collapse.  Persisting the grouped
        # output lets the two slices read the Python stage once while only
        # the (small) cooc slice pays a dedup shuffle — at scale this is
        # local storage ≈ output bytes instead of a full output shuffle.
        cooc = grouped.filter(F.col("pred") == PRED_COOCCURS).dropDuplicates()
        flat = grouped.filter(F.col("pred") != PRED_COOCCURS).unionByName(cooc)
    result = flat.select(
        "subj", "pred", "obj", "conv_id", "turn_idx",
        F.when(
            F.col("ev_begin").isNotNull(),
            F.struct(
                F.col("ev_begin").alias("begin"),
                F.col("ev_end").alias("end"),
                F.col("ev_text").alias("text"),
            ),
        ).alias("evidence"),
    ).unionByName(
        # structure triples (conv rdf:type, turn partOf, role, tool) from a
        # narrow JVM plan over the original transcripts — column
        # expressions, no Python, and identical to the staged path's
        # conversation_triples (including for conversations whose detect
        # quarantined: structure survives, matching staged error semantics)
        conversation_triples(transcripts)
    )
    if block_size is not None:
        # split mode persists the mapInPandas output (see above); hand the
        # cached frame to the caller for release after its terminal action.
        # Callers that can't pass *cache_registry* still find it on the
        # returned frame — but any transformation drops that attribute, so
        # the registry is the supported protocol (kgpipe.pipeline uses it).
        if cache_registry is not None:
            cache_registry.append(grouped)
        result._kgpipe_persisted = grouped  # type: ignore[attr-defined]
    return result
